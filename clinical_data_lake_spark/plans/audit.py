"""Plan auditing — the scale-hygiene checks the test suite's plan
locks apply to individual operators, packaged as a reusable inspector
for ANY DataFrame before it ships to a big cluster.

Usage::

    from clinical_data_lake_spark.plans import audit_plan
    for f in audit_plan(df):
        print(f.severity, f.rule, f.detail)

The rules encode this package's design invariants:

- ``single-partition-window``: a Window with no PARTITION BY funnels
  every row through one task (the classic 100 TB OOM). Bounded
  side-tables are fine — the audit can't know cardinalities, so it
  reports and lets the caller waive.
- ``python-row-udf``: BatchEvalPython = row-at-a-time Python in the
  hot path; use built-ins or Arrow-batched pandas UDFs.
- ``cartesian``: CartesianProduct / unconditioned
  BroadcastNestedLoopJoin joins that aren't the 1-row broadcast-scalar
  idiom.
- ``no-pushed-filters``: a parquet scan whose filters did not reach
  the reader (full-file decode for a filtered query).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class Finding:
    rule: str
    severity: str  # "warn" | "info"
    detail: str


def _plan_str(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def audit_plan(df: DataFrame) -> list[Finding]:
    """Inspect the executed plan and return scale-hygiene findings
    (empty list = nothing suspicious). Purely driver-side string
    analysis of the physical plan — triggers no jobs."""
    plan = _plan_str(df)
    out: list[Finding] = []

    for line in plan.splitlines():
        s = line.strip().lstrip(":+- ")
        if s.startswith("Window ") and "windowspecdefinition(" in s:
            # a partitioned spec lists partition exprs before the
            # ORDER-BY exprs; the giveaway for global windows is the
            # spec starting with an ordering (ASC/DESC) or frame only
            inner = s.split("windowspecdefinition(", 1)[1]
            head = inner.split(",", 1)[0]
            if " ASC" in head or " DESC" in head or head.startswith("specifiedwindowframe"):
                out.append(Finding(
                    "single-partition-window", "warn",
                    "Window with no PARTITION BY — every row through one "
                    "task; fine only for bounded side-tables: " + s[:120],
                ))

    if "BatchEvalPython" in plan:
        out.append(Finding(
            "python-row-udf", "warn",
            "row-at-a-time Python UDF in the plan; use built-ins or a "
            "pandas (Arrow) UDF",
        ))

    if "CartesianProduct" in plan:
        out.append(Finding(
            "cartesian", "warn", "CartesianProduct join — O(|L| x |R|)",
        ))
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line and "Cross" in line:
            out.append(Finding(
                "cartesian", "info",
                "cross BroadcastNestedLoopJoin — the 1-row broadcast-scalar "
                "idiom is fine; anything larger is not: " + line.strip()[:120],
            ))
            break

    for line in plan.splitlines():
        if "PushedFilters: []" in line:
            out.append(Finding(
                "no-pushed-filters", "info",
                "parquet scan with no pushed filters (expected for "
                "unfiltered scans; a red flag under a Filter node)",
            ))
            break

    return out


def explain_findings(df: DataFrame) -> str:
    """Human-readable audit summary (empty string = clean)."""
    return "\n".join(f"[{f.severity}] {f.rule}: {f.detail}" for f in audit_plan(df))


def plan_stats(df: DataFrame) -> dict:
    """Count the scale-relevant physical-plan features — the numeric
    companion of ``audit_plan``'s rule findings, for CI perf gates
    that pin a plan's SHAPE ("this join must stay 0-Exchange",
    "codegen must cover the aggregation") instead of its wall-clock:

        {n_exchanges, n_single_partition_exchanges, n_broadcast_joins,
         n_sort_merge_joins, n_shuffled_hash_joins, n_cartesian,
         n_python_eval, n_codegen_spans, n_scans, pushed_filter_scans}

    Purely driver-side string analysis of the executed plan — triggers
    no jobs. Counts are of plan NODES (an adaptively reused exchange
    counts once per appearance). Under AQE, codegen spans exist only
    once THIS DataFrame has executed (the final plan is decided at
    runtime); gate on n_codegen_spans only after an action on the same
    frame. A finalized AQE string carries both Final and Initial
    plans — only the Final section is counted.
    """
    plan = _plan_str(df)
    if "== Final Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    stats = {
        "n_exchanges": 0,
        "n_single_partition_exchanges": 0,
        "n_broadcast_joins": 0,
        "n_sort_merge_joins": 0,
        "n_shuffled_hash_joins": 0,
        "n_cartesian": 0,
        "n_python_eval": 0,
        "n_codegen_spans": 0,
        "n_scans": 0,
        "pushed_filter_scans": 0,
    }
    seen_spans: set[str] = set()
    for line in plan.splitlines():
        s = line.strip().lstrip(":+- *()0123456789")
        raw = line.strip()
        if raw.lstrip(":+- ").startswith("Exchange"):
            stats["n_exchanges"] += 1
            if "SinglePartition" in raw:
                stats["n_single_partition_exchanges"] += 1
        if s.startswith("BroadcastHashJoin") or s.startswith(
            "BroadcastNestedLoopJoin"
        ):
            stats["n_broadcast_joins"] += 1
        if s.startswith("SortMergeJoin"):
            stats["n_sort_merge_joins"] += 1
        if s.startswith("ShuffledHashJoin"):
            stats["n_shuffled_hash_joins"] += 1
        if s.startswith("CartesianProduct"):
            stats["n_cartesian"] += 1
        if s.startswith("BatchEvalPython") or s.startswith("ArrowEvalPython"):
            stats["n_python_eval"] += 1
        # executedPlan().toString() marks codegen'd operators with a
        # "*(N)" prefix (N = the whole-stage span id); explain
        # "formatted" spells WholeStageCodegen out — accept both
        node = raw.lstrip(":+- ")
        if node.startswith("*("):
            seen_spans.add(node[2:].split(")", 1)[0])
        if "WholeStageCodegen (" in line:
            span = line.split("WholeStageCodegen (", 1)[1].split(")", 1)[0]
            seen_spans.add(span)
        if s.startswith("FileScan") or s.startswith("Scan "):
            stats["n_scans"] += 1
    # PushedFilters prints inside each FileScan node's (possibly very
    # long) attribute list; inspect each scan's own chunk of the text
    for chunk in plan.split("FileScan")[1:]:
        head = chunk.split("FileScan")[0]
        marker = "PushedFilters: ["
        i = head.find(marker)
        if i >= 0 and not head[i + len(marker):].lstrip().startswith("]"):
            stats["pushed_filter_scans"] += 1
    stats["n_codegen_spans"] = len(seen_spans)
    return stats
