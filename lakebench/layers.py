"""Per-layer metrics: names, units, and how each is derived from spans.

Span-derived metrics take, for every operation (request) of the traced
loop, the sum over the spans of one name inside it, and report the
median over the operations that contain that span. Engine counters come
from the Spark event log, inclusive of child spans. A metric of a layer
that a workload does not exercise reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from . import stats

# dashboard request types and the span that times each of them
REQUEST_SPANS = {
    "top_k": "operators.sorts.top_k_by_count",
    "comorbidity": "operators.cohort.comorbidity_topk",
    "chisq": "ml.stats.chisq_2x2",
    "case_control": "operators.cohort.case_control_cohort",
    "zip_lookup": "io.zip_date_lookup",
}

OP_COUNTERS = ("tasks", "jobs", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "input_records", "output_bytes", "scheduler_delay_s", "failed_tasks")

_COUNTER_UNITS = {"tasks": "count", "jobs": "count", "failed_tasks": "count",
                  "input_records": "count"}

# (metric name, span name, kind, unit); kind is "s" / "ms" (summed span
# duration), "self_s", "count:<key>" (counts a span recorded) or
# "engine:<counter>"
SPAN_METRICS: list[tuple[str, str, str, str]] = [
    ("io.read_csv_dir.s", "io.read_csv_dir", "s", "s"),
    ("io.write_table.s", "io.write_table", "s", "s"),
    ("io.write_table.output_bytes", "io.write_table", "engine:output_bytes", "bytes"),
    ("io.write_table.output_files", "io.write_table", "count:files", "count"),
    ("functions.scalar.deidentify.s", "functions.scalar.deidentify", "s", "s"),
    ("operators.joins.denormalize.s", "operators.joins.denormalize", "s", "s"),
    ("operators.joins.denormalize.shuffle_write_bytes", "operators.joins.denormalize",
     "engine:shuffle_write_bytes", "bytes"),
    ("catalog.register_external_table.s", "catalog.register_external_table", "s", "s"),
    ("catalog.optimize_table.s", "catalog.optimize_table", "s", "s"),
    ("catalog.optimize_table.bytes_rewritten", "catalog.optimize_table",
     "engine:output_bytes", "bytes"),
    ("catalog.optimize_table.files_after", "catalog.optimize_table", "count:files", "count"),
    ("etl.run_etl.s", "etl.run_etl", "s", "s"),
    ("etl.run_etl.self_s", "etl.run_etl", "self_s", "s"),
    ("etl.run_etl.gc_s", "etl.run_etl", "engine:gc_s", "s"),
    ("etl.run_etl.spill_bytes", "etl.run_etl", "engine:spill_bytes", "bytes"),
    ("io.zip_date_lookup.ms", "io.zip_date_lookup", "ms", "ms"),
    ("io.zip_date_lookup.input_records", "io.zip_date_lookup", "engine:input_records", "count"),
    ("operators.sorts.top_k_by_count.ms", "operators.sorts.top_k_by_count", "ms", "ms"),
    ("operators.cohort.comorbidity_topk.ms", "operators.cohort.comorbidity_topk", "ms", "ms"),
    ("operators.cohort.case_control_cohort.ms", "operators.cohort.case_control_cohort",
     "ms", "ms"),
    ("ml.stats.chisq_2x2.ms", "ml.stats.chisq_2x2", "ms", "ms"),
    ("operators.caching.release_persisted.count", "operators.caching.release_persisted",
     "count:released", "count"),
    ("llm.dedup.exact_dedup_groups.s", "llm.dedup.exact_dedup_groups", "s", "s"),
    ("llm.dedup.minhash_lsh_pairs.s", "llm.dedup.minhash_lsh_pairs", "s", "s"),
    ("llm.dedup.minhash_lsh_pairs.shuffle_write_bytes", "llm.dedup.minhash_lsh_pairs",
     "engine:shuffle_write_bytes", "bytes"),
    ("llm.dedup.verified_near_dup_pairs.s", "llm.dedup.verified_near_dup_pairs", "s", "s"),
    ("llm.dedup.dup_clusters.s", "llm.dedup.dup_clusters", "s", "s"),
    ("llm.dedup.dup_clusters.gc_s", "llm.dedup.dup_clusters", "engine:gc_s", "s"),
    ("llm.dedup.candidate_pairs", "llm.dedup.minhash_lsh_pairs", "count:rows", "count"),
    ("llm.dedup.verified_pairs", "llm.dedup.verified_near_dup_pairs", "count:rows", "count"),
    ("llm.similarity.cosine_topk.s", "llm.similarity.cosine_topk", "s", "s"),
    ("llm.corpus.prepare_pretraining_data.s", "llm.corpus.prepare_pretraining_data", "s", "s"),
]
for _t, _span in REQUEST_SPANS.items():
    SPAN_METRICS += [
        (f"plans.plan_ms.{_t}", f"plans.plan.{_t}", "ms", "ms"),
        (f"{_span}.tasks", _span, "engine:tasks", "count"),
        (f"{_span}.scheduler_delay_s", _span, "engine:scheduler_delay_s", "s"),
    ]
SPAN_METRICS += [(f"op.{c}", "op", f"engine:{c}", _COUNTER_UNITS.get(c, "bytes" if
                  c.endswith("_bytes") else "s")) for c in OP_COUNTERS]

# metrics a workload or the runner computes itself
OTHER_METRICS: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("peak_rss_mb", "MB"),
    ("failed_ops_ratio", "ratio"),
    ("trace.overhead_ratio", "ratio"),
    ("io.lake_bytes_per_input_byte", "ratio"),
    ("io.rows_examined_per_result_row", "ratio"),
    ("io.files_read_per_lookup", "count"),
    ("llm.dedup.lsh_precision", "ratio"),
] + [(f"plans.audit_plan.findings.{t}", "count") for t in REQUEST_SPANS]

UNITS: dict[str, str] = {m: u for m, _, _, u in SPAN_METRICS}
UNITS.update(OTHER_METRICS)


def _inclusive(tracer, counters: dict) -> dict[int, dict[str, float]]:
    """Engine counters per span, including its descendants' jobs."""
    out = {s.id: dict(counters.get(s.group, {})) for s in tracer.spans}
    # a child is appended after its parent, so walking backwards folds
    # every descendant into a span before the span folds into its parent
    for s in reversed(tracer.spans):
        if s.parent is not None:
            parent = out[s.parent]
            for k, v in out[s.id].items():
                parent[k] = parent.get(k, 0) + v
    return out


def _value(tracer, s, kind: str, incl) -> float:
    if kind == "s":
        return s.dur
    if kind == "ms":
        return s.dur * 1e3
    if kind == "self_s":
        return tracer.self_time(s)
    if kind.startswith("count:"):
        return float((s.counts or {}).get(kind[6:], 0))
    return float(incl[s.id].get(kind[7:], 0))


def compute(tracer, counters: dict) -> dict[str, float]:
    incl = _inclusive(tracer, counters)
    by_name = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)
    values: dict[str, float] = {}
    for metric, span, kind, _ in SPAN_METRICS:
        per_req: dict[int, float] = defaultdict(float)
        for s in by_name.get(span, []):
            per_req[s.request] += _value(tracer, s, kind, incl)
        values[metric] = stats.median(list(per_req.values()))
    return values


def render(values: dict[str, float]) -> dict[str, dict]:
    """Every registered per-layer metric, 0 where the run had none."""
    return {m: {"value": float(values.get(m, 0.0)), "unit": u} for m, u in UNITS.items()}
