"""rwe_dashboard — the lake's write path, then one analyst at a
dashboard (01-rwe-dashboard.r).

Set-up loads the seeded raw CSVs through the program's composed ETL
(``workloads.lake``: read, de-identify, write, denormalize, register,
OPTIMIZE with the reference's Z-order columns), so the write cost —
Z-order clustering included — is part of this workload's set-up time.
The measured loop is a closed loop with one client: one operation is a
dashboard refresh, the five panels below run one after another, each
collected as the dashboard displays it, and the next refresh starts
when the last panel is in:

    top_k        operators.sorts.top_k_by_count, random k
    comorbidity  operators.cohort.comorbidity_topk for the index condition
    chisq        ml.stats.chisq_2x2, index condition x the next condition
    case_control operators.cohort.case_control_cohort for the index condition
    zip_lookup   ZIP range x START_TIME window on the Z-ordered fact table

Short read-only queries that repeat scans of the same tables: per-query
planning and scheduling, file pruning and any scan caching show here,
and no write does. Every collected response is compared with a DuckDB
query over the same parquet after the timed loop.
"""

from __future__ import annotations

import datetime as dt
import math
import sys
import time

from .. import gen, stats
from ..layers import REQUEST_SPANS
from . import common, lake

N_PATIENTS = 1000
TYPES = ("top_k", "comorbidity", "chisq", "case_control", "zip_lookup")
_LOOKUP_COLS = ("Enc_Id", "PATIENT", "REASONDESCRIPTION")
_DAY0 = dt.date(2010, 1, 1)


def _refresh_params(rng, n: int, zip_range) -> dict[str, dict]:
    """Parameters of the ``n``-th dashboard refresh. The analyst's index
    condition walks the chronic conditions in a fixed order (every run
    sees the same conditions, whose cohort sizes drive panel cost); k and
    the lookup window are drawn from the seeded ``rng``."""
    c = gen.CHRONIC[n % len(gen.CHRONIC)]
    other = gen.CHRONIC[(n + 1) % len(gen.CHRONIC)]
    z0 = rng.randint(zip_range[0], zip_range[1] - 10)
    d0 = _DAY0 + dt.timedelta(days=rng.randint(0, 3900))
    return {
        "top_k": {"k": rng.randint(3, 20)},
        "comorbidity": {"index": c},
        "chisq": {"a": c, "b": other},
        "case_control": {"index": c},
        "zip_lookup": {"zip_lo": z0, "zip_hi": z0 + 10, "t_lo": f"{d0} 00:00:00",
                       "t_hi": f"{d0 + dt.timedelta(days=90)} 00:00:00"},
    }


def _request(spark, kind: str, p: dict):
    """The panel's DataFrame, built through the program's operators."""
    from pyspark.sql import functions as F

    from clinical_data_lake_spark.ml import stats as ml_stats
    from clinical_data_lake_spark.operators import cohort, filters, sorts

    pe = spark.table(f"{lake.DATABASE}.patient_encounters")
    if kind == "top_k":
        return sorts.top_k_by_count(pe.filter(F.col("REASONDESCRIPTION").isNotNull()),
                                    ["REASONDESCRIPTION"], p["k"])
    if kind == "comorbidity":
        return cohort.comorbidity_topk(pe, "PATIENT", "REASONDESCRIPTION", p["index"], 10)
    patients = spark.table(f"{lake.DATABASE}.patients")
    if kind == "chisq":
        ids = [pe.filter(filters.contains_ci("REASONDESCRIPTION", p[c])).select("PATIENT")
               for c in ("a", "b")]
        return ml_stats.chisq_2x2(patients, "PATIENT", ids[0], ids[1])
    if kind == "case_control":
        return cohort.case_control_cohort(patients.select("PATIENT"), "PATIENT", pe,
                                          "PATIENT", "REASONDESCRIPTION", p["index"])
    return pe.filter(
        F.col("ZIP").between(p["zip_lo"], p["zip_hi"])
        & F.col("START_TIME").between(F.lit(p["t_lo"]).cast("timestamp"),
                                      F.lit(p["t_hi"]).cast("timestamp"))
    ).select(*_LOOKUP_COLS)


def _canon(kind: str, rows) -> list:
    rows = [tuple(r) for r in rows]
    if kind in ("case_control", "zip_lookup"):
        return sorted(rows, key=lambda r: r[0])
    return rows  # ordered results: order is part of the answer


def _scan_metrics(df) -> tuple[int, int]:
    """(files read, rows scanned) summed over the file scans of an
    executed plan, final adaptive plan included."""
    files = rows = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            metrics = node.metrics()
            files += int(metrics.apply("numFiles").value())
            rows += int(metrics.apply("numOutputRows").value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return files, rows


class RweDashboard:
    name = "rwe_dashboard"
    # refresh latency keeps falling for ~10 refreshes after the first as
    # the JIT catches up (2.6 s -> 1.6 s on a 4-core host)
    warmup_ops = 8

    def generate(self, ctx) -> dict:
        return gen.generate_clinical(ctx.inputs, ctx.seed, N_PATIENTS)

    def prepare(self, ctx) -> None:
        gen.write_manifest(ctx.work, ctx.manifest)
        t0 = time.perf_counter()
        ctx.state.update(paths=lake.load(ctx), records=[], lookups=[], audit={}, panels=[],
                         refreshes=0, etl_s=time.perf_counter() - t0)
        if ctx.trace:
            # the traced run also times a second, warm load, span by span
            ctx.tracer.enabled = True
            ctx.tracer.new_request()
            ctx.state["paths"] = lake.traced_load(ctx)
            ctx.tracer.enabled = False

    def _run(self, ctx, kind: str, p: dict) -> None:
        from clinical_data_lake_spark.plans.audit import audit_plan

        tr = ctx.tracer
        with tr.span(REQUEST_SPANS[kind]):
            df = _request(ctx.spark, kind, p)
            with tr.span(f"plans.plan.{kind}"):
                if tr.enabled:
                    df._jdf.queryExecution().executedPlan()
            rows = df.collect()
        if tr.enabled:
            ctx.state["audit"].setdefault(kind, len(audit_plan(df)))
            if kind == "zip_lookup":
                ctx.state["lookups"].append(_scan_metrics(df) + (len(rows),))
        ctx.state["records"].append((ctx.op_index, kind, p, _canon(kind, rows)))

    def op(self, ctx) -> None:
        """One dashboard refresh: every panel, in order, each collected."""
        params = _refresh_params(ctx.rng, ctx.state["refreshes"], ctx.manifest["zip_range"])
        ctx.state["refreshes"] += 1
        for kind in TYPES:
            t0 = time.perf_counter()
            self._run(ctx, kind, params[kind])
            ctx.state["panels"].append((ctx.op_index, time.perf_counter() - t0))

    def check(self, ctx) -> list[int]:
        """Every collected panel against the same query in DuckDB over
        the lake's parquet; then the lake itself (``lake.check``)."""
        con = common.duck()
        paths = ctx.state["paths"]
        for table in ("patients", "patient_encounters"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM {common.scan(paths[table])}")
        failed, memo = [], {}
        for op_index, kind, p, got in ctx.state["records"]:
            key = (kind, tuple(sorted(p.items())))
            if key not in memo:
                memo[key] = _expected(con, kind, p)
            if not _same(kind, got, memo[key]):
                print(f"rwe_dashboard check failed: {kind} {p}: {got[:5]} != {memo[key][:5]}",
                      file=sys.stderr)
                failed.append(op_index)
        problems = lake.check(ctx, paths)
        for msg in problems:
            print("rwe_dashboard lake check failed:", msg, file=sys.stderr)
        return failed + ([-1] if problems else [])

    def detail(self, ctx, lat) -> dict:
        m = ctx.manifest
        panels = [t * 1e3 for i, t in ctx.state["panels"] if i > 0]
        return {
            "input_rows": m["input_rows"], "input_bytes": m["input_bytes"], "rows": m["rows"],
            "etl_rows_per_s": m["input_rows"] / ctx.state["etl_s"],
            "lake_bytes_per_input_byte": lake.lake_bytes(ctx.state["paths"]) / m["input_bytes"],
            "clients": 1, "panels_per_refresh": len(TYPES),
            "query_p50_ms": stats.median(panels),
            "query_tail_ms": stats.tail(panels),
            "queries_per_s": len(panels) / (sum(panels) / 1e3) if panels else 0.0,
        }

    def layer_metrics(self, ctx) -> dict:
        out = {f"plans.audit_plan.findings.{k}": float(v) for k, v in ctx.state["audit"].items()}
        looks = ctx.state["lookups"]
        if looks:
            out["io.files_read_per_lookup"] = stats.median([f for f, _, _ in looks])
            out["io.rows_examined_per_result_row"] = (
                sum(r for _, r, _ in looks) / max(1, sum(n for _, _, n in looks)))
        out["io.lake_bytes_per_input_byte"] = (
            lake.lake_bytes(ctx.state["paths"]) / ctx.manifest["input_bytes"])
        return out


def _contains(col: str, needle: str) -> str:
    return f"contains(lower({col}), '{needle.lower()}')"


def _expected(con, kind: str, p: dict) -> list:
    """The same panel as a DuckDB query over the lake's parquet."""
    if kind == "top_k":
        rows = con.execute(
            "SELECT REASONDESCRIPTION, count(*) AS cnt FROM patient_encounters "
            "WHERE REASONDESCRIPTION IS NOT NULL GROUP BY 1 ORDER BY cnt DESC, 1 ASC "
            f"LIMIT {p['k']}").fetchall()
    elif kind == "comorbidity":
        idx = _contains("REASONDESCRIPTION", p["index"])
        rows = con.execute(
            "WITH cohort AS (SELECT DISTINCT PATIENT FROM patient_encounters "
            f"WHERE {idx}), pairs AS (SELECT DISTINCT PATIENT, REASONDESCRIPTION "
            "FROM patient_encounters WHERE PATIENT IN (SELECT PATIENT FROM cohort) "
            f"AND REASONDESCRIPTION IS NOT NULL AND NOT {idx}) "
            "SELECT REASONDESCRIPTION, count(*) AS cnt FROM pairs GROUP BY 1 "
            "ORDER BY cnt DESC, 1 ASC LIMIT 10").fetchall()
    elif kind == "chisq":
        a, b = (_contains("REASONDESCRIPTION", p[c]) for c in ("a", "b"))
        n11, n10, n01, n00 = con.execute(
            f"WITH fa AS (SELECT DISTINCT PATIENT FROM patient_encounters WHERE {a}), "
            f"fb AS (SELECT DISTINCT PATIENT FROM patient_encounters WHERE {b}), "
            "f AS (SELECT p.PATIENT, fa.PATIENT IS NOT NULL AS x, fb.PATIENT IS NOT NULL AS y "
            "FROM patients p LEFT JOIN fa USING (PATIENT) LEFT JOIN fb USING (PATIENT)) "
            "SELECT sum((x AND y)::BIGINT), sum((x AND NOT y)::BIGINT), "
            "sum((NOT x AND y)::BIGINT), sum((NOT x AND NOT y)::BIGINT) FROM f").fetchone()
        n = n11 + n10 + n01 + n00
        denom = (n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00)
        chi2 = n * (n11 * n00 - n10 * n01) ** 2 / denom if denom else 0.0
        rows = [(n11, n10, n01, n00, chi2)]
    elif kind == "case_control":
        idx = _contains("REASONDESCRIPTION", p["index"])
        cases = [r[0] for r in con.execute(
            f"SELECT DISTINCT PATIENT FROM patient_encounters WHERE {idx}").fetchall()]
        controls = [r[0] for r in con.execute(
            "SELECT PATIENT FROM patients WHERE PATIENT NOT IN "
            f"(SELECT PATIENT FROM patient_encounters WHERE {idx}) "
            f"ORDER BY PATIENT LIMIT {len(cases)}").fetchall()]
        rows = [(c, 1) for c in cases] + [(c, 0) for c in controls]
    else:
        cols = ", ".join(_LOOKUP_COLS)
        rows = con.execute(
            f"SELECT {cols} FROM patient_encounters WHERE ZIP BETWEEN {p['zip_lo']} AND "
            f"{p['zip_hi']} AND START_TIME BETWEEN TIMESTAMP '{p['t_lo']}' "
            f"AND TIMESTAMP '{p['t_hi']}'").fetchall()
    return _canon(kind, rows)


def _same(kind: str, got: list, want: list) -> bool:
    if kind != "chisq":
        return got == want
    (g, w) = (got[0], want[0])
    return g[:4] == w[:4] and math.isclose(g[4], w[4], rel_tol=1e-9, abs_tol=1e-12)


WORKLOAD = RweDashboard()
