"""Distributed statistics — the chi-square test of association (M5).

The reference computes it by collecting the full patient table into the
R driver and calling ``chisq.test`` (01-rwe-dashboard.r:110-124) — a
driver OOM at any real scale. Here the contingency table is built with
a distributed group-count (4 rows leave the cluster, not N), and:

- ``chisq_2x2`` emits the closed-form Pearson statistic as pure column
  arithmetic — fully SQL-expressible, so the driver oracle can verify
  the value bit-for-bit;
- ``chisq_association`` wraps ``pyspark.ml.stat.ChiSquareTest`` for the
  general (vector-features) case with p-values;
- ``pvalue_1dof`` converts a 1-dof statistic to a p-value driver-side
  (erfc closed form — operates on the single reduced row, not data).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.caching import ensure_parallelism
from ..operators.windows import bucketed_prefix_sums, range_buckets


def cooccurrence_flags(
    entities: DataFrame,
    entity_col: str,
    a_ids: DataFrame,
    b_ids: DataFrame,
) -> DataFrame:
    """(entity, flag_a, flag_b) — the dashboard's condition co-occurrence
    table (01-rwe-dashboard.r:103-110) via two left joins + ifnull,
    restated as left-semi-style flag joins. ``a_ids``/``b_ids`` are
    1-column DataFrames of entity ids with the condition."""
    a = a_ids.select(F.col(a_ids.columns[0]).alias(entity_col)).distinct() \
        .withColumn("flag_a", F.lit(1))
    b = b_ids.select(F.col(b_ids.columns[0]).alias(entity_col)).distinct() \
        .withColumn("flag_b", F.lit(1))
    return (
        entities.select(entity_col)
        .join(a, on=entity_col, how="left")
        .join(b, on=entity_col, how="left")
        .select(
            entity_col,
            F.coalesce("flag_a", F.lit(0)).alias("flag_a"),
            F.coalesce("flag_b", F.lit(0)).alias("flag_b"),
        )
    )


def chisq_2x2(
    entities: DataFrame,
    entity_col: str,
    a_ids: DataFrame,
    b_ids: DataFrame,
    yates: bool = False,
) -> DataFrame:
    """1-row (n_11, n_10, n_01, n_00, chi2) — distributed 2x2 Pearson
    chi-square (replaces 01-rwe-dashboard.r:114-117).

    chi2 = N(ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)); ``yates`` applies the
    continuity correction (R's chisq.test default for 2x2). Everything
    up to the 4 cell counts is a distributed group-count; the statistic
    is column arithmetic on one row.
    """
    flags = cooccurrence_flags(entities, entity_col, a_ids, b_ids)
    cells = flags.agg(
        F.sum(((F.col("flag_a") == 1) & (F.col("flag_b") == 1)).cast("long")).alias("n_11"),
        F.sum(((F.col("flag_a") == 1) & (F.col("flag_b") == 0)).cast("long")).alias("n_10"),
        F.sum(((F.col("flag_a") == 0) & (F.col("flag_b") == 1)).cast("long")).alias("n_01"),
        F.sum(((F.col("flag_a") == 0) & (F.col("flag_b") == 0)).cast("long")).alias("n_00"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in ("n_11", "n_10", "n_01", "n_00"))
    n = a + b + c + d
    diff = F.abs(a * d - b * c)
    if yates:
        diff = F.greatest(diff - n / 2, F.lit(0.0))
    denom = (a + b) * (c + d) * (a + c) * (b + d)
    # a zero marginal (a flag constant across all entities) makes the
    # table degenerate: no variation to associate => chi2 = 0. The
    # guard also keeps the expression ANSI-safe (no divide-by-zero).
    chi2 = F.when(denom > 0, (n * diff * diff) / denom).otherwise(F.lit(0.0))
    return cells.select("n_11", "n_10", "n_01", "n_00", chi2.alias("chi2"))


def pvalue_1dof(chi2: float) -> float:
    """P(X >= chi2) for chi-square with 1 dof: erfc(sqrt(x/2))."""
    return math.erfc(math.sqrt(chi2 / 2.0))


def chisq_association(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
) -> DataFrame:
    """M5 general form — ``pyspark.ml.stat.ChiSquareTest`` over assembled
    features: one row with pValues / degreesOfFreedom / statistics
    arrays. Fully distributed (contingency built cluster-side)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import ChiSquareTest

    va = VectorAssembler(inputCols=list(feature_cols), outputCol="__features__",
                         handleInvalid="skip")
    assembled = va.transform(df)
    return ChiSquareTest.test(assembled, "__features__", label_col)


def population_stability(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    n_bins: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Population Stability Index per bin — the standard
    feature/score drift monitor between a training snapshot and live
    data: bin the baseline into equal-population deciles, re-bin the
    current data with the SAME edges, and score the frequency shift

        psi_term = (q - p) * ln(q / p)      (sum over bins = PSI)

    with Laplace-smoothed frequencies ``(cnt + 0.5)/(N + n_bins/2)``
    so empty bins are well-defined without epsilon-clamping ambiguity.
    Rule of thumb: PSI < 0.1 stable, 0.1-0.25 shifting, > 0.25 drifted.

    Plan shape: the edge list is ONE 1-row exact-percentile aggregate
    over the baseline, broadcast to both sides; binning is a pure
    array expression (no per-row join); each side then pays exactly
    one n_bins-cardinality aggregation. The only unpartitioned window
    runs over the <= n_bins-row bin table. Returns
    (bin, n_base, n_cur, p_base, p_cur, psi_term), bins 0..n_bins-1.
    """
    fracs = [i / n_bins for i in range(1, n_bins)]
    edges = baseline.agg(
        F.transform(
            F.percentile(F.col(col).cast("double"), F.array(*[F.lit(f) for f in fracs])),
            lambda e: F.round(e, digits),
        ).alias("__edges__")
    )

    def bin_counts(df: DataFrame, alias: str) -> DataFrame:
        x = F.col(col).cast("double")
        b = F.size(F.filter(F.col("__edges__"), lambda e: x > e))
        return (
            df.crossJoin(F.broadcast(edges))
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    base = bin_counts(baseline, "n_base")
    cur = bin_counts(current, "n_cur")
    joined = base.join(cur, on="bin", how="full_outer").select(
        "bin",
        F.coalesce("n_base", F.lit(0).cast("long")).alias("n_base"),
        F.coalesce("n_cur", F.lit(0).cast("long")).alias("n_cur"),
    )
    w = Window.partitionBy()
    smooth = F.lit(0.5 * n_bins)
    p = (F.col("n_base") + 0.5) / (F.sum("n_base").over(w) + smooth)
    q = (F.col("n_cur") + 0.5) / (F.sum("n_cur").over(w) + smooth)
    return joined.select(
        "bin",
        "n_base",
        "n_cur",
        F.round(p, digits).alias("p_base"),
        F.round(q, digits).alias("p_cur"),
        F.round((q - p) * F.log(q / p), digits).alias("psi_term"),
    )


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_cols: Sequence[str] | None = None,
    digits: int = 6,
) -> DataFrame:
    """Kaplan-Meier survival estimator — THE time-to-event summary for
    clinical cohorts (time to readmission / adverse event / dropout),
    the longitudinal analysis the reference's patient-trajectory
    notebook stops short of (02-patient-trajectory.py:53-87 builds the
    per-patient timelines; this estimates the survival curve over
    them). Input: one row per subject with a numeric ``duration`` and
    ``event`` flag (1 = event observed, 0 = censored), plus optional
    arm/stratum columns. Output per (group..., t) at every distinct
    exit time:

        (group..., t, n_risk, n_event, n_censor, survival)
        survival(t) = prod_{s <= t} (1 - d_s / n_s)

    Distributed shape: the only subject-scale operation is one groupBy
    on (group, duration) — everything after runs on the exit-time
    table, whose cardinality is distinct durations per group (days or
    weeks in practice — bounded, the clinical convention). The
    running product is exp of a running sum of logs: per-step factors
    are exact rationals, their logs are rounded then summed as
    decimals (order-independent), and a factor of exactly 0 (everyone
    at risk exits with an event) forces survival to 0 from that point
    on — flagged cumulatively rather than fed to ln().
    """
    groups = list(group_cols or [])
    exits = subjects.groupBy(*groups, duration_col).agg(
        F.sum(F.col(event_col).cast("long")).alias("n_event"),
        (F.count(F.lit(1)) - F.sum(F.col(event_col).cast("long"))).alias("n_censor"),
    )
    w_all = Window.partitionBy(*groups) if groups else Window.partitionBy()
    w_prior = (
        w_all.orderBy(duration_col).rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = w_all.orderBy(duration_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_total = F.sum(F.col("n_event") + F.col("n_censor")).over(w_all)
    n_prior = F.coalesce(
        F.sum(F.col("n_event") + F.col("n_censor")).over(w_prior), F.lit(0)
    )
    at_risk = exits.withColumn("n_risk", (n_total - n_prior).cast("long"))
    factor = F.lit(1.0) - F.col("n_event").cast("double") / F.col("n_risk").cast("double")
    lf = F.round(F.log(F.when(factor > 0, factor)), digits).cast("decimal(28,6)")
    dead = F.max((factor == 0).cast("int")).over(w_cum)
    surv = F.when(
        dead == 1, F.lit(0.0)
    ).otherwise(F.round(F.exp(F.sum(lf).over(w_cum).cast("double")), digits))
    return at_risk.select(
        *groups,
        F.col(duration_col).alias("t"),
        "n_risk",
        "n_event",
        "n_censor",
        surv.alias("survival"),
    )


def logrank_test(
    subjects: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_col: str = "arm",
    digits: int = 6,
) -> DataFrame:
    """Two-sample log-rank test — does survival differ between arms?
    The hypothesis test that accompanies ``kaplan_meier`` in every
    clinical read-out. At each pooled event time t:

        E1_t = d_t * n1_t / n_t
        V1_t = d_t * (n1_t/n_t) * (1 - n1_t/n_t) * (n_t - d_t)/(n_t - 1)
        chi2 = (sum(d1_t - E1_t))^2 / sum(V1_t)        (1 dof)

    Returns ONE row: (o1, e1, v1, chi2) — observed events in arm 1,
    their expectation and variance under H0, and the statistic
    (``pvalue_1dof`` converts it driver-side).

    Distributed shape mirrors ``kaplan_meier``: the only subject-scale
    operation is the groupBy to the per-(arm, t) exit table; the
    at-risk bookkeeping, per-time terms, and the final 1-row reduction
    all run on that bounded table. Per-time terms are rounded then
    summed as decimals so the reduction is merge-order-independent.
    The two arm labels are read with one bounded collect (2 rows,
    validated).
    """
    # limit(3) bounds the collect BEFORE validation: a mistakenly
    # high-cardinality group_col errors after pulling at most 3 rows
    # to the driver, not every distinct value
    arms = [r[0] for r in subjects.select(group_col).distinct().limit(3).collect()]
    if len(arms) != 2:
        raise ValueError(
            f"logrank_test needs exactly 2 arms, got "
            f"{'>= 3' if len(arms) > 2 else arms}"
        )
    a1, a2 = sorted(arms, key=str)

    is1 = (F.col(group_col) == a1).cast("long")
    exits = subjects.groupBy(duration_col).agg(
        F.sum(F.col(event_col).cast("long") * is1).alias("d1"),
        F.sum(F.col(event_col).cast("long") * (1 - is1)).alias("d2"),
        F.sum(is1).alias("x1"),
        F.sum(F.lit(1) - is1).alias("x2"),
    )
    w_all = Window.partitionBy()
    w_prior = w_all.orderBy(duration_col).rowsBetween(Window.unboundedPreceding, -1)
    n1 = (
        F.sum("x1").over(w_all) - F.coalesce(F.sum("x1").over(w_prior), F.lit(0))
    ).cast("double")
    n2 = (
        F.sum("x2").over(w_all) - F.coalesce(F.sum("x2").over(w_prior), F.lit(0))
    ).cast("double")
    at_risk = exits.select(
        duration_col, "d1", "d2", n1.alias("n1"), n2.alias("n2")
    ).filter((F.col("d1") + F.col("d2")) > 0)
    d = (F.col("d1") + F.col("d2")).cast("double")
    n = F.col("n1") + F.col("n2")
    p1 = F.col("n1") / n
    e1 = d * p1
    v1 = F.when(
        n > 1, d * p1 * (1 - p1) * (n - d) / (n - 1)
    ).otherwise(F.lit(0.0))
    dec = f"decimal(28,{digits})"
    terms = at_risk.select(
        F.col("d1").alias("o1_t"),
        F.round(e1, digits).cast(dec).alias("e1_t"),
        F.round(v1, digits).cast(dec).alias("v1_t"),
    )
    agg = terms.agg(
        F.sum("o1_t").alias("o1"),
        F.sum("e1_t").cast("double").alias("e1"),
        F.sum("v1_t").cast("double").alias("v1"),
    )
    diff = F.col("o1").cast("double") - F.col("e1")
    chi2 = F.when(
        F.col("v1") > 0, F.round(diff * diff / F.col("v1"), digits)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "o1",
        F.round("e1", digits).alias("e1"),
        F.round("v1", digits).alias("v1"),
        chi2.alias("chi2"),
    )


def chisq_rc(
    df: DataFrame,
    col_a: str,
    col_b: str,
    digits: int = 6,
) -> DataFrame:
    """General r x c Pearson chi-square of association between two
    categorical columns — the full-table generalization of
    ``chisq_2x2`` (M5): is event type independent of, say, weekday or
    site? Returns ONE row (n, r, c, dof, chi2).

    Distributed shape: one group-count collapses the data to the
    observed contingency cells; marginals, the r x c expected grid
    (cross join of the two marginal tables — bounded by category
    cardinalities), and the final reduction all run on that grid.
    Zero-observed cells are included (their (0-E)^2/E terms count, as
    Pearson requires); per-cell terms are rounded then summed as
    decimals so the statistic is merge-order-independent.
    """
    cells = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("o"))
    rows_t = cells.groupBy(col_a).agg(F.sum("o").alias("ra"))
    cols_t = cells.groupBy(col_b).agg(F.sum("o").alias("cb"))
    n = cells.agg(F.sum("o").alias("__n__"))
    grid = (
        rows_t.crossJoin(cols_t)
        .join(cells, on=[col_a, col_b], how="left")
        .crossJoin(F.broadcast(n))
        .select(
            F.coalesce(F.col("o"), F.lit(0)).cast("double").alias("o"),
            (
                F.col("ra").cast("double")
                * F.col("cb").cast("double")
                / F.col("__n__").cast("double")
            ).alias("e"),
        )
    )
    dec = f"decimal(28,{digits})"
    term = F.round((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"), digits)
    agg = grid.agg(F.sum(term.cast(dec)).cast("double").alias("chi2_raw"))
    dims = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(col_a)).alias("r"),
        F.count_distinct(F.col(col_b)).alias("c"),
    )
    return dims.crossJoin(F.broadcast(agg)).select(
        "n",
        "r",
        "c",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round("chi2_raw", digits).alias("chi2"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
    digits: int = 6,
) -> DataFrame:
    """Cramér's V effect size for an r x c association — the
    scale-free companion the reference's chi-square read-out
    (01-rwe-dashboard.r:110-124) lacks: chi2 grows with n, V stays in
    [0, 1], so it answers "how strong", not just "how unlikely".

        V = sqrt(chi2 / (n * (min(r, c) - 1)))

    One extra pure-column expression over ``chisq_rc``'s single reduced
    row — the plan is identical (group-count to the contingency cells,
    bounded-grid reduction). Returns (n, r, c, dof, chi2, v); V is NULL
    for degenerate 1-level tables.
    """
    base = chisq_rc(df, col_a, col_b, digits=digits)
    denom = F.col("n").cast("double") * (
        F.least(F.col("r"), F.col("c")).cast("double") - 1
    )
    v = F.when(denom > 0, F.round(F.sqrt(F.col("chi2") / denom), digits))
    return base.select("n", "r", "c", "dof", "chi2", v.alias("v"))


def ks_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    digits: int = 6,
    num_buckets: int = 256,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: the maximum gap between
    the two arms' empirical CDFs — the standard distribution-shift /
    model-separation test (does the score distribution differ between
    cohorts?). Returns ONE row (n1, n2, d_stat), arms ordered by label.

    Distributed shape — NO single-partition window over data-scale
    rows: values are rounded to ``digits`` and group-counted per arm
    (the only data-scale shuffle), then the global cumulative counts
    and arm totals come from ``windows.bucketed_prefix_sums`` over
    range tiles of the distinct values. CDF gaps are single divisions
    of exact integer cumulative counts, so the max is
    merge-order-independent.
    """
    from ..operators.caching import track_persist

    arms = [r[0] for r in df.select(group_col).distinct().limit(3).collect()]
    if len(arms) != 2:
        raise ValueError(
            f"ks_test needs exactly 2 arms, got "
            f"{'>= 3' if len(arms) > 2 else arms}"
        )
    a1, _ = sorted(arms, key=str)

    v = F.round(F.col(value_col).cast("double"), digits)
    is1 = (F.col(group_col) == a1).cast("long")
    pts = df.select(v.alias("__v__"), is1.alias("__is1__")).groupBy("__v__").agg(
        F.sum("__is1__").alias("c1"),
        F.sum(F.lit(1) - F.col("__is1__")).alias("c2"),
    )
    cum = bucketed_prefix_sums(
        track_persist(range_buckets(pts, F.col("__v__"), num_buckets)),
        ["__v__"],
        {"cum1": F.col("c1"), "cum2": F.col("c2")},
        totals={"cum1": "n1", "cum2": "n2"},
    )
    gap = F.round(
        F.abs(
            F.col("cum1").cast("double") / F.col("n1")
            - F.col("cum2").cast("double") / F.col("n2")
        ),
        digits,
    )
    return cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(gap).alias("d_stat"),
    )


def lift_gain(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Cumulative gains / lift table — the campaign-targeting read of a
    scored population: walk the equal-population score deciles from
    highest scores down and report what fraction of all positives each
    cumulative slice captures (gain) and how much better than random
    that is (lift). Returns one row per bin, bin_rank 1 = top decile:
    (bin_rank, n, n_pos, cum_n, cum_pos, gain, lift).

    Same plan skeleton as ``calibration_curve``: one exact-percentile
    edge aggregate broadcast back, binning as a pure array expression,
    one n_bins-cardinality aggregation; the cumulative walk windows
    over the ``n_bins``-row bin table only.
    """
    fracs = [i / n_bins for i in range(1, n_bins)]
    edges = df.agg(
        F.transform(
            F.percentile(
                F.col(score_col).cast("double"),
                F.array(*[F.lit(f) for f in fracs]),
            ),
            lambda e: F.round(e, digits),
        ).alias("__edges__")
    )
    x = F.col(score_col).cast("double")
    b = F.size(F.filter(F.col("__edges__"), lambda e: x > e))
    bins = (
        df.crossJoin(F.broadcast(edges))
        .select(b.alias("__bin__"), F.col(label_col).cast("long").alias("__y__"))
        .groupBy("__bin__")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__y__").alias("n_pos"))
    )
    w_cum = Window.orderBy(F.desc("__bin__")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum_n = F.sum("n").over(w_cum)
    cum_pos = F.sum("n_pos").over(w_cum)
    tot_n = F.sum("n").over(w_all)
    tot_pos = F.sum("n_pos").over(w_all)
    gain = F.when(tot_pos > 0, F.round(cum_pos / tot_pos.cast("double"), digits))
    lift = F.when(
        tot_pos > 0,
        F.round(
            (cum_pos.cast("double") / cum_n) / (tot_pos.cast("double") / tot_n),
            digits,
        ),
    )
    return bins.select(
        F.row_number()
        .over(Window.orderBy(F.desc("__bin__")))
        .alias("bin_rank"),
        "n",
        "n_pos",
        cum_n.alias("cum_n"),
        cum_pos.alias("cum_pos"),
        gain.alias("gain"),
        lift.alias("lift"),
    )


def retrieval_metrics(
    results: DataFrame,
    rels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    digits: int = 6,
) -> DataFrame:
    """NDCG@k + reciprocal rank per query — the evaluation half of the
    retrieval stack (``bm25_scores``/``cosine_topk``/``rrf_fuse``
    produce rankings; this scores them against relevance labels).

        dcg@k  = sum_{rank<=k} (2^rel - 1) / log2(rank + 1)
        ndcg@k = dcg@k / idcg@k   (ideal = rels sorted desc, top k)
        rr@k   = 1 / min rank with rel > 0   (0 when none in top k)

    Returns (query_id, ndcg, rr). Shapes: one join of the rank table
    with the label table on (query, doc); the ideal ordering windows
    PER QUERY (bounded by that query's label count); per-query decimal
    sums keep the DCGs merge-order-independent.
    """
    dec = f"decimal(28,{digits})"
    discount = lambda r: (F.pow(F.lit(2.0), F.col(rel_col).cast("double")) - 1) / (  # noqa: E731
        F.log(2.0, r.cast("double") + 1)
    )
    hits = (
        results.filter(F.col(rank_col) <= k)
        .join(rels, on=[query_col, doc_col], how="left")
        .select(
            query_col,
            F.col(rank_col),
            F.coalesce(F.col(rel_col), F.lit(0)).alias(rel_col),
        )
    )
    dcg = hits.groupBy(query_col).agg(
        F.sum(F.round(discount(F.col(rank_col)), digits).cast(dec)).alias("__dcg__"),
        F.min(
            F.when(F.col(rel_col) > 0, F.col(rank_col))
        ).alias("__first_rel__"),
    )
    w_ideal = Window.partitionBy(query_col).orderBy(
        F.desc(rel_col), F.asc(doc_col)
    )
    ideal = (
        rels.filter(F.col(rel_col) > 0)
        .withColumn("__ir__", F.row_number().over(w_ideal))
        .filter(F.col("__ir__") <= k)
        .groupBy(query_col)
        .agg(
            F.sum(F.round(discount(F.col("__ir__")), digits).cast(dec)).alias(
                "__idcg__"
            )
        )
    )
    ndcg = F.when(
        F.col("__idcg__") > 0,
        F.round(F.col("__dcg__").cast("double") / F.col("__idcg__").cast("double"), digits),
    ).otherwise(F.lit(0.0))
    rr = F.coalesce(
        F.round(F.lit(1.0) / F.col("__first_rel__").cast("double"), digits),
        F.lit(0.0),
    )
    return (
        results.select(query_col).distinct()
        .join(dcg, on=query_col, how="left")
        .join(ideal, on=query_col, how="left")
        .select(query_col, ndcg.alias("ndcg"), rr.alias("rr"))
    )


def corr_matrix(
    df: DataFrame,
    cols: Sequence[str],
    digits: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlations across k numeric columns in ONE
    aggregate pass — the feature-redundancy screen before model
    fitting (drop one of every highly-correlated pair). Returns long
    form (col_a, col_b, n, corr) for every a < b pair; NULL corr for
    zero-variance columns.

    Scale shape: rows with a NULL in any requested column drop first
    (pairwise-complete semantics would need k² conditional counts);
    then a single map-side-combinable aggregate computes all k sums,
    k sum-of-squares, and k(k-1)/2 cross-products as decimals of
    rounded inputs — one reduction, no per-pair passes, no driver
    loops. The 1-row moment vector unpivots engine-side via explode.
    """
    cs = list(cols)
    # k rounds + k(k+3)/2 decimal products per row: floor the narrow
    # projection first
    clean = ensure_parallelism(df.select(*cs).na.drop(subset=cs))
    # per-row terms cast to decimal(18,6) — long-backed, ~2x faster to
    # aggregate than decimal(28,6) (measured 2.2s -> 1.0s for 4 sums at
    # sf0.1); Spark widens the SUM accumulator to (28,6) automatically,
    # so the totals keep their headroom and stay exact (6-dp values are
    # representable identically at both precisions). Per-row magnitude
    # must fit 1e12 — true for squares/cross-products of values up to
    # ~1e5.9; larger inputs should be pre-scaled.
    dec = f"decimal(18,{digits})"

    def r(c: str):
        return F.round(F.col(c).cast("double"), digits)

    aggs = [F.count(F.lit(1)).cast("long").alias("__n__")]
    for c in cs:
        aggs.append(F.sum(r(c).cast(dec)).alias(f"__s_{c}__"))
        aggs.append(F.sum(F.round(r(c) * r(c), digits).cast(dec)).alias(f"__q_{c}__"))
    for i, a in enumerate(cs):
        for b in cs[i + 1:]:
            aggs.append(
                F.sum(F.round(r(a) * r(b), digits).cast(dec)).alias(f"__x_{a}_{b}__")
            )
    moments = clean.agg(*aggs)

    pairs = []
    for i, a in enumerate(cs):
        for b in cs[i + 1:]:
            n = F.col("__n__").cast("double")
            sa, sb = F.col(f"__s_{a}__").cast("double"), F.col(f"__s_{b}__").cast("double")
            qa, qb = F.col(f"__q_{a}__").cast("double"), F.col(f"__q_{b}__").cast("double")
            xab = F.col(f"__x_{a}_{b}__").cast("double")
            va = n * qa - sa * sa
            vb = n * qb - sb * sb
            corr = F.when(
                (va > 0) & (vb > 0),
                F.round((n * xab - sa * sb) / F.sqrt(va * vb), digits),
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("__n__").alias("n"),
                    corr.alias("corr"),
                )
            )
    return moments.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.col_a", "p.col_b", "p.n", "p.corr"
    )


def confusion_at_threshold(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float,
    digits: int = 6,
) -> DataFrame:
    """Confusion matrix + derived metrics at one decision threshold
    (predict positive when score >= threshold): ONE row
    (threshold, tp, fp, tn, fn, accuracy, precision, recall, f1).
    Ratio metrics are NULL when their denominator is 0 (no silent 0s,
    no ANSI div-by-zero). One map-side-combinable aggregate — the
    whole table reduces to four conditional counts.
    """
    pred = F.col(score_col).cast("double") >= F.lit(float(threshold))
    y = F.col(label_col).cast("boolean")
    cells = scored.agg(
        F.sum((pred & y).cast("long")).alias("tp"),
        F.sum((pred & ~y).cast("long")).alias("fp"),
        F.sum((~pred & ~y).cast("long")).alias("tn"),
        F.sum((~pred & y).cast("long")).alias("fn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    tn, fn = F.col("tn").cast("double"), F.col("fn").cast("double")
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return cells.select(
        F.lit(float(threshold)).alias("threshold"),
        "tp", "fp", "tn", "fn",
        F.round((tp + tn) / (tp + fp + tn + fn), digits).alias("accuracy"),
        F.round(prec, digits).alias("precision"),
        F.round(rec, digits).alias("recall"),
        F.round(f1, digits).alias("f1"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Precision-recall points at equal-population score-decile depths:
    walking the population from highest scores down (``lift_gain``'s
    walk), each cumulative slice is "predict positive down to here" —
    precision = cum_pos/cum_n, recall = cum_pos/total_pos. Returns
    (bin_rank, cum_n, cum_pos, precision, recall, f1), bin_rank 1 =
    deepest threshold (top decile only).

    Same bounded plan as ``lift_gain``: one percentile aggregate, one
    n_bins-cardinality aggregation, windows over the n_bins-row table.
    """
    base = lift_gain(df, score_col, label_col, n_bins=n_bins, digits=digits)
    cum_n = F.col("cum_n").cast("double")
    cum_pos = F.col("cum_pos").cast("double")
    prec = F.when(cum_n > 0, cum_pos / cum_n)
    rec = F.col("gain")
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return base.select(
        "bin_rank", "cum_n", "cum_pos",
        F.round(prec, digits).alias("precision"),
        F.round(rec, digits).alias("recall"),
        F.round(f1, digits).alias("f1"),
    )


def ab_test(
    df: DataFrame,
    group_col: str,
    converted_col: str,
    digits: int = 6,
) -> DataFrame:
    """Two-proportion A/B read-out: conversion rates per arm, absolute
    lift, pooled two-proportion z statistic, and per-arm Wilson 95%
    intervals — the experiment summary every product analytics stack
    reduces to. Exactly two arms (validated with a bounded collect,
    ordered by label so arm_a is deterministic). ONE row:

        (arm_a, arm_b, n_a, n_b, conv_a, conv_b, lift, z,
         wilson_lo_a, wilson_hi_a, wilson_lo_b, wilson_hi_b)

    z is NULL for degenerate pooled rates (0% or 100% overall). The
    whole table reduces to four conditional counts — one
    map-side-combinable aggregate, nothing driver-side but the 2-row
    arm validation.
    """
    arms = [r[0] for r in df.select(group_col).distinct().limit(3).collect()]
    if len(arms) != 2:
        raise ValueError(
            f"ab_test needs exactly 2 arms, got "
            f"{'>= 3' if len(arms) > 2 else arms}"
        )
    a_lbl, b_lbl = sorted(arms, key=str)
    is_a = F.col(group_col) == a_lbl
    y = F.col(converted_col).cast("long")
    cells = df.agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum((~is_a).cast("long")).alias("n_b"),
        F.sum(F.when(is_a, y).otherwise(F.lit(0))).alias("c_a"),
        F.sum(F.when(~is_a, y).otherwise(F.lit(0))).alias("c_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("c_a").cast("double"), F.col("c_b").cast("double")
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = F.when((pool > 0) & (pool < 1), F.round((pb - pa) / se, digits))

    def wilson(p, n):
        zc = F.lit(1.959964)
        denom = 1 + zc * zc / n
        center = p + zc * zc / (2 * n)
        half = zc * F.sqrt(p * (1 - p) / n + zc * zc / (4 * n * n))
        return (
            F.round((center - half) / denom, digits),
            F.round((center + half) / denom, digits),
        )

    lo_a, hi_a = wilson(pa, na)
    lo_b, hi_b = wilson(pb, nb)
    return cells.select(
        F.lit(str(a_lbl)).alias("arm_a"),
        F.lit(str(b_lbl)).alias("arm_b"),
        "n_a",
        "n_b",
        F.round(pa, digits).alias("conv_a"),
        F.round(pb, digits).alias("conv_b"),
        F.round(pb - pa, digits).alias("lift"),
        z.alias("z"),
        lo_a.alias("wilson_lo_a"),
        hi_a.alias("wilson_hi_a"),
        lo_b.alias("wilson_lo_b"),
        hi_b.alias("wilson_hi_b"),
    )


def multiclass_confusion(
    df: DataFrame,
    actual_col: str,
    predicted_col: str,
    digits: int = 6,
) -> DataFrame:
    """Per-class evaluation of a multiclass prediction: one row per
    ACTUAL class with its support, correct count, and one-vs-rest
    precision / recall / F1 — the k-class generalization of
    ``confusion_at_threshold`` (the reference's evaluator reports one
    scalar AUC; per-class read-outs are how class imbalance problems
    actually get diagnosed). Returns
    (label, n_actual, n_predicted, n_correct, precision, recall, f1);
    classes that are only ever PREDICTED (never actual) appear with
    n_actual = 0 and NULL recall.

    Scale shape: one group-count to the (actual, predicted) cell table
    (the only data-scale shuffle, bounded by label-vocabulary²); the
    two marginals and the metric arithmetic run on that cell table.
    """
    cells = df.groupBy(
        F.col(actual_col).alias("__a__"), F.col(predicted_col).alias("__p__")
    ).agg(F.count(F.lit(1)).alias("__n__"))
    actual_m = cells.groupBy(F.col("__a__").alias("label")).agg(
        F.sum("__n__").cast("long").alias("n_actual")
    )
    pred_m = cells.groupBy(F.col("__p__").alias("label")).agg(
        F.sum("__n__").cast("long").alias("n_predicted")
    )
    diag = cells.filter(F.col("__a__").eqNullSafe(F.col("__p__"))).select(
        F.col("__a__").alias("label"), F.col("__n__").cast("long").alias("n_correct")
    )
    base = (
        actual_m.join(pred_m, on="label", how="full_outer")
        .join(diag, on="label", how="left")
        .select(
            "label",
            F.coalesce("n_actual", F.lit(0).cast("long")).alias("n_actual"),
            F.coalesce("n_predicted", F.lit(0).cast("long")).alias("n_predicted"),
            F.coalesce("n_correct", F.lit(0).cast("long")).alias("n_correct"),
        )
    )
    prec = F.when(
        F.col("n_predicted") > 0,
        F.col("n_correct").cast("double") / F.col("n_predicted"),
    )
    rec = F.when(
        F.col("n_actual") > 0,
        F.col("n_correct").cast("double") / F.col("n_actual"),
    )
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return base.select(
        "label", "n_actual", "n_predicted", "n_correct",
        F.round(prec, digits).alias("precision"),
        F.round(rec, digits).alias("recall"),
        F.round(f1, digits).alias("f1"),
    )


def dashboard_assoc(
    events: DataFrame,
    entity_col: str,
    label_col: str,
) -> DataFrame:
    """The reference dashboard's full analytical flow as ONE composed
    operator (01-rwe-dashboard.r:31-124): find the two most prevalent
    labels (distinct-entity counts, deterministic label tie-break),
    flag every entity for each, and test their association with the
    distributed 2x2 chi-square — the notebook's top-conditions ->
    comorbidity -> chisq.test pipeline without a driver-side collect
    of anything but the two winning labels. One row:
    (cond_a, cond_b, n_11, n_10, n_01, n_00, chi2).

    Scale shape: prevalence is one distinct + group-count; the two
    labels come back in a 2-row bounded collect (literals baked into
    the flag filters, exactly like the parameterized dashboard
    widgets); the flags/cells reduction is ``chisq_2x2``'s distributed
    group-count shape.
    """
    prev = (
        events.filter(F.col(label_col).isNotNull())
        .select(entity_col, label_col)
        .distinct()
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
        .orderBy(F.desc("__c__"), F.asc(label_col))
        .limit(2)
        .collect()
    )
    if len(prev) < 2:
        raise ValueError("dashboard_assoc needs at least 2 distinct labels")
    a_lbl, b_lbl = prev[0][0], prev[1][0]
    a_ids = events.filter(F.col(label_col) == a_lbl).select(entity_col).distinct()
    b_ids = events.filter(F.col(label_col) == b_lbl).select(entity_col).distinct()
    entities = events.select(entity_col).distinct()
    return chisq_2x2(entities, entity_col, a_ids, b_ids).select(
        F.lit(str(a_lbl)).alias("cond_a"),
        F.lit(str(b_lbl)).alias("cond_b"),
        "n_11", "n_10", "n_01", "n_00", "chi2",
    )


def spearman_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    digits: int = 6,
) -> DataFrame:
    """Spearman rank correlation per group: Pearson's formula over
    AVERAGE ranks (the tie-correct form), computed entirely in integer
    arithmetic until the final division — doubled average ranks
    a = 2*min_rank + tie_count - 1 are integers, every moment
    accumulates as DECIMAL(38,0), so the statistic is exact and
    partition-invariant; rho is invariant under the doubling (Pearson
    is scale-free).

    Scale shape: two rank windows partitioned BY GROUP AND ordered by
    the value (never a global sort), tie counts ride a window over
    (group, value), then one map-side-combinable moment aggregate per
    group. Returns (group..., n, rho); constant x or y yields NULL
    rho. Monotonic-association screen: where ``corr_matrix`` answers
    "linear?", this answers "monotone?" — robust to outliers and any
    monotone transform of either variable.
    """
    gcols = list(group_cols)
    base = df.select(
        *gcols,
        F.col(x_col).cast("double").alias("__x__"),
        F.col(y_col).cast("double").alias("__y__"),
    ).filter(F.col("__x__").isNotNull() & F.col("__y__").isNotNull())
    wx = Window.partitionBy(*gcols).orderBy("__x__")
    wy = Window.partitionBy(*gcols).orderBy("__y__")
    wtx = Window.partitionBy(*gcols, "__x__")
    wty = Window.partitionBy(*gcols, "__y__")
    ranked = base.select(
        *gcols,
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(wtx) - 1)
        .cast("long")
        .alias("__a__"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(wty) - 1)
        .cast("long")
        .alias("__b__"),
    )
    d = "decimal(38,0)"
    a, b = F.col("__a__"), F.col("__b__")
    mom = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a.cast(d)).alias("__sa__"),
        F.sum(b.cast(d)).alias("__sb__"),
        F.sum((a * a).cast(d)).alias("__saa__"),
        F.sum((b * b).cast(d)).alias("__sbb__"),
        F.sum((a * b).cast(d)).alias("__sab__"),
    )
    n = F.col("n").cast(d)
    num = (n * F.col("__sab__") - F.col("__sa__") * F.col("__sb__")).cast("double")
    da = (n * F.col("__saa__") - F.col("__sa__") * F.col("__sa__")).cast("double")
    db = (n * F.col("__sbb__") - F.col("__sb__") * F.col("__sb__")).cast("double")
    rho = F.when(
        (da > 0.0) & (db > 0.0), num / F.sqrt(da * db)
    ).otherwise(F.lit(None).cast("double"))
    return mom.select(
        *gcols, "n", (F.round(rho, digits) + F.lit(0.0)).alias("rho")
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
    digits: int = 6,
) -> DataFrame:
    """One-way ANOVA F statistic across the groups of ``group_col``:
    between-group vs within-group variance of ``value_col`` — the
    k-sample generalization of the two-sample t test ("does ANY arm
    differ"), computed from per-group decimal moments so every sum is
    exact and partition-invariant; the F ratio is the only float.

    One row: (k, n, ss_between, ss_within, f_stat) — NULL f_stat when
    within-variance is zero or degrees of freedom vanish. SS terms via
    the moment identities SSW = Σx² - Σ_g (S_g²/n_g),
    SSB = Σ_g (S_g²/n_g) - (ΣS_g)²/n, with Decimal-exact Σx, Σx²
    (inputs rounded to 6 dp first, the same convention as
    ``corr_matrix``).

    Scale shape: one map-side-combinable groupBy for the per-group
    moments, then a k-row rollup. Nothing else.
    """
    d = "decimal(38,12)"
    x = F.round(F.col(value_col).cast("double"), 6).cast("decimal(18,6)")
    per_group = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n__"),
            F.sum(x.cast(d)).alias("__s__"),
            F.sum((x * x).cast(d)).alias("__ss__"),
        )
    )
    # group-mean terms S_g^2/n_g leave exact decimal space — compute
    # them as ROUNDED decimals (12 dp) so the k-row rollup still sums
    # decimally; identical rounding on the oracle side
    term = F.round(
        F.col("__s__").cast("double") * F.col("__s__").cast("double")
        / F.col("__n__"),
        12,
    ).cast(d)
    agg_row = per_group.select(
        F.lit(1).alias("__one__"), "__n__", "__s__", "__ss__", term.alias("__t__")
    ).groupBy("__one__").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__n__").cast("long").alias("n"),
        F.sum("__s__").alias("__S__"),
        F.sum("__ss__").alias("__SS__"),
        F.sum("__t__").alias("__T__"),
    )
    grand = F.round(
        F.col("__S__").cast("double") * F.col("__S__").cast("double") / F.col("n"),
        12,
    )
    ssb = F.col("__T__").cast("double") - grand
    ssw = F.col("__SS__").cast("double") - F.col("__T__").cast("double")
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0.0),
        (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))),
    )
    return agg_row.select(
        "k",
        "n",
        F.round(ssb, digits).alias("ss_between"),
        F.round(ssw, digits).alias("ss_within"),
        (F.round(f_stat, digits) + F.lit(0.0)).alias("f_stat"),
    )


def proportion_ci(
    df: DataFrame,
    group_cols: Sequence[str],
    flag_col: Column | str,
    z: float = 1.959963984540054,
    digits: int = 6,
) -> DataFrame:
    """Per-group proportion with the Wilson score interval — the CI
    that stays inside [0,1] and behaves at small n, unlike the normal
    approximation (the per-segment companion of ``ab_test``'s pooled
    read-out). ``flag_col`` is a boolean/0-1 success indicator.
    Returns (group..., n, successes, p_hat, ci_low, ci_high).

    Counts are exact integers; the Wilson algebra is a fixed chain of
    double ops per group row — deterministic everywhere.
    """
    gcols = list(group_cols)
    f = F.col(flag_col) if isinstance(flag_col, str) else flag_col
    agg_tbl = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(f.cast("long")).cast("long").alias("successes"),
    )
    n = F.col("n").cast("double")
    s = F.col("successes").cast("double")
    p = s / n
    z2 = F.lit(float(z) * float(z))
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (4 * n * n))
        / denom
    )
    return agg_tbl.select(
        *gcols,
        "n",
        "successes",
        F.round(p, digits).alias("p_hat"),
        F.round(center - half, digits).alias("ci_low"),
        F.round(center + half, digits).alias("ci_high"),
    )


def fairness_audit(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    threshold: float,
    digits: int = 6,
) -> DataFrame:
    """Per-group classification fairness audit at one decision
    threshold (predict positive when score >= threshold): for every
    value of ``group_col`` — n, base_rate, pred_pos_rate, tpr, fpr,
    precision, accuracy, plus the two standard disparity read-outs
    against the pooled population: ``dp_gap`` (demographic parity:
    group pred-positive rate minus overall) and ``eo_gap`` (equal
    opportunity: group TPR minus overall TPR). Rates whose denominator
    is 0 are NULL (no silent zeros), and their gaps are NULL too.

    Scale shape: ONE map-side-combinable conditional-count aggregate
    over the facts keyed by the group; the pooled row re-aggregates
    the group-cardinality table (no second fact scan) and broadcasts
    back. Everything is integer counts until the final divisions.
    """
    pred = F.col(score_col).cast("double") >= F.lit(float(threshold))
    y = F.col(label_col).cast("boolean")
    cells = scored.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((pred & y).cast("long")).alias("tp"),
        F.sum((pred & ~y).cast("long")).alias("fp"),
        F.sum((~pred & ~y).cast("long")).alias("tn"),
        F.sum((~pred & y).cast("long")).alias("fn"),
    )
    overall = cells.agg(
        F.sum("tp").alias("otp"),
        F.sum("fp").alias("ofp"),
        F.sum("tn").alias("otn"),
        F.sum("fn").alias("ofn"),
    )

    def _rate(num, den):
        return F.when(den > 0, num / den)

    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    tn, fn = F.col("tn").cast("double"), F.col("fn").cast("double")
    otp, ofp = F.col("otp").cast("double"), F.col("ofp").cast("double")
    otn, ofn = F.col("otn").cast("double"), F.col("ofn").cast("double")
    nd = F.col("n").cast("double")
    ppr = _rate(tp + fp, nd)
    tpr = _rate(tp, tp + fn)
    o_ppr = _rate(otp + ofp, otp + ofp + otn + ofn)
    o_tpr = _rate(otp, otp + ofn)
    return (
        cells.crossJoin(F.broadcast(overall))
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.round(_rate(tp + fn, nd), digits).alias("base_rate"),
            F.round(ppr, digits).alias("pred_pos_rate"),
            F.round(tpr, digits).alias("tpr"),
            F.round(_rate(fp, fp + tn), digits).alias("fpr"),
            F.round(_rate(tp, tp + fp), digits).alias("precision"),
            F.round((tp + tn) / nd, digits).alias("accuracy"),
            F.round(ppr - o_ppr, digits).alias("dp_gap"),
            F.round(tpr - o_tpr, digits).alias("eo_gap"),
        )
    )


# Poisson(1) CDF thresholds for inverse-CDF sampling: P(X <= k) for
# k = 0..8 (mass beyond 8 is ~1.1e-6; weights cap there). Shared with
# the DuckDB oracle so both engines compare the SAME double literals.
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
]


def poisson_bootstrap_mean(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_boot: int = 100,
    lower: float = 0.025,
    upper: float = 0.975,
    digits: int = 6,
) -> DataFrame:
    """Deterministic Poisson-bootstrap confidence interval for the
    mean of ``value_col``: ONE row (mean, ci_lo, ci_hi, n_boot, n).
    The distributed bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012): instead of
    resampling n rows with replacement per replicate (impossible
    without a global index), each row enters replicate b with weight
    ~ Poisson(1) — the per-replicate weighted means converge to the
    classical bootstrap distribution.

    Determinism / oracle parity: the Poisson variate is inverse-CDF
    over a 32-bit uniform carved out of md5(id|ceil(b/4)) — each hash
    yields FOUR disjoint 8-hex-char slots, one per replicate, cutting
    the hash count 4x while every u stays bit-identical in Spark and
    DuckDB (32-bit ints are exact doubles; at sf0.1 local the explode
    + aggregate dominate and wall-clock is unchanged, but hashing is
    the JVM-side unit cost that scales with n_boot x n). Thresholding is
    against the shared ``POISSON1_CDF`` literals (their finest gap is
    ~1.1e-6, far above the 2.3e-10 quantization step); replicate sums
    accumulate as DECIMAL so no float merge-order exists anywhere;
    the CI is the exact interpolated percentile over the ``n_boot``
    replicate means.

    Scale shape: the explode is n x n_boot rows but reduces through a
    map-side-combinable groupBy(b) immediately — shuffle volume is
    n_boot x partitions, not n x n_boot; zero-weight rows (~36.8%)
    are filtered before the shuffle. Compute cost IS n_boot x n — the
    published algorithm's price; pick n_boot to fit the budget.
    """
    # r15 (guide §1.2 "per-task work"): the 4-slot md5 carving is now
    # REAL — explode the ceil(n_boot/4) hash GROUPS first, evaluate
    # one md5 per (row, group), then explode that row's 4 slots. The
    # previous form exploded b = 1..n_boot first, so the per-row
    # projection recomputed the identical md5(id|ceil(b/4)) on each of
    # the 4 sibling rows (no cross-row CSE exists): n x n_boot md5
    # evaluations instead of the n x n_boot/4 the docstring promised.
    # Every u is bit-identical (same hash, same slot arithmetic).
    n_grp = (int(n_boot) + 3) // 4
    grp = F.explode(F.sequence(F.lit(1), F.lit(n_grp))).alias("__grp__")
    # slots this group actually carries (the last group may be short
    # when n_boot % 4 != 0)
    slot = F.explode(
        F.sequence(
            F.lit(0),
            F.least(
                F.lit(3),
                F.lit(int(n_boot)) - (F.col("__grp__") - 1) * 4 - 1,
            ).cast("int"),
        )
    ).alias("__slot__")
    u = (
        F.conv(
            F.col("__h__").substr(
                (F.col("__slot__") * 8 + 1).cast("int"), F.lit(8)
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    w = F.lit(len(POISSON1_CDF)).cast("int")
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u <= F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    x = F.col("__x__")
    # the explode inflates rows n_boot x: floor the narrow projection
    narrow = df.select(
        F.col(id_col), F.col(value_col).cast("decimal(18,6)").alias("__x__")
    )
    rep = (
        ensure_parallelism(narrow).select(F.col(id_col), "__x__", grp)
        .select(
            "__x__",
            "__grp__",
            F.md5(F.concat_ws("|", F.col(id_col), F.col("__grp__"))).alias(
                "__h__"
            ),
        )
        .select("__x__", "__grp__", "__h__", slot)
        .select(
            ((F.col("__grp__") - 1) * 4 + F.col("__slot__") + 1).alias("b"),
            x,
            w.cast("long").alias("__w__"),
        )
        .filter(F.col("__w__") > 0)
        .groupBy("b")
        .agg(
            F.sum(F.col("__w__")).alias("__sw__"),
            F.sum((x * F.col("__w__")).cast("decimal(28,6)")).alias("__swx__"),
        )
        .select(
            F.round(
                F.col("__swx__").cast("double") / F.col("__sw__").cast("double"),
                9,
            ).alias("__mb__")
        )
    )
    base = df.agg(
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__sx__"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    ci = rep.agg(
        F.round(F.percentile("__mb__", F.lit(float(lower))), digits).alias("ci_lo"),
        F.round(F.percentile("__mb__", F.lit(float(upper))), digits).alias("ci_hi"),
        F.count(F.lit(1)).cast("long").alias("n_boot"),
    )
    return (
        base.crossJoin(F.broadcast(ci)).select(
            F.round(
                F.col("__sx__").cast("double") / F.col("n").cast("double"),
                digits,
            ).alias("mean"),
            "ci_lo",
            "ci_hi",
            "n_boot",
            "n",
        )
    )


def conformal_interval(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    alpha: float = 0.1,
    digits: int = 6,
) -> DataFrame:
    """Split-conformal prediction intervals per group (Vovk et al.;
    the Lei et al. 2018 split recipe) around the simplest regressor —
    the group mean: deterministically split each group's rows into
    train / calibration / test thirds by md5(id), fit mean(train),
    take the finite-sample conformal radius

        q_hat = k-th smallest |y - mean|  over calibration,
        k = ceil((n_cal + 1) * (1 - alpha))

    (an ORDER STATISTIC, not an interpolated quantile — exact in both
    engines, and the form that carries the >= 1 - alpha marginal
    coverage guarantee), then report empirical test coverage of
    [mean - q_hat, mean + q_hat]. Returns
    (group, n_cal, q_hat, n_test, coverage) — the distribution-free
    uncertainty read-out to publish beside any point forecast.

    Scale shape: one scan feeds the three md5 slices; the train fit is
    a decimal-sum groupBy; the order statistic is a row_number window
    PARTITIONED BY the group over calibration rows (never global);
    coverage is one conditional-count aggregate. When k > n_cal the
    radius is unbounded — q_hat and coverage go NULL rather than
    silently clamping (the honest small-group answer).
    """
    import math as _math

    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
        ).cast("double")
        / F.lit(float(2**52))
    )
    slice_ = F.when(u < 1 / 3, F.lit("train")).when(
        u < 2 / 3, F.lit("cal")
    ).otherwise(F.lit("test"))
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("decimal(18,6)").alias("__y__"),
        slice_.alias("__s__"),
    )
    from ..operators.caching import track_persist

    base = track_persist(base)
    mean_tbl = (
        base.filter(F.col("__s__") == "train")
        .groupBy("grp")
        .agg(
            F.round(
                F.sum("__y__").cast("double") / F.count(F.lit(1)), digits
            ).alias("__mu__")
        )
    )
    cal = (
        base.filter(F.col("__s__") == "cal")
        .join(F.broadcast(mean_tbl), on="grp")
        .select(
            "grp",
            F.round(
                F.abs(F.col("__y__").cast("double") - F.col("__mu__")), digits
            ).alias("__r__"),
        )
    )
    n_cal = cal.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("__r__")
    ranked = cal.withColumn("__rn__", F.row_number().over(w)).join(
        F.broadcast(n_cal), on="grp"
    )
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - float(alpha)))
    hits = ranked.filter(F.col("__rn__") == k).select(
        "grp", F.col("__r__").alias("q_hat")
    )
    # groups where k > n_cal have no matching order statistic: keep
    # them with NULL q_hat (unbounded radius) via the left join
    q_tbl = n_cal.join(hits, on="grp", how="left")
    test = base.filter(F.col("__s__") == "test").join(
        F.broadcast(mean_tbl), on="grp"
    ).join(F.broadcast(q_tbl), on="grp")
    covered = (
        F.abs(F.col("__y__").cast("double") - F.col("__mu__"))
        <= F.col("q_hat")
    )
    return (
        test.groupBy("grp", "n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(
                F.sum(F.when(covered, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                digits,
            ).alias("coverage"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_cal",
            "q_hat",
            "n_test",
            F.when(F.col("q_hat").isNotNull(), F.col("coverage")).alias(
                "coverage"
            ),
        )
    )


# standard normal quantiles for the default (alpha=0.05 two-sided,
# power=0.80) test design — literals shared with the DuckDB oracle
# (neither engine has an inverse normal CDF built in)
Z_975 = 1.959963984540054
Z_80 = 0.8416212335729143


def ab_power_analysis(
    assignments: DataFrame,
    group_col: str,
    success_col: str,
    z_alpha: float = Z_975,
    z_power: float = Z_80,
    digits: int = 6,
) -> DataFrame:
    """Per-variant minimum detectable effect for a proportion A/B test
    — the pre-readout sanity check every experimentation platform
    surfaces beside ``ab_test``'s result: with this variant's sample
    size and the pooled baseline rate, what absolute/relative lift
    COULD the test even detect at the design's alpha and power?

        mde_abs = (z_alpha + z_power) * sqrt(2 p (1-p) / n)

    (normal-approximation two-sample formula with the pooled rate p as
    the variance anchor). Returns one row per variant:
    (group, n, p_hat, p_pooled, mde_abs, mde_rel); ``mde_rel`` is NULL
    when the pooled rate is 0 (no successes anywhere — nothing to
    scale against).

    Scale shape: ONE conditional-count groupBy over the assignments;
    the pooled rate re-aggregates the variant-level table and
    broadcasts back. The z quantiles are fixed literals (shared with
    the SQL twin) because neither engine has erfinv built in.
    """
    cells = assignments.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(success_col).cast("long")).alias("__s__"),
    )
    pooled = cells.agg(
        (F.sum("__s__").cast("double") / F.sum("n")).alias("__p__")
    )
    p = F.col("__p__")
    mde = (
        F.lit(float(z_alpha) + float(z_power))
        * F.sqrt(F.lit(2.0) * p * (F.lit(1.0) - p) / F.col("n").cast("double"))
    )
    return (
        cells.crossJoin(F.broadcast(pooled))
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.round(F.col("__s__").cast("double") / F.col("n"), digits).alias(
                "p_hat"
            ),
            F.round(p, digits).alias("p_pooled"),
            F.round(mde, digits).alias("mde_abs"),
            F.when(p > 0, F.round(mde / p, digits)).alias("mde_rel"),
        )
    )


# chi-square(2 dof) 97.5th percentile — the conventional multivariate
# outlier cut for 2 features; literal shared with the SQL twin
CHI2_2DOF_975 = 7.377758908227871


def mahalanobis2(
    df: DataFrame,
    x_col: str,
    y_col: str,
    threshold: float = CHI2_2DOF_975,
    digits: int = 6,
) -> DataFrame:
    """Squared Mahalanobis distance + outlier flag for TWO features —
    multivariate outlier detection that catches points univariate
    z-scores miss (unusual COMBINATIONS: each coordinate typical, the
    pair impossible). The 2x2 covariance inverse has a closed form, so
    the whole computation is one sufficient-statistics aggregate
    broadcast back over the facts — no matrix library, no driver-side
    linear algebra, and the SQL twin replays it exactly:

        md2 = (s22 dx^2 - 2 s12 dx dy + s11 dy^2) / det(S)

    with population moments from decimal-exact sums (the corr_matrix
    staging: per-row decimal casts, decimal accumulation, moments
    rounded before reuse). ``is_outlier`` = md2 > threshold (default:
    chi-square 2-dof 97.5%). Degenerate covariance (det ~ 0: a
    constant or collinear feature pair) yields NULL md2/flag rather
    than a divide-by-noise answer. Appends (md2, is_outlier).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    narrow = ensure_parallelism(df.select(x.alias("__px__"), y.alias("__py__")))
    px, py = F.col("__px__"), F.col("__py__")
    stats = narrow.agg(
        F.count(F.lit(1)).cast("long").alias("__n__"),
        F.sum(px.cast("decimal(18,6)")).alias("__sx__"),
        F.sum(py.cast("decimal(18,6)")).alias("__sy__"),
        F.sum((px * px).cast("decimal(28,6)")).alias("__sxx__"),
        F.sum((py * py).cast("decimal(28,6)")).alias("__syy__"),
        F.sum((px * py).cast("decimal(28,6)")).alias("__sxy__"),
    )
    n = F.col("__n__").cast("double")
    mu_x = F.round(F.col("__sx__").cast("double") / n, 9)
    mu_y = F.round(F.col("__sy__").cast("double") / n, 9)
    s11 = F.round(F.col("__sxx__").cast("double") / n - mu_x * mu_x, 9)
    s22 = F.round(F.col("__syy__").cast("double") / n - mu_y * mu_y, 9)
    s12 = F.round(F.col("__sxy__").cast("double") / n - mu_x * mu_y, 9)
    moments = stats.select(
        mu_x.alias("__mx__"),
        mu_y.alias("__my__"),
        s11.alias("__s11__"),
        s22.alias("__s22__"),
        s12.alias("__s12__"),
    )
    dx = x - F.col("__mx__")
    dy = y - F.col("__my__")
    det = (
        F.col("__s11__") * F.col("__s22__") - F.col("__s12__") * F.col("__s12__")
    )
    md2 = F.round(
        (
            F.col("__s22__") * dx * dx
            - 2 * F.col("__s12__") * dx * dy
            + F.col("__s11__") * dy * dy
        )
        / det,
        digits,
    )
    md2_safe = F.when(det > 1e-12, md2)
    return (
        df.crossJoin(F.broadcast(moments))
        .withColumn("md2", md2_safe)
        .withColumn(
            "is_outlier",
            F.when(
                F.col("md2").isNotNull(), F.col("md2") > F.lit(float(threshold))
            ),
        )
        .drop("__mx__", "__my__", "__s11__", "__s22__", "__s12__")
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    digits: int = 6,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement over two categorical label
    columns — the chance-corrected agreement read-out for double-coded
    clinical charts / annotation QA:

        kappa = (p_o - p_e) / (1 - p_e)

    with p_o the observed agreement rate and p_e the chance agreement
    from the raters' marginal distributions. ONE row
    (n, p_o, p_e, kappa); kappa is NULL when p_e = 1 (both raters
    constant — agreement is undefined, not perfect).

    Scale shape: one (a, b) group-count (the only fact shuffle, label-
    cardinality output), then marginals and the statistic fold on that
    contingency table — integer counts until the final divisions.
    """
    cells = df.groupBy(
        F.col(rater_a).alias("__a__"), F.col(rater_b).alias("__b__")
    ).agg(F.count(F.lit(1)).alias("__c__"))
    tot = cells.agg(F.sum("__c__").cast("long").alias("n"))
    po = (
        cells.filter(F.col("__a__").eqNullSafe(F.col("__b__")))
        .agg(F.sum("__c__").cast("long").alias("__agree__"))
    )
    ma = cells.groupBy("__a__").agg(F.sum("__c__").alias("__na__"))
    mb = cells.groupBy("__b__").agg(F.sum("__c__").alias("__nb__"))
    pe_terms = ma.join(
        mb, ma["__a__"].eqNullSafe(mb["__b__"])
    ).agg(
        F.sum(
            (F.col("__na__") * F.col("__nb__")).cast("decimal(28,0)")
        ).alias("__pe_num__")
    )
    out = (
        tot.crossJoin(F.broadcast(po))
        .crossJoin(F.broadcast(pe_terms))
    )
    nn = F.col("n").cast("double")
    p_o = F.coalesce(F.col("__agree__"), F.lit(0)).cast("double") / nn
    p_e = F.coalesce(F.col("__pe_num__"), F.lit(0)).cast("double") / (nn * nn)
    kappa = F.when(p_e < 1.0, (p_o - p_e) / (1.0 - p_e))
    return out.select(
        "n",
        F.round(p_o, digits).alias("p_o"),
        F.round(p_e, digits).alias("p_e"),
        F.round(kappa, digits).alias("kappa"),
    )


def odds_ratio(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    z: float = Z_975,
    digits: int = 6,
) -> DataFrame:
    """2x2 odds ratio with a Wald 95% CI — the case-control effect
    measure (exposure vs outcome, both boolean):

        OR = (a d) / (b c),   log-CI = ln OR ± z sqrt(1/a+1/b+1/c+1/d)

    ONE row (a, b, c, d, odds_ratio, ci_lo, ci_hi): a = exposed cases,
    b = exposed non-cases, c = unexposed cases, d = unexposed
    non-cases. Any zero cell makes the OR/CI undefined -> NULLs (use
    a continuity correction upstream if you need estimates there; the
    silent +0.5 default would change every published number).

    One conditional-count aggregate; the z quantile is the shared
    literal (``Z_975``).
    """
    ex = F.col(exposure_col).cast("boolean")
    oc = F.col(outcome_col).cast("boolean")
    cells = df.agg(
        F.sum((ex & oc).cast("long")).alias("a"),
        F.sum((ex & ~oc).cast("long")).alias("b"),
        F.sum((~ex & oc).cast("long")).alias("c"),
        F.sum((~ex & ~oc).cast("long")).alias("d"),
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    c, d = F.col("c").cast("double"), F.col("d").cast("double")
    ok = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    lor = F.log((a * d) / (b * c))
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    return cells.select(
        "a", "b", "c", "d",
        F.round(F.when(ok, F.exp(lor)), digits).alias("odds_ratio"),
        F.round(F.when(ok, F.exp(lor - F.lit(float(z)) * se)), digits).alias(
            "ci_lo"
        ),
        F.round(F.when(ok, F.exp(lor + F.lit(float(z)) * se)), digits).alias(
            "ci_hi"
        ),
    )


def cuped_adjust(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    covariate_col: str,
    digits: int = 6,
) -> DataFrame:
    """CUPED variance reduction for experiment read-outs (Deng et al.
    2013, "Improving the Sensitivity of Online Controlled
    Experiments"): per unit, adjust the metric with a pre-experiment
    covariate X,

        y_adj = y - theta (x - mean(x)),   theta = cov(x, y) / var(x)

    (theta pooled across ALL units — the standard single-theta CUPED,
    which preserves the between-group mean difference in expectation
    while removing the covariate-explained variance). Returns one row
    per group:

        (group, n, mean_raw, mean_adj, sd_raw, sd_adj, var_reduction)

    ``var_reduction`` = 1 - var_adj/var_raw (fraction of metric
    variance the covariate explained — equals the squared pooled
    correlation when groups are balanced). Dispersion is reported as
    STANDARD DEVIATIONS (sd_raw/sd_adj): rounding a 1e10-magnitude
    variance to fixed decimals goes through engine-specific float
    paths (Spark rounds via BigDecimal, DuckDB multiplies past the
    53-bit integer range) and breaks cross-engine parity; sqrt first
    keeps the magnitude inside the exactly-roundable range, and the
    reduction ratio uses the UNROUNDED variances. Degenerate
    covariate (var(x) ~ 0) -> theta 0, adjustment a no-op,
    var_reduction 0.

    Scale shape: one pooled decimal sufficient-statistics aggregate
    (the ``mahalanobis2`` staging) broadcast back, then one per-group
    conditional aggregate over the adjusted projection — two scans,
    no window, no join wider than a 1-row broadcast. Moments are
    rounded before reuse so both engines adjust with identical
    doubles.
    """
    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    stats = df.agg(
        F.count(F.lit(1)).cast("long").alias("__n__"),
        F.sum(x.cast("decimal(18,6)")).alias("__sx__"),
        F.sum(y.cast("decimal(18,6)")).alias("__sy__"),
        F.sum((x * x).cast("decimal(28,6)")).alias("__sxx__"),
        F.sum((x * y).cast("decimal(28,6)")).alias("__sxy__"),
    )
    n = F.col("__n__").cast("double")
    mu_x = F.round(F.col("__sx__").cast("double") / n, 9)
    mu_y = F.round(F.col("__sy__").cast("double") / n, 9)
    var_x = F.round(F.col("__sxx__").cast("double") / n - mu_x * mu_x, 9)
    cov_xy = F.round(F.col("__sxy__").cast("double") / n - mu_x * mu_y, 9)
    theta = F.when(var_x > 1e-12, F.round(cov_xy / var_x, 9)).otherwise(
        F.lit(0.0)
    )
    moments = stats.select(mu_x.alias("__mx__"), theta.alias("__th__"))
    adj = F.round(
        y - F.col("__th__") * (x - F.col("__mx__")), 9
    )
    per_unit = df.crossJoin(F.broadcast(moments)).select(
        F.col(group_col).alias("grp"),
        y.alias("__y__"),
        adj.alias("__ya__"),
    )
    g = per_unit.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__y__").cast("decimal(18,6)")).alias("__gsy__"),
        F.sum(F.col("__ya__").cast("decimal(18,6)")).alias("__gsya__"),
        F.sum((F.col("__y__") * F.col("__y__")).cast("decimal(28,6)")).alias(
            "__gsyy__"
        ),
        F.sum(
            (F.col("__ya__") * F.col("__ya__")).cast("decimal(28,6)")
        ).alias("__gsyaya__"),
    )
    gn = F.col("n").cast("double")
    m_raw = F.col("__gsy__").cast("double") / gn
    m_adj = F.col("__gsya__").cast("double") / gn
    v_raw = F.col("__gsyy__").cast("double") / gn - m_raw * m_raw
    v_adj = F.col("__gsyaya__").cast("double") / gn - m_adj * m_adj
    return g.select(
        F.col("grp").alias(group_col),
        "n",
        F.round(m_raw, digits).alias("mean_raw"),
        F.round(m_adj, digits).alias("mean_adj"),
        F.round(F.sqrt(F.greatest(v_raw, F.lit(0.0))), digits).alias("sd_raw"),
        F.round(F.sqrt(F.greatest(v_adj, F.lit(0.0))), digits).alias("sd_adj"),
        F.when(
            v_raw > 0, F.round(1.0 - v_adj / v_raw, digits)
        ).otherwise(F.lit(0.0)).alias("var_reduction"),
    )


def risk_measures(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    z: float = Z_975,
    digits: int = 6,
) -> DataFrame:
    """2x2 risk ratio / risk difference / NNT with Wald 95% CIs — the
    cohort-study effect measures that complement ``odds_ratio``'s
    case-control view (the RWE dashboard reports raw co-occurrence
    proportions, 01-rwe-dashboard.r:103-110; these are the standard
    epidemiological read-outs over the same 2x2). ONE row:

        (a, b, c, d, risk_exposed, risk_unexposed,
         risk_ratio, rr_lo, rr_hi, risk_diff, rd_lo, rd_hi, nnt)

    a = exposed cases, b = exposed non-cases, c = unexposed cases,
    d = unexposed non-cases.

        RR = (a/n1) / (c/n0),  log-CI = ln RR +- z sqrt(b/(a n1) + d/(c n0))
        RD = a/n1 - c/n0,      CI = RD +- z sqrt(p1 q1/n1 + p0 q0/n0)
        NNT = 1 / |RD|  (NULL when RD = 0 — no effect, no NNT)

    RR and its CI are NULL when a = 0 or c = 0 (log undefined); RD is
    defined whenever both margins are non-empty. No continuity
    correction anywhere — a silent +0.5 would change every published
    number; correct upstream if needed.

    Scale shape: ONE conditional-count aggregate (4 longs leave the
    cluster); every derived measure is pure column arithmetic on that
    single row. The z quantile is the shared literal (``Z_975``) so
    the oracle adds identical doubles.
    """
    ex = F.col(exposure_col).cast("boolean")
    oc = F.col(outcome_col).cast("boolean")
    cells = df.agg(
        F.sum((ex & oc).cast("long")).alias("a"),
        F.sum((ex & ~oc).cast("long")).alias("b"),
        F.sum((~ex & oc).cast("long")).alias("c"),
        F.sum((~ex & ~oc).cast("long")).alias("d"),
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    c, d = F.col("c").cast("double"), F.col("d").cast("double")
    n1, n0 = a + b, c + d
    p1 = F.when(n1 > 0, a / n1)
    p0 = F.when(n0 > 0, c / n0)
    zz = F.lit(float(z))
    rr_ok = (a > 0) & (c > 0)
    lrr = F.log(p1 / p0)
    se_lrr = F.sqrt(b / (a * n1) + d / (c * n0))
    rd = p1 - p0
    se_rd = F.sqrt(p1 * (1.0 - p1) / n1 + p0 * (1.0 - p0) / n0)
    return cells.select(
        "a", "b", "c", "d",
        F.round(p1, digits).alias("risk_exposed"),
        F.round(p0, digits).alias("risk_unexposed"),
        F.round(F.when(rr_ok, F.exp(lrr)), digits).alias("risk_ratio"),
        F.round(F.when(rr_ok, F.exp(lrr - zz * se_lrr)), digits).alias("rr_lo"),
        F.round(F.when(rr_ok, F.exp(lrr + zz * se_lrr)), digits).alias("rr_hi"),
        F.round(rd, digits).alias("risk_diff"),
        F.round(rd - zz * se_rd, digits).alias("rd_lo"),
        F.round(rd + zz * se_rd, digits).alias("rd_hi"),
        F.round(
            F.when(F.abs(rd) > 0, 1.0 / F.abs(rd)), digits
        ).alias("nnt"),
    )


def mcnemar_test(
    df: DataFrame,
    flag_a: str,
    flag_b: str,
    digits: int = 6,
) -> DataFrame:
    """McNemar's test for paired binary outcomes — marginal-homogeneity
    check for before/after flags or two classifiers on the SAME units
    (the paired counterpart of ``chisq_2x2``, which assumes
    independent groups; pairs with ``cohens_kappa`` the way chi-square
    pairs with Cramer's V). ONE row:

        (n, n_discordant_a, n_discordant_b, chi2)
        chi2 = (b - c)^2 / (b + c)

    over the discordant cells only: b = a-only (A=1, B=0), c = B-only.
    NO continuity correction (Edwards' -1 would shift every value;
    documented, apply upstream if wanted). chi2 is NULL when b + c = 0
    — the statistic is undefined with zero discordant pairs, not 0.

    Scale shape: one conditional-count aggregate; integer arithmetic
    until the final division.
    """
    fa = F.col(flag_a).cast("boolean")
    fb = F.col(flag_b).cast("boolean")
    cells = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((fa & ~fb).cast("long")).alias("n_discordant_a"),
        F.sum((~fa & fb).cast("long")).alias("n_discordant_b"),
    )
    b = F.col("n_discordant_a").cast("double")
    c = F.col("n_discordant_b").cast("double")
    chi2 = F.when((b + c) > 0, (b - c) * (b - c) / (b + c))
    return cells.select(
        "n", "n_discordant_a", "n_discordant_b",
        F.round(chi2, digits).alias("chi2"),
    )


def cmh_test(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    stratum_col: str,
    digits: int = 6,
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 analysis — the
    confounder-adjusted effect estimate (exposure vs outcome within
    strata of e.g. site / age band / segment), the standard
    epidemiological upgrade of the dashboard's crude chi-square
    association (01-rwe-dashboard.r:110-124). ONE row:

        (k, n, or_mh, chi2_mh)

    or_mh = Mantel-Haenszel pooled odds ratio
          = sum_i(a_i d_i / n_i) / sum_i(b_i c_i / n_i)
    chi2_mh = (sum a_i - sum E_i)^2 / sum V_i        (1 dof)
        E_i = n1_i m1_i / n_i
        V_i = n1_i n0_i m1_i m0_i / (n_i^2 (n_i - 1))

    NO continuity correction (documented; the -0.5 variant would
    change published values). Strata with n_i < 2 are EXCLUDED from
    all sums (their variance term is undefined — 0/0); or_mh is NULL
    when the denominator sum is 0, chi2 NULL when sum V = 0.

    Scale shape: the only fact-scale operation is ONE group-count on
    the stratum (4 conditional longs per stratum); E/V/OR terms are
    computed per stratum as doubles ROUNDED to 9 digits and summed as
    decimals — the cross-stratum reduction is order-independent, so
    the result is partition-invariant and the oracle replays it
    exactly.
    """
    ex = F.col(exposure_col).cast("boolean")
    oc = F.col(outcome_col).cast("boolean")
    cells = df.groupBy(F.col(stratum_col).alias("__s__")).agg(
        F.sum((ex & oc).cast("long")).alias("__a__"),
        F.sum((ex & ~oc).cast("long")).alias("__b__"),
        F.sum((~ex & oc).cast("long")).alias("__c__"),
        F.sum((~ex & ~oc).cast("long")).alias("__d__"),
    )
    a, b = F.col("__a__").cast("double"), F.col("__b__").cast("double")
    c, d = F.col("__c__").cast("double"), F.col("__d__").cast("double")
    n = a + b + c + d
    n1, n0 = a + b, c + d
    m1, m0 = a + c, b + d
    ok = n >= 2
    dec = "decimal(28,9)"
    terms = cells.filter(ok).select(
        F.round(a * d / n, 9).cast(dec).alias("__num__"),
        F.round(b * c / n, 9).cast(dec).alias("__den__"),
        F.col("__a__").alias("__ai__"),
        F.round(n1 * m1 / n, 9).cast(dec).alias("__e__"),
        F.round(n1 * n0 * m1 * m0 / (n * n * (n - 1.0)), 9).cast(dec).alias(
            "__v__"
        ),
        (F.col("__a__") + F.col("__b__") + F.col("__c__") + F.col("__d__"))
        .alias("__n__"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__n__").cast("long").alias("n"),
        F.sum("__num__").alias("__snum__"),
        F.sum("__den__").alias("__sden__"),
        F.sum("__ai__").cast("long").alias("__sa__"),
        F.sum("__e__").alias("__se__"),
        F.sum("__v__").alias("__sv__"),
    )
    snum = F.col("__snum__").cast("double")
    sden = F.col("__sden__").cast("double")
    sa = F.col("__sa__").cast("double")
    se = F.col("__se__").cast("double")
    sv = F.col("__sv__").cast("double")
    return s.select(
        "k", "n",
        F.round(F.when(sden > 0, snum / sden), digits).alias("or_mh"),
        F.round(
            F.when(sv > 0, (sa - se) * (sa - se) / sv), digits
        ).alias("chi2_mh"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
    digits: int = 6,
) -> DataFrame:
    """Cochran-Armitage test for trend — does outcome probability rise
    or fall MONOTONICALLY across ordered exposure levels (dose bands,
    severity grades, priority tiers)? The ordered-exposure upgrade of
    the r x c chi-square (``chisq_rc``), which ignores level order.
    ONE row:

        (n, k_levels, z)
        z = (T - pbar S1) / sqrt(pbar (1 - pbar) (S2 - S1^2 / N))

    with T = sum_i s_i r_i, S1 = sum_i s_i n_i, S2 = sum_i s_i^2 n_i
    over levels i (n_i subjects, r_i cases, numeric score s_i), and
    pbar = R / N the pooled outcome rate. Positive z = outcome rate
    increases with the score. z is NULL when the variance term is 0
    (constant score or degenerate outcome).

    Scale shape: one group-count on the level column (k rows), then
    integer/decimal sufficient sums over the bounded level table —
    scores cast to decimal(18,6) so T/S1/S2 are exact and
    order-independent; one final double division.
    """
    lv = df.groupBy(F.col(score_col).alias("__s__")).agg(
        F.count(F.lit(1)).cast("long").alias("__n__"),
        F.sum(F.col(outcome_col).cast("long")).alias("__r__"),
    )
    sdec = F.col("__s__").cast("decimal(18,6)")
    sums = lv.agg(
        F.sum("__n__").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_levels"),
        F.sum(F.col("__r__")).cast("long").alias("__R__"),
        F.sum(sdec * F.col("__r__")).alias("__T__"),
        F.sum(sdec * F.col("__n__")).alias("__S1__"),
        F.sum(sdec * sdec * F.col("__n__")).alias("__S2__"),
    )
    nn = F.col("n").cast("double")
    pbar = F.col("__R__").cast("double") / nn
    t = F.col("__T__").cast("double")
    s1 = F.col("__S1__").cast("double")
    s2 = F.col("__S2__").cast("double")
    var = pbar * (1.0 - pbar) * (s2 - s1 * s1 / nn)
    return sums.select(
        "n", "k_levels",
        F.round(
            F.when(var > 0, (t - pbar * s1) / F.sqrt(var)), digits
        ).alias("z"),
    )


def nelson_aalen(
    subjects: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_cols: Sequence[str] | None = None,
    digits: int = 6,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — ``kaplan_meier``'s
    additive sibling (same subject table contract: one row per subject
    with numeric duration + 0/1 event flag + optional arm columns):

        (group..., t, n_risk, n_event, n_censor, cum_hazard)
        H(t) = sum_{s <= t} d_s / n_s

    Preferred over -ln S(t) when comparing hazards directly or feeding
    a hazard-based model; KM and NA ride the identical risk-set
    machinery, so any discrepancy between the two outputs is a data
    problem, not an estimator problem.

    Distributed shape: identical to ``kaplan_meier`` — one subject-
    scale groupBy on (group, duration), then windows over the bounded
    exit-time table. The running sum adds per-step hazard increments
    d/n ROUNDED to ``digits`` as decimals, so the cumulative value is
    order-independent and SQL-replayable exactly.
    """
    groups = list(group_cols or [])
    exits = subjects.groupBy(*groups, duration_col).agg(
        F.sum(F.col(event_col).cast("long")).alias("n_event"),
        (F.count(F.lit(1)) - F.sum(F.col(event_col).cast("long"))).alias(
            "n_censor"
        ),
    )
    w_all = Window.partitionBy(*groups) if groups else Window.partitionBy()
    w_prior = (
        w_all.orderBy(duration_col).rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = w_all.orderBy(duration_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_total = F.sum(F.col("n_event") + F.col("n_censor")).over(w_all)
    n_prior = F.coalesce(
        F.sum(F.col("n_event") + F.col("n_censor")).over(w_prior), F.lit(0)
    )
    at_risk = exits.withColumn("n_risk", (n_total - n_prior).cast("long"))
    inc = F.round(
        F.col("n_event").cast("double") / F.col("n_risk").cast("double"),
        digits,
    ).cast("decimal(28,6)")
    return at_risk.select(
        *groups,
        F.col(duration_col).alias("t"),
        "n_risk",
        "n_event",
        "n_censor",
        F.round(F.sum(inc).over(w_cum).cast("double"), digits).alias(
            "cum_hazard"
        ),
    )


def smd_balance(
    df: DataFrame,
    group_col: str,
    covariate_cols: Sequence[str],
    digits: int = 6,
) -> DataFrame:
    """Standardized-mean-difference covariate balance table — the
    first table of every observational/comparative study (is the
    treated group comparable to the controls before/after matching?).
    One row per covariate:

        (covariate, n_treat, n_ctrl, mean_treat, mean_ctrl, smd)
        SMD = (m_t - m_c) / sqrt((v_t + v_c) / 2)

    with v the POPULATION variances (the Austin 2011 convention).
    |SMD| > 0.1 is the usual imbalance flag. SMD is NULL when the
    pooled variance is 0 (constant covariate).

    Scale shape: ONE conditional-aggregate pass computes every
    covariate's per-arm decimal sufficient statistics (2 counts +
    4 sums per covariate, all map-side combinable); the per-covariate
    rows are then exploded from that single reduced row — the fact
    table is scanned once regardless of covariate count.
    """
    g = F.col(group_col).cast("boolean")
    aggs = [
        F.sum(g.cast("long")).alias("__n1__"),
        F.sum((~g).cast("long")).alias("__n0__"),
    ]
    for c in covariate_cols:
        x = F.col(c).cast("double")
        aggs += [
            F.sum(F.when(g, x).cast("decimal(28,6)")).alias(f"__s1_{c}__"),
            F.sum(F.when(~g, x).cast("decimal(28,6)")).alias(f"__s0_{c}__"),
            F.sum(F.when(g, x * x).cast("decimal(38,6)")).alias(f"__q1_{c}__"),
            F.sum(F.when(~g, x * x).cast("decimal(38,6)")).alias(f"__q0_{c}__"),
        ]
    red = df.agg(*aggs)
    per_cov = red.select(
        F.col("__n1__"), F.col("__n0__"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("covariate"),
                    F.col(f"__s1_{c}__").alias("s1"),
                    F.col(f"__s0_{c}__").alias("s0"),
                    F.col(f"__q1_{c}__").alias("q1"),
                    F.col(f"__q0_{c}__").alias("q0"),
                )
                for c in covariate_cols
            ])
        ).alias("__c__"),
    )
    n1 = F.col("__n1__").cast("double")
    n0 = F.col("__n0__").cast("double")
    m1 = F.col("__c__.s1").cast("double") / n1
    m0 = F.col("__c__.s0").cast("double") / n0
    v1 = F.col("__c__.q1").cast("double") / n1 - m1 * m1
    v0 = F.col("__c__.q0").cast("double") / n0 - m0 * m0
    pooled = (v1 + v0) / 2.0
    return per_cov.select(
        F.col("__c__.covariate").alias("covariate"),
        F.col("__n1__").alias("n_treat"),
        F.col("__n0__").alias("n_ctrl"),
        F.round(m1, digits).alias("mean_treat"),
        F.round(m0, digits).alias("mean_ctrl"),
        F.round(
            F.when(pooled > 0, (m1 - m0) / F.sqrt(pooled)), digits
        ).alias("smd"),
    )


def score_match(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Nearest-neighbor score matching WITH replacement — the
    propensity-score matching step (each treated unit gets the control
    whose score is closest; ties at equal distance resolve to the
    lower-score side, equal-score ties to the highest control id —
    fully deterministic). One output row per treated unit:

        (treated_id, treated_score, control_id, control_score,
         match_dist)

    Scale shape — NO global sort: units land in ``n_buckets`` score-
    range buckets (range from one tiny min/max pre-aggregate,
    broadcast). Within a bucket, backward/forward nearest controls
    ride ONE bucket-partitioned window sort (order: score, side, id;
    controls sort before treated at equal scores, so an exact-score
    match is the backward candidate at distance 0). Cross-bucket
    fallback comes from a bucket-boundary summary table (2 rows of
    state per bucket, cumulative carries over that ``n_buckets``-row
    table only) broadcast back — the same bounded-handoff pattern as
    ``seq_gaps``/``budget_select``. The oracle replays the pure
    definition with one global window instead, certifying the bucket
    machinery against brute force.
    """
    g = F.col(group_col).cast("boolean")
    s = F.col(score_col).cast("double")
    rng = df.agg(
        F.min(s).alias("__lo__"), F.max(s).alias("__hi__")
    )
    u = df.crossJoin(F.broadcast(rng)).select(
        g.alias("__t__"),
        s.alias("__s__"),
        F.col(id_col).alias("__id__"),
        F.least(
            F.lit(n_buckets - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (s - F.col("__lo__"))
                    / F.when(
                        F.col("__hi__") > F.col("__lo__"),
                        F.col("__hi__") - F.col("__lo__"),
                    ).otherwise(F.lit(1.0))
                    * n_buckets
                ).cast("int"),
            ),
        ).alias("__b__"),
    )
    ctrl_struct = F.when(
        ~F.col("__t__"), F.struct(F.col("__s__"), F.col("__id__"))
    )
    order = [F.col("__s__"), F.col("__t__").cast("int"), F.col("__id__")]
    w_back = (
        Window.partitionBy("__b__").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("__b__").orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = u.select(
        "__t__", "__s__", "__id__", "__b__",
        F.last(ctrl_struct, ignorenulls=True).over(w_back).alias("__wb__"),
        F.first(ctrl_struct, ignorenulls=True).over(w_fwd).alias("__wf__"),
    )
    # bucket-boundary summary: last/first control per bucket, then
    # cumulative carries over the bounded bucket table (n_buckets rows)
    edges = u.groupBy("__b__").agg(
        F.max(ctrl_struct).alias("__bmax__"),
        F.min(ctrl_struct).alias("__bmin__"),
    )
    w_prev = Window.orderBy("__b__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_next = Window.orderBy("__b__").rowsBetween(1, Window.unboundedFollowing)
    buckets = edges.select(
        "__b__",
        F.last("__bmax__", ignorenulls=True).over(w_prev).alias("__prev__"),
        F.first("__bmin__", ignorenulls=True).over(w_next).alias("__next__"),
    )
    j = carried.filter(F.col("__t__")).join(
        F.broadcast(buckets), on="__b__", how="left"
    )
    back = F.coalesce(F.col("__wb__"), F.col("__prev__"))
    fwd = F.coalesce(F.col("__wf__"), F.col("__next__"))
    ts = F.col("__s__")
    back_wins = fwd.isNull() | (
        back.isNotNull()
        & ((ts - back["__s__"]) <= (fwd["__s__"] - ts))
    )
    chosen = F.when(back_wins, back).otherwise(fwd)
    return j.select(
        F.col("__id__").alias("treated_id"),
        F.col("__s__").alias("treated_score"),
        chosen["__id__"].alias("control_id"),
        chosen["__s__"].alias("control_score"),
        F.abs(ts - chosen["__s__"]).alias("match_dist"),
    )


def permutation_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_perm: int = 200,
    digits: int = 6,
) -> DataFrame:
    """Randomization test for a difference in group means — the
    distribution-free p-value for an A/B read-out (``ab_test_proportions``'
    continuous-metric sibling without the normality assumption). ONE
    row:

        (n, n_treat, diff_obs, n_perm, n_extreme, p_value)

    Each replicate REASSIGNS every unit to 'treated' independently
    with probability n1/n (the binomial approximation to the exact
    permutation distribution — the standard distributed relaxation;
    exact label-permutation needs a global shuffle per replicate) and
    recomputes the mean difference; p = (1 + #{|d_b| >= |d_obs|}) /
    (n_perm + 1), the add-one rule that keeps p > 0.

    Determinism / oracle parity: assignment uniforms ride the SAME
    md5 4-slot carving as ``poisson_bootstrap_mean`` (u =
    md5(id|ceil(b/4)) slot / 2^32, bit-identical in both engines);
    the threshold n1/n and each replicate difference are rounded to 9
    before comparison, replicate sums accumulate as decimals — no
    float merge-order anywhere. Replicates with a degenerate
    assignment (all units one arm) contribute |d| = NULL and count as
    NOT extreme (documented).

    Scale shape: same as the bootstrap — explode n x n_perm, collapse
    immediately through a map-side-combinable groupBy(b); shuffle
    volume is n_perm x partitions. The narrow projection is floored
    first (``ensure_parallelism``) so a coarse scan cannot pin the
    hashing.
    """
    g = F.col(group_col).cast("boolean")
    base = df.select(
        F.col(id_col).alias("__id__"),
        F.col(value_col).cast("double").alias("__x__"),
        g.alias("__g__"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__g__").cast("long")).alias("n_treat"),
        F.sum(F.when(F.col("__g__"), F.col("__x__")).cast("decimal(28,6)")).alias("__s1__"),
        F.sum(F.when(~F.col("__g__"), F.col("__x__")).cast("decimal(28,6)")).alias("__s0__"),
    )
    nn = F.col("n").cast("double")
    n1 = F.col("n_treat").cast("double")
    d_obs = F.round(
        F.col("__s1__").cast("double") / n1
        - F.col("__s0__").cast("double") / (nn - n1),
        9,
    )
    obs = stats.select(
        "n", "n_treat",
        F.round(n1 / nn, 9).alias("__p1__"),
        d_obs.alias("__dobs__"),
    )
    narrow = ensure_parallelism(base.select("__id__", "__x__"))
    # r15: same two-stage explode as poisson_bootstrap_mean — one md5
    # per (row, 4-replicate hash group) instead of one per replicate;
    # every u bit-identical (same hash string, same slot arithmetic)
    n_grp = (int(n_perm) + 3) // 4
    grp = F.explode(F.sequence(F.lit(1), F.lit(n_grp))).alias("__grp__")
    slot = F.explode(
        F.sequence(
            F.lit(0),
            F.least(
                F.lit(3),
                F.lit(int(n_perm)) - (F.col("__grp__") - 1) * 4 - 1,
            ).cast("int"),
        )
    ).alias("__slot__")
    u = (
        F.conv(
            F.col("__h__").substr(
                (F.col("__slot__") * 8 + 1).cast("int"), F.lit(8)
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    rep = (
        narrow.crossJoin(F.broadcast(obs.select("__p1__")))
        .select("__id__", "__x__", "__p1__", grp)
        .select(
            "__x__",
            "__p1__",
            "__grp__",
            F.md5(F.concat_ws("|", F.col("__id__"), F.col("__grp__"))).alias(
                "__h__"
            ),
        )
        .select("__x__", "__p1__", "__grp__", "__h__", slot)
        .select(
            ((F.col("__grp__") - 1) * 4 + F.col("__slot__") + 1).alias("b"),
            F.col("__x__"),
            (u < F.col("__p1__")).alias("__t__"),
        )
        .groupBy("b")
        .agg(
            F.sum(F.col("__t__").cast("long")).alias("__k1__"),
            F.sum(F.when(F.col("__t__"), F.col("__x__")).cast("decimal(28,6)")).alias("__r1__"),
            F.sum(F.when(~F.col("__t__"), F.col("__x__")).cast("decimal(28,6)")).alias("__r0__"),
            F.count(F.lit(1)).alias("__nb__"),
        )
    )
    k1 = F.col("__k1__").cast("double")
    nb = F.col("__nb__").cast("double")
    d_b = F.when(
        (F.col("__k1__") > 0) & (F.col("__k1__") < F.col("__nb__")),
        F.round(
            F.col("__r1__").cast("double") / k1
            - F.col("__r0__").cast("double") / (nb - k1),
            9,
        ),
    )
    # join the observed diff in to count extremes in the same reduction
    ext = (
        rep.crossJoin(F.broadcast(obs.select("__dobs__")))
        .select(
            (F.abs(d_b) >= F.abs(F.col("__dobs__"))).cast("long").alias("__e__")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_perm"),
            F.coalesce(F.sum("__e__"), F.lit(0)).cast("long").alias("n_extreme"),
        )
    )
    return (
        obs.crossJoin(F.broadcast(ext))
        .select(
            "n", "n_treat",
            F.round(F.col("__dobs__"), digits).alias("diff_obs"),
            "n_perm", "n_extreme",
            F.round(
                (1.0 + F.col("n_extreme")) / (F.col("n_perm") + 1.0), digits
            ).alias("p_value"),
        )
    )


def info_gain(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    digits: int = 9,
) -> DataFrame:
    """Per-feature mutual information with a label — the filter-style
    feature ranking (information gain = I(feature; label) in nats),
    ``mutual_information`` generalized to many candidate columns in
    one pass. One row per feature, descending MI:

        (feature, n_values, mi_nats)

    NULL feature values form their own level (missingness is
    informative); the label must be non-null.

    Scale shape: ONE unpivot projection (k rows per input row, k =
    feature count) into a single (feature, value, label) group-count —
    the only fact-scale shuffle; marginals and the decimal-summed
    rounded cell terms run on the bounded (feature x value x label)
    table, exactly the certified mutual_information discipline.
    """
    stacked = df.filter(F.col(label_col).isNotNull()).select(
        F.col(label_col).cast("string").alias("__y__"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("f"),
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null")).alias("v"),
                )
                for c in feature_cols
            ])
        ).alias("__fv__"),
    ).select("__y__", F.col("__fv__.f").alias("__f__"), F.col("__fv__.v").alias("__v__"))
    cells = stacked.groupBy("__f__", "__v__", "__y__").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    mx = cells.groupBy("__f__", "__v__").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("__f__", "__y__").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.groupBy("__f__").agg(F.sum("n_xy").alias("__n__"))
    pmi = F.log(
        (F.col("n_xy") * F.col("__n__")) / (F.col("n_x") * F.col("n_y"))
    )
    term = F.round((F.col("n_xy") / F.col("__n__")) * pmi, 14).cast(
        "decimal(28,14)"
    )
    return (
        cells.join(F.broadcast(mx), on=["__f__", "__v__"])
        .join(F.broadcast(my), on=["__f__", "__y__"])
        .join(F.broadcast(tot), on="__f__")
        .groupBy("__f__")
        .agg(
            F.count_distinct(F.col("__v__")).cast("long").alias("n_values"),
            F.round(F.sum(term).cast("double"), digits).alias("mi_nats"),
        )
        .select(F.col("__f__").alias("feature"), "n_values", "mi_nats")
    )


def ols2(
    df: DataFrame,
    group_col: str,
    y_col: str,
    x1_col: str,
    x2_col: str,
    digits: int = 6,
) -> DataFrame:
    """Per-group two-regressor OLS via the normal equations —
    covariate-ADJUSTED effect estimation in closed form (the
    multivariable step past ``fit_linear_per_group``'s single
    regressor, without an iterative solver): solve

        X'X beta = X'y,   X = [1, x1, x2]

    by Cramer's rule on the 3x3 sufficient-statistics matrix. One row
    per group:

        (group, n, b0, b1, b2, r2)

    with r2 = 1 - SSE/SST (the computational identity
    SSE = Syy - b0 Sy - b1 Sx1y - b2 Sx2y). Collinear or degenerate
    groups (|det| ~ 0 relative to scale, or n < 3, or zero outcome
    variance for r2) yield NULLs rather than exploded coefficients.

    Scale shape: ONE map-side-combinable aggregate per group collects
    the 10 decimal sufficient sums (nothing but group rows shuffles);
    the solve is pure column arithmetic on the reduced row. Moments
    are divided once into doubles ROUNDED to 9 before the determinant
    algebra so both engines run identical fp sequences.
    """
    y = F.col(y_col).cast("double")
    x1 = F.col(x1_col).cast("double")
    x2 = F.col(x2_col).cast("double")
    # long-backed decimal(18,6) per-row casts aggregate ~2x faster than
    # wide decimals (Spark widens the sum accumulator itself); the
    # squared terms stay far inside 1e12 for price-scale data
    d6, d28 = "decimal(18,6)", "decimal(18,6)"
    df = ensure_parallelism(df.select(group_col, y_col, x1_col, x2_col))
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1.cast(d6)).alias("__s1__"),
        F.sum(x2.cast(d6)).alias("__s2__"),
        F.sum(y.cast(d6)).alias("__sy__"),
        F.sum((x1 * x1).cast(d28)).alias("__s11__"),
        F.sum((x1 * x2).cast(d28)).alias("__s12__"),
        F.sum((x2 * x2).cast(d28)).alias("__s22__"),
        F.sum((x1 * y).cast(d28)).alias("__s1y__"),
        F.sum((x2 * y).cast(d28)).alias("__s2y__"),
        F.sum((y * y).cast(d28)).alias("__syy__"),
    )
    nn = F.col("n").cast("double")
    # centered second moments (per-observation scale), rounded once
    m1 = F.round(F.col("__s1__").cast("double") / nn, 9)
    m2 = F.round(F.col("__s2__").cast("double") / nn, 9)
    my = F.round(F.col("__sy__").cast("double") / nn, 9)
    c11 = F.round(F.col("__s11__").cast("double") / nn - m1 * m1, 9)
    c12 = F.round(F.col("__s12__").cast("double") / nn - m1 * m2, 9)
    c22 = F.round(F.col("__s22__").cast("double") / nn - m2 * m2, 9)
    c1y = F.round(F.col("__s1y__").cast("double") / nn - m1 * my, 9)
    c2y = F.round(F.col("__s2y__").cast("double") / nn - m2 * my, 9)
    cyy = F.round(F.col("__syy__").cast("double") / nn - my * my, 9)
    det = c11 * c22 - c12 * c12
    scale = F.greatest(F.abs(c11 * c22), F.abs(c12 * c12), F.lit(1e-12))
    ok = (F.col("n") >= 3) & (F.abs(det) > 1e-9 * scale)
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    b0 = my - b1 * m1 - b2 * m2
    sse_over_n = cyy - b1 * c1y - b2 * c2y
    r2 = F.when(cyy > 0, 1.0 - sse_over_n / cyy)
    return g.select(
        F.col("grp").alias(group_col),
        "n",
        (F.round(F.when(ok, b0), digits) + F.lit(0.0)).alias("b0"),
        (F.round(F.when(ok, b1), digits) + F.lit(0.0)).alias("b1"),
        (F.round(F.when(ok, b2), digits) + F.lit(0.0)).alias("b2"),
        (F.round(F.when(ok, r2), digits) + F.lit(0.0)).alias("r2"),
    )


def rmst(
    subjects: DataFrame,
    tau: float,
    duration_col: str = "duration",
    event_col: str = "event",
    group_cols: Sequence[str] | None = None,
    digits: int = 6,
) -> DataFrame:
    """Restricted mean survival time — the area under the Kaplan-Meier
    curve up to horizon ``tau``: "average event-free time over the
    next tau days", the effect measure clinical guidance increasingly
    prefers to hazard ratios when proportional hazards is doubtful
    (Royston & Parmar 2013). One row per group:

        (group..., tau, rmst)

        RMST = sum over KM steps of S(t_i) * (min(t_{i+1}, tau) - t_i)

    with the leading segment S=1 on [0, t_1) and steps at/after tau
    truncated. Uses the SAME ``kaplan_meier`` output (identical risk
    sets — any KM/RMST inconsistency is a data bug, not an estimator
    one).

    Scale shape: everything beyond KM's one subject-scale groupBy runs
    on the bounded exit-time table: one lead window per group, decimal
    sums of rounded step areas.
    """
    groups = list(group_cols or [])
    km = kaplan_meier(subjects, duration_col, event_col, groups, digits)
    w = Window.partitionBy(*groups) if groups else Window.partitionBy()
    w_lead = w.orderBy("t")
    t_next = F.coalesce(
        F.lead(F.col("t").cast("double")).over(w_lead), F.lit(float(tau))
    )
    t_cur = F.col("t").cast("double")
    # segment [t_i, min(t_{i+1}, tau)) carries S(t_i); the pre-first
    # segment [0, t_1) carries S = 1 via the lagged survival at row 1
    first_seg = F.when(
        F.row_number().over(w_lead) == 1,
        F.round(F.least(t_cur, F.lit(float(tau))), 9),
    ).otherwise(F.lit(0.0))
    width = F.greatest(
        F.least(t_next, F.lit(float(tau))) - F.least(t_cur, F.lit(float(tau))),
        F.lit(0.0),
    )
    area = F.round(F.col("survival") * width + first_seg, 9).cast(
        "decimal(28,9)"
    )
    # windows materialize in their own select — they cannot ride
    # inside the aggregate expression
    areas = km.select(*groups, area.alias("__area__"))
    return areas.groupBy(*groups).agg(
        F.lit(float(tau)).alias("tau"),
        F.round(F.sum("__area__").cast("double"), digits).alias("rmst"),
    )


def cem_match(
    df: DataFrame,
    group_col: str,
    strata_cols: Sequence[str],
    digits: int = 6,
) -> DataFrame:
    """Coarsened exact matching (Iacus, King & Porro 2012) — the
    scalable alternative to pairwise propensity matching: units match
    when their COARSENED covariates agree exactly, so matching is a
    pure groupBy (embarrassingly distributed — ``score_match`` needs a
    sort; this needs a shuffle on the stratum key only). Callers
    coarsen upstream (bin ages, band scores); one row per stratum:

        (strata..., n_treat, n_ctrl, matched, control_weight)

    ``matched`` marks strata with BOTH arms (unmatched strata are
    pruned from the analysis — that pruning IS the method); CEM
    weights reweight matched controls to the treated distribution:

        w_c(s) = (n_treat(s) / n_ctrl(s)) * (M_ctrl / M_treat)

    with M_* the matched-arm totals (treated units keep weight 1, and
    sum of control weights = M_ctrl — the standard normalization).
    Weights are NULL for unmatched strata.

    Scale shape: one stratum group-count + a 1-row broadcast of the
    matched totals — two scans of the reduced table, none of the
    facts.
    """
    g = F.col(group_col).cast("boolean")
    strata = list(strata_cols)
    cells = df.groupBy(*strata).agg(
        F.sum(g.cast("long")).alias("n_treat"),
        F.sum((~g).cast("long")).alias("n_ctrl"),
    )
    matched = (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0)
    totals = cells.filter(matched).agg(
        F.sum("n_treat").cast("long").alias("__mt__"),
        F.sum("n_ctrl").cast("long").alias("__mc__"),
    )
    w = (
        F.col("n_treat").cast("double") / F.col("n_ctrl").cast("double")
    ) * (
        F.col("__mc__").cast("double") / F.col("__mt__").cast("double")
    )
    return (
        cells.crossJoin(F.broadcast(totals))
        .select(
            *strata, "n_treat", "n_ctrl",
            matched.alias("matched"),
            F.round(F.when(matched, w), digits).alias("control_weight"),
        )
    )


def did_estimate(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    z: float = Z_975,
    digits: int = 6,
) -> DataFrame:
    """Difference-in-differences — the two-group two-period causal
    read-out (treated/control x pre/post):

        DiD = (m_t,post - m_t,pre) - (m_c,post - m_c,pre)

    with a Wald CI from the four cell variances
    (se^2 = sum of v_i/n_i, the independent-means normal
    approximation; the parallel-trends assumption is the caller's to
    defend). ONE row:

        (n, diff_in_diff, ci_lo, ci_hi,
         pre_gap, post_gap, treat_change, ctrl_change)

    ``pre_gap`` (treated - control before) is the read-out that lets
    a reader eyeball baseline imbalance next to the effect. NULL CI
    when any cell is empty.

    Scale shape: ONE conditional decimal aggregate (4 cells x 3
    sufficient sums); everything else is arithmetic on the single
    reduced row.
    """
    g = F.col(group_col).cast("boolean")
    p = F.col(period_col).cast("boolean")  # True = post
    x = F.col(value_col).cast("double")
    cells = {}
    aggs = []
    for name, cond in [
        ("tpre", g & ~p), ("tpost", g & p),
        ("cpre", ~g & ~p), ("cpost", ~g & p),
    ]:
        aggs += [
            F.sum(cond.cast("long")).alias(f"__n_{name}__"),
            F.sum(F.when(cond, x).cast("decimal(28,6)")).alias(f"__s_{name}__"),
            F.sum(F.when(cond, x * x).cast("decimal(38,6)")).alias(
                f"__q_{name}__"
            ),
        ]
        cells[name] = None
    red = df.agg(*aggs)
    m, v, n = {}, {}, {}
    for name in ("tpre", "tpost", "cpre", "cpost"):
        nn = F.col(f"__n_{name}__").cast("double")
        mm = F.col(f"__s_{name}__").cast("double") / nn
        n[name] = nn
        m[name] = mm
        v[name] = F.col(f"__q_{name}__").cast("double") / nn - mm * mm
    ok = (
        (n["tpre"] > 0) & (n["tpost"] > 0) & (n["cpre"] > 0) & (n["cpost"] > 0)
    )
    did = (m["tpost"] - m["tpre"]) - (m["cpost"] - m["cpre"])
    se = F.sqrt(
        v["tpre"] / n["tpre"] + v["tpost"] / n["tpost"]
        + v["cpre"] / n["cpre"] + v["cpost"] / n["cpost"]
    )
    zz = F.lit(float(z))
    return red.select(
        (
            F.col("__n_tpre__") + F.col("__n_tpost__")
            + F.col("__n_cpre__") + F.col("__n_cpost__")
        ).cast("long").alias("n"),
        F.round(F.when(ok, did), digits).alias("diff_in_diff"),
        F.round(F.when(ok, did - zz * se), digits).alias("ci_lo"),
        F.round(F.when(ok, did + zz * se), digits).alias("ci_hi"),
        F.round(F.when(ok, m["tpre"] - m["cpre"]), digits).alias("pre_gap"),
        F.round(F.when(ok, m["tpost"] - m["cpost"]), digits).alias(
            "post_gap"
        ),
        F.round(F.when(ok, m["tpost"] - m["tpre"]), digits).alias(
            "treat_change"
        ),
        F.round(F.when(ok, m["cpost"] - m["cpre"]), digits).alias(
            "ctrl_change"
        ),
    )


def evalue(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    digits: int = 6,
) -> DataFrame:
    """VanderWeele & Ding's E-value — the unmeasured-confounding
    sensitivity read-out for an observational risk ratio: the minimum
    strength of association an unmeasured confounder would need with
    BOTH exposure and outcome to explain the estimate away,

        E = RR + sqrt(RR (RR - 1))        (RR >= 1; else use 1/RR)

    ONE row (a, b, c, d, risk_ratio, evalue) over the same 2x2 cells
    as ``risk_measures``; E = 1 when RR = 1 (no association needs no
    confounder). NULL when a zero margin makes RR undefined.
    """
    ex = F.col(exposure_col).cast("boolean")
    oc = F.col(outcome_col).cast("boolean")
    cells = df.agg(
        F.sum((ex & oc).cast("long")).alias("a"),
        F.sum((ex & ~oc).cast("long")).alias("b"),
        F.sum((~ex & oc).cast("long")).alias("c"),
        F.sum((~ex & ~oc).cast("long")).alias("d"),
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    c, d = F.col("c").cast("double"), F.col("d").cast("double")
    n1, n0 = a + b, c + d
    ok = (a > 0) & (c > 0) & (n1 > 0) & (n0 > 0)
    rr = (a / n1) / (c / n0)
    rr_star = F.when(rr >= 1.0, rr).otherwise(1.0 / rr)
    ev = rr_star + F.sqrt(rr_star * (rr_star - 1.0))
    return cells.select(
        "a", "b", "c", "d",
        F.round(F.when(ok, rr), digits).alias("risk_ratio"),
        F.round(F.when(ok, ev), digits).alias("evalue"),
    )


def meta_pool_or(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    stratum_col: str,
    z: float = Z_975,
    digits: int = 6,
) -> DataFrame:
    """Fixed-effect inverse-variance meta-analysis of per-stratum odds
    ratios — the multi-site pooling read-out (each site/stratum
    contributes ln OR weighted by 1/var), with Cochran's Q and
    Higgins' I^2 heterogeneity:

        (k, or_pooled, ci_lo, ci_hi, q, i2)

        w_i = 1 / (1/a + 1/b + 1/c + 1/d)
        ln OR_pool = sum w_i ln OR_i / sum w_i
        Q = sum w_i (ln OR_i - ln OR_pool)^2,  I2 = max(0, (Q-k+1)/Q)

    Strata with any zero cell are EXCLUDED (their log-variance is
    undefined; no silent 0.5 correction — ``cmh_test`` handles sparse
    strata, this is the complementary estimator that also yields
    heterogeneity). Contrast the two: MH weights by n, IV by
    precision; divergence between them is itself a sparse-data
    signal.

    Scale shape: one stratum group-count; per-stratum terms rounded
    to 9 and decimal-summed (two bounded passes over the k-row cell
    table: one for the pooled mean, one for Q against it).
    """
    ex = F.col(exposure_col).cast("boolean")
    oc = F.col(outcome_col).cast("boolean")
    cells = df.groupBy(F.col(stratum_col).alias("__s__")).agg(
        F.sum((ex & oc).cast("long")).alias("__a__"),
        F.sum((ex & ~oc).cast("long")).alias("__b__"),
        F.sum((~ex & oc).cast("long")).alias("__c__"),
        F.sum((~ex & ~oc).cast("long")).alias("__d__"),
    )
    a, b = F.col("__a__").cast("double"), F.col("__b__").cast("double")
    c, d = F.col("__c__").cast("double"), F.col("__d__").cast("double")
    ok = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    lor = F.round(F.log((a * d) / (b * c)), 9)
    wt = F.round(1.0 / (1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d), 9)
    terms = cells.filter(ok).select(
        lor.alias("__l__"),
        wt.alias("__w__"),
        F.round(wt * lor, 9).cast("decimal(28,9)").alias("__wl__"),
        wt.cast("decimal(28,9)").alias("__wd__"),
    )
    pooled = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__wl__").alias("__swl__"),
        F.sum("__wd__").alias("__sw__"),
    ).select(
        "k",
        F.round(
            F.col("__swl__").cast("double") / F.col("__sw__").cast("double"),
            9,
        ).alias("__mu__"),
        F.col("__sw__").cast("double").alias("__swd__"),
    )
    qterms = terms.crossJoin(F.broadcast(pooled)).select(
        "k", "__mu__", "__swd__",
        F.round(
            F.col("__w__")
            * (F.col("__l__") - F.col("__mu__"))
            * (F.col("__l__") - F.col("__mu__")),
            9,
        ).cast("decimal(28,9)").alias("__q__"),
    )
    zz = F.lit(float(z))
    se = 1.0 / F.sqrt(F.col("__swd__"))
    q = F.col("__qsum__").cast("double")
    kk = F.col("k").cast("double")
    return (
        qterms.groupBy("k", "__mu__", "__swd__")
        .agg(F.sum("__q__").alias("__qsum__"))
        .select(
            "k",
            F.round(F.exp(F.col("__mu__")), digits).alias("or_pooled"),
            F.round(F.exp(F.col("__mu__") - zz * se), digits).alias("ci_lo"),
            F.round(F.exp(F.col("__mu__") + zz * se), digits).alias("ci_hi"),
            F.round(q, digits).alias("q"),
            F.round(
                F.when(q > 0, F.greatest(F.lit(0.0), (q - (kk - 1.0)) / q))
                .otherwise(F.lit(0.0)),
                digits,
            ).alias("i2"),
        )
    )


def std_rate(
    df: DataFrame,
    group_col: str,
    stratum_col: str,
    time_col: str,
    events_col: str,
    per: float = 1000.0,
    digits: int = 6,
) -> DataFrame:
    """Directly standardized rates — compare groups' event rates with
    the stratum mix (age bands, case-mix) held fixed at the POOLED
    person-time distribution: the standard epidemiological adjustment
    when crude rates mislead because groups differ in composition
    (``person_time_rate``'s crude output, adjusted). One row per
    group:

        (group, person_time, n_events, crude_rate, adj_rate)

        adj_rate = per * sum_s W_s r_gs,  W_s = T_s / T,
        r_gs = events_gs / time_gs

    Groups missing a stratum contribute that stratum's weight at rate
    0 (explicitly — absence of exposure is a zero rate, not a skipped
    weight, so weights always sum to 1 and groups stay comparable).

    Scale shape: one (group, stratum) aggregate; the standard weights
    are a broadcast stratum-table join; per-stratum terms rounded to
    9 and decimal-summed.
    """
    t = F.col(time_col).cast("double")
    e = F.col(events_col).cast("long")
    gs = df.groupBy(
        F.col(group_col).alias("__g__"), F.col(stratum_col).alias("__s__")
    ).agg(
        F.sum(t.cast("decimal(28,6)")).alias("__t__"),
        F.sum(e).alias("__e__"),
    )
    std = gs.groupBy("__s__").agg(
        F.sum("__t__").alias("__ts__")
    )
    tot = std.agg(F.sum("__ts__").alias("__tt__"))
    weights = std.crossJoin(F.broadcast(tot)).select(
        "__s__",
        F.round(
            F.col("__ts__").cast("double") / F.col("__tt__").cast("double"), 9
        ).alias("__w__"),
    )
    # every (group x stratum) cell exists: absent cells = rate 0
    grid = (
        gs.select("__g__").distinct()
        .crossJoin(F.broadcast(weights))
        .join(gs, on=["__g__", "__s__"], how="left")
    )
    r_gs = F.when(
        F.col("__t__").cast("double") > 0,
        F.col("__e__").cast("double") / F.col("__t__").cast("double"),
    ).otherwise(F.lit(0.0))
    terms = grid.select(
        "__g__",
        F.coalesce(F.col("__t__"), F.lit(0).cast("decimal(28,6)")).alias(
            "__t__"
        ),
        F.coalesce(F.col("__e__"), F.lit(0)).cast("long").alias("__e__"),
        F.round(F.col("__w__") * r_gs, 12).cast("decimal(28,12)").alias(
            "__wr__"
        ),
    )
    out = terms.groupBy("__g__").agg(
        F.round(F.sum("__t__").cast("double"), digits).alias("person_time"),
        F.sum("__e__").cast("long").alias("n_events"),
        F.sum("__wr__").alias("__adj__"),
    )
    crude = F.when(
        F.col("person_time") > 0,
        F.lit(float(per)) * F.col("n_events").cast("double")
        / F.col("person_time"),
    )
    return out.select(
        F.col("__g__").alias(group_col),
        "person_time", "n_events",
        F.round(crude, digits).alias("crude_rate"),
        F.round(
            F.lit(float(per)) * F.col("__adj__").cast("double"), digits
        ).alias("adj_rate"),
    )


def weighted_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    w_col: str,
    digits: int = 6,
) -> DataFrame:
    """Per-group WEIGHTED Pearson correlation — the exposure-aware
    association read-out (e.g. correlate price and discount weighting
    each line by its quantity, so a 50-unit line counts 50x a 1-unit
    line). Reference parity: generalizes the unweighted association
    screens (``corr_matrix``; 01-rwe-dashboard.r:110-124's association
    step) to frequency/exposure weights.

        r_w = cov_w(x,y) / sqrt(var_w(x) var_w(y)),
        cov_w(x,y) = Swxy/Sw - (Swx/Sw)(Swy/Sw)

    Scale shape: ONE map-side-combinable aggregate per group collects
    six decimal sufficient sums (long-backed decimal(18,6) per-row
    terms — the ols2/corr_matrix lesson); the sums divide once into
    round-9 doubles before the moment algebra so both engines run
    identical fp sequences. Nothing but group rows shuffles, so the
    plan is a scan + partial agg + exchange on the group key. Zero
    weighted variance (constant x or y) yields NULL.
    Returns (group..., n, w_sum, r_w).
    """
    gcols = list(group_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    w = F.col(w_col).cast("double")
    d6 = "decimal(18,6)"
    base = df.select(*gcols, x_col, y_col, w_col).filter(
        x.isNotNull() & y.isNotNull() & w.isNotNull() & (w > 0)
    )
    mom = ensure_parallelism(base).groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(w.cast(d6)).alias("__sw__"),
        F.sum((w * x).cast(d6)).alias("__swx__"),
        F.sum((w * y).cast(d6)).alias("__swy__"),
        F.sum((w * x * x).cast(d6)).alias("__swxx__"),
        F.sum((w * y * y).cast(d6)).alias("__swyy__"),
        F.sum((w * x * y).cast(d6)).alias("__swxy__"),
    )
    # decimal sums divide once into round-9 doubles BEFORE the moment
    # algebra (the ols2 lesson — decimal x decimal cross-products
    # overflow the 38-digit cap differently per engine)
    sw = F.col("__sw__").cast("double")
    mx = F.round(F.col("__swx__").cast("double") / sw, 9)
    my = F.round(F.col("__swy__").cast("double") / sw, 9)
    cxx = F.round(F.col("__swxx__").cast("double") / sw - mx * mx, 9)
    cyy = F.round(F.col("__swyy__").cast("double") / sw - my * my, 9)
    cxy = F.round(F.col("__swxy__").cast("double") / sw - mx * my, 9)
    r = F.when(
        (cxx > 0.0) & (cyy > 0.0), cxy / F.sqrt(cxx * cyy)
    ).otherwise(F.lit(None).cast("double"))
    return mom.select(
        *gcols,
        "n",
        F.col("__sw__").cast("double").alias("w_sum"),
        (F.round(r, digits) + F.lit(0.0)).alias("r_w"),
    )


def partial_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    z_col: str,
    digits: int = 6,
) -> DataFrame:
    """Per-group PARTIAL Pearson correlation of x and y CONTROLLING
    for z — the confounder-adjusted association screen (does price
    still track quantity once discount is held fixed?):

        r_xy.z = (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2))

    All three pairwise correlations come from ONE map-side-combinable
    aggregate of nine decimal sufficient sums — a single scan, one
    exchange on the group key (vs three separate corr passes). The
    pairwise r's are rounded to 9 digits BEFORE the partial formula so
    both engines run identical fp sequences (the ols2 lesson).
    Degenerate groups (any zero variance, |r_xz| or |r_yz| = 1) yield
    NULL. Returns (group..., n, r_xy, r_xy_z).
    """
    gcols = list(group_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    z = F.col(z_col).cast("double")
    d6 = "decimal(18,6)"
    base = df.select(*gcols, x_col, y_col, z_col).filter(
        x.isNotNull() & y.isNotNull() & z.isNotNull()
    )
    mom = ensure_parallelism(base).groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast(d6)).alias("__sx__"),
        F.sum(y.cast(d6)).alias("__sy__"),
        F.sum(z.cast(d6)).alias("__sz__"),
        F.sum((x * x).cast(d6)).alias("__sxx__"),
        F.sum((y * y).cast(d6)).alias("__syy__"),
        F.sum((z * z).cast(d6)).alias("__szz__"),
        F.sum((x * y).cast(d6)).alias("__sxy__"),
        F.sum((x * z).cast(d6)).alias("__sxz__"),
        F.sum((y * z).cast(d6)).alias("__syz__"),
    )
    n = F.col("n").cast("double")
    # round-9 means/covariances in doubles (the ols2 lesson; see
    # weighted_corr) — both engines then run identical fp sequences
    means = {
        c: F.round(F.col(f"__s{c}__").cast("double") / n, 9)
        for c in ("x", "y", "z")
    }

    def _r(ab, a, b):
        cab = F.round(
            F.col(f"__s{ab}__").cast("double") / n - means[a] * means[b], 9
        )
        caa = F.round(
            F.col(f"__s{a}{a}__").cast("double") / n
            - means[a] * means[a],
            9,
        )
        cbb = F.round(
            F.col(f"__s{b}{b}__").cast("double") / n
            - means[b] * means[b],
            9,
        )
        return F.when(
            (caa > 0.0) & (cbb > 0.0), F.round(cab / F.sqrt(caa * cbb), 9)
        ).otherwise(F.lit(None).cast("double"))

    r_xy = _r("xy", "x", "y")
    r_xz = _r("xz", "x", "z")
    r_yz = _r("yz", "y", "z")
    den = (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)
    pc = F.when(den > 0.0, (r_xy - r_xz * r_yz) / F.sqrt(den)).otherwise(
        F.lit(None).cast("double")
    )
    return mom.select(
        *gcols,
        "n",
        (F.round(r_xy, digits) + F.lit(0.0)).alias("r_xy"),
        (F.round(pc, digits) + F.lit(0.0)).alias("r_xy_z"),
    )


def srm_check(
    df: DataFrame,
    group_col: str,
    expected_shares: dict[str, float],
    digits: int = 6,
) -> DataFrame:
    """Sample-ratio-mismatch audit for experiment assignment: compare
    each variant's observed unit count against its DESIGNED allocation
    share with a chi-square goodness-of-fit decomposition — the
    standard pre-read validity gate before any A/B read-out
    (``ab_test``/``cuped``): a biased assignment invalidates the
    experiment regardless of the effect estimate.

    Returns one row per EXPECTED variant: (variant, observed, expected,
    contrib, chi2_total, dof) where contrib = (O-E)^2/E and chi2_total
    repeats the full statistic on every row. Variants observed in the
    data but absent from the design are NOT silently dropped — they
    raise, because unknown arms are exactly the bug this audit exists
    to catch.

    Scale shape: one group-count over the fact table (the only data
    shuffle), joined to a LITERAL design table; the chi2 rollup windows
    over the bounded variant table only.
    """
    if abs(sum(expected_shares.values()) - 1.0) > 1e-9:
        raise ValueError("expected_shares must sum to 1")
    spark = df.sparkSession
    design = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(expected_shares.items())],
        schema=f"{group_col} string, __share__ double",
    )
    obs = df.groupBy(F.col(group_col).cast("string").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    # Unknown-arm guard rides IN the plan (the theil_sen pattern): a
    # variant observed in the data but absent from the design surfaces
    # as a NULL share after the full join and raises from the same
    # single job — no eager pre-flight scan. The guard rides the
    # `observed` column the output actually consumes, so Catalyst
    # cannot prune it.
    guard_msg = F.concat(
        F.lit("srm_check: observed variant not in the design: "),
        F.col(group_col).cast("string"),
    )
    w = Window.partitionBy()
    joined = design.join(obs, on=group_col, how="full").select(
        group_col,
        F.when(
            F.col("__share__").isNotNull(),
            F.coalesce(F.col("observed"), F.lit(0)).cast("long"),
        )
        .otherwise(F.raise_error(guard_msg).cast("long"))
        .alias("observed"),
        "__share__",
    )
    tot = joined.select(
        group_col,
        "observed",
        (F.sum("observed").over(w).cast("double") * F.col("__share__")).alias(
            "__exp__"
        ),
    )
    contrib = (
        (F.col("observed").cast("double") - F.col("__exp__"))
        * (F.col("observed").cast("double") - F.col("__exp__"))
        / F.col("__exp__")
    )
    out = tot.select(
        group_col,
        "observed",
        (F.round(F.col("__exp__"), digits) + F.lit(0.0)).alias("expected"),
        (F.round(contrib, digits) + F.lit(0.0)).alias("contrib"),
    )
    # the chi2 rollup sums the ROUNDED per-arm contribs as decimals so
    # the total is independent of the window's evaluation order
    return out.select(
        group_col,
        "observed",
        "expected",
        "contrib",
        (
            F.round(
                F.sum(F.col("contrib").cast("decimal(18,6)"))
                .over(w)
                .cast("double"),
                digits,
            )
            + F.lit(0.0)
        ).alias("chi2_total"),
        F.lit(len(expected_shares) - 1).cast("int").alias("dof"),
    )


def ratio_metric_ci(
    df: DataFrame,
    unit_col: str,
    num_col,
    den_col,
    group_cols: Sequence[str] = (),
    z: float = 1.959963984540054,
    digits: int = 6,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (revenue
    per session, clicks per user, ...) where the randomization unit is
    ``unit_col`` but the metric is a ratio of totals — naive per-row
    CIs are wrong because rows within a unit are correlated (the
    classic experimentation pitfall; Deng et al., KDD'18 formulation).

        R = sum(num)/sum(den),
        Var(R) ~ (var_n + R^2 var_d - 2 R cov_nd) / (k * mean_d^2)

    computed over PER-UNIT totals (k = #units). Two map-side-combinable
    aggregates (unit rollup, then decimal moment collection) — the only
    shuffles are on (group, unit) then group. num/den accept column
    expressions (e.g. conditional sums). Returns
    (group..., k, ratio, se, ci_lo, ci_hi); degenerate groups (k < 2 or
    zero denominator) yield NULL se/CI.
    """
    gcols = list(group_cols)
    num_c = F.col(num_col) if isinstance(num_col, str) else num_col
    den_c = F.col(den_col) if isinstance(den_col, str) else den_col
    # per-unit totals accumulate as decimal(18,6) — exact and
    # partition-invariant — then convert once to double for the moments
    per_unit = df.groupBy(*gcols, F.col(unit_col).alias("__u__")).agg(
        F.sum(num_c.cast("decimal(18,6)")).alias("__n__"),
        F.sum(den_c.cast("decimal(18,6)")).alias("__d__"),
    )
    a = F.coalesce(F.col("__n__").cast("double"), F.lit(0.0))
    b = F.coalesce(F.col("__d__").cast("double"), F.lit(0.0))
    d6 = "decimal(18,6)"
    mom = per_unit.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(a.cast(d6)).alias("__sn__"),
        F.sum(b.cast(d6)).alias("__sd__"),
        F.sum((a * a).cast(d6)).alias("__snn__"),
        F.sum((b * b).cast(d6)).alias("__sdd__"),
        F.sum((a * b).cast(d6)).alias("__snd__"),
    )
    kk = F.col("k").cast("double")
    mn = F.round(F.col("__sn__").cast("double") / kk, 9)
    md = F.round(F.col("__sd__").cast("double") / kk, 9)
    vn = F.round(F.col("__snn__").cast("double") / kk - mn * mn, 9)
    vd = F.round(F.col("__sdd__").cast("double") / kk - md * md, 9)
    cnd = F.round(F.col("__snd__").cast("double") / kk - mn * md, 9)
    ratio = F.when(md != 0.0, mn / md)
    var_r = F.when(
        (F.col("k") >= 2) & (md != 0.0),
        (vn + ratio * ratio * vd - 2.0 * ratio * cnd)
        / (kk - 1.0)
        / (md * md),
    )
    se = F.when(var_r >= 0.0, F.sqrt(var_r))
    return mom.select(
        *gcols,
        "k",
        (F.round(ratio, digits) + F.lit(0.0)).alias("ratio"),
        (F.round(se, digits) + F.lit(0.0)).alias("se"),
        (F.round(ratio - F.lit(z) * se, digits) + F.lit(0.0)).alias("ci_lo"),
        (F.round(ratio + F.lit(z) * se, digits) + F.lit(0.0)).alias("ci_hi"),
    )


def iptw_ate(
    df: DataFrame,
    treat_col,
    outcome_col: str,
    strata_cols: Sequence[str],
    stabilized: bool = True,
    digits: int = 6,
) -> DataFrame:
    """Inverse-probability-of-treatment-weighted average treatment
    effect with STRATIFIED propensity scores — the reweighting
    counterpart of the matching estimators (``psm_match``/``cem_match``):
    instead of discarding unmatched rows, every row is kept and
    weighted by 1/P(its own treatment | stratum), which balances the
    strata composition between arms.

        e(s) = P(T=1 | stratum s)   (exact counts, no model)
        w    = T/e + (1-T)/(1-e)    (x P(T)/1-P(T) when stabilized)
        ATE  = weighted mean outcome (treated) - (control)

    Off-support strata (e = 0 or 1 — positivity violations) are
    EXCLUDED from the estimate and COUNTED in the read-out, the
    standard epidemiology practice made visible. Returns one row:
    (n_used, n_off_support, p_treated, mean_treated, mean_control,
    ate).

    Scale shape: one groupBy to the stratum propensity table
    (bounded), broadcast back onto the facts, one decimal-weighted
    global aggregate. Weights round to 9 before the decimal products
    so both engines run identical fp sequences.
    """
    t = (
        (F.col(treat_col) if isinstance(treat_col, str) else treat_col)
        .cast("boolean")
    )
    y = F.col(outcome_col).cast("double")
    gcols = list(strata_cols)
    base = df.select(
        *gcols, t.alias("__t__"), y.alias("__y__")
    ).filter(F.col("__t__").isNotNull() & F.col("__y__").isNotNull())
    strata = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("__n__"),
        F.sum(F.col("__t__").cast("long")).cast("long").alias("__nt__"),
    )
    joined = base.join(F.broadcast(strata), on=gcols)
    on_support = (F.col("__nt__") > 0) & (F.col("__nt__") < F.col("__n__"))
    e = F.round(
        F.col("__nt__").cast("double") / F.col("__n__").cast("double"), 9
    )
    # the global treated share for stabilization: a scalar aggregate
    # cross-joined back (broadcast)
    glob = base.agg(
        F.count(F.lit(1)).cast("long").alias("__gn__"),
        F.sum(F.col("__t__").cast("long")).cast("long").alias("__gnt__"),
    )
    joined = joined.crossJoin(glob)
    pt = F.round(
        F.col("__gnt__").cast("double") / F.col("__gn__").cast("double"), 9
    )
    w_raw = F.when(F.col("__t__"), 1.0 / e).otherwise(1.0 / (1.0 - e))
    if stabilized:
        w_raw = w_raw * F.when(F.col("__t__"), pt).otherwise(1.0 - pt)
    w = F.round(w_raw, 9)
    d6 = "decimal(28,9)"
    agg = joined.agg(
        F.sum(F.when(on_support, 1).otherwise(0)).cast("long").alias("n_used"),
        F.sum(F.when(~on_support, 1).otherwise(0))
        .cast("long")
        .alias("n_off_support"),
        F.max(pt).alias("__pt__"),
        F.sum(F.when(on_support & F.col("__t__"), (w * F.col("__y__")).cast(d6))).alias("__swy_t__"),
        F.sum(F.when(on_support & F.col("__t__"), w.cast(d6))).alias("__sw_t__"),
        F.sum(F.when(on_support & ~F.col("__t__"), (w * F.col("__y__")).cast(d6))).alias("__swy_c__"),
        F.sum(F.when(on_support & ~F.col("__t__"), w.cast(d6))).alias("__sw_c__"),
    )
    mt = F.col("__swy_t__").cast("double") / F.col("__sw_t__").cast("double")
    mc = F.col("__swy_c__").cast("double") / F.col("__sw_c__").cast("double")
    return agg.select(
        "n_used",
        "n_off_support",
        (F.round(F.col("__pt__"), digits) + F.lit(0.0)).alias("p_treated"),
        (F.round(mt, digits) + F.lit(0.0)).alias("mean_treated"),
        (F.round(mc, digits) + F.lit(0.0)).alias("mean_control"),
        (F.round(mt - mc, digits) + F.lit(0.0)).alias("ate"),
    )


def sir_indirect(
    df: DataFrame,
    group_col: str,
    strata_cols: Sequence[str],
    time_col: str,
    event_col: str,
    digits: int = 6,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Standardized incidence/mortality ratio via INDIRECT
    standardization — ``std_rate``'s complement (direct standardization
    reweights each group's rates onto a standard population; indirect
    applies REFERENCE rates to each group's composition, the right
    tool when group-stratum cells are too sparse for stable rates):

        E_g = sum_s PT_gs * lambda_s,   lambda_s = sum_g O_gs / PT_s
        SIR = O_g / E_g

    with Byar's approximation for the exact-Poisson CI (pure
    arithmetic — cube roots via x^(1/3) avoided: the bound uses only
    squares/roots, replayable):

        lo = O/E * (1 - 1/(9O) - z/(3*sqrt(O)))^3
        hi = (O+1)/E * (1 - 1/(9(O+1)) + z/(3*sqrt(O+1)))^3

    Returns (group, observed, person_time, expected, sir, sir_lo,
    sir_hi); groups with O = 0 carry NULL sir_lo.

    Scale shape: two map-side-combinable aggregates — (group, strata)
    cells, then the bounded strata reference table joins back onto the
    bounded cell table; everything after the first groupBy is
    stratum-scale. Sums accumulate as decimals; the reference rate
    rounds to 12 before E.
    """
    gcols = [group_col] + list(strata_cols)
    d = "decimal(28,9)"
    cells = df.groupBy(*gcols).agg(
        F.sum(F.col(time_col).cast(d)).alias("__pt__"),
        F.sum(F.col(event_col).cast("long")).cast("long").alias("__o__"),
    )
    ref = cells.groupBy(*strata_cols).agg(
        F.sum("__pt__").alias("__pts__"),
        F.sum("__o__").cast("long").alias("__os__"),
    ).select(
        *strata_cols,
        F.round(
            F.col("__os__").cast("double") / F.col("__pts__").cast("double"),
            12,
        ).alias("__lam__"),
    )
    expected = (
        cells.join(F.broadcast(ref), on=list(strata_cols))
        .select(
            F.col(group_col),
            "__pt__",
            "__o__",
            (F.col("__pt__").cast("double") * F.col("__lam__")).alias("__e__"),
        )
        .groupBy(group_col)
        .agg(
            F.sum("__o__").cast("long").alias("observed"),
            F.sum("__pt__").cast("double").alias("person_time"),
            F.round(
                F.sum(F.round(F.col("__e__"), 9).cast(d)).cast("double"), 9
            ).alias("__ee__"),
        )
    )
    o = F.col("observed").cast("double")
    e = F.col("__ee__")
    zz = F.lit(float(z))
    lo_f = (
        F.lit(1.0) - 1.0 / (9.0 * o) - zz / (3.0 * F.sqrt(o))
    )
    hi_f = (
        F.lit(1.0) - 1.0 / (9.0 * (o + 1.0)) + zz / (3.0 * F.sqrt(o + 1.0))
    )
    sir = F.when(e > 0.0, o / e)
    lo = F.when((e > 0.0) & (o > 0), o / e * lo_f * lo_f * lo_f)
    hi = F.when(e > 0.0, (o + 1.0) / e * hi_f * hi_f * hi_f)
    return expected.select(
        group_col,
        "observed",
        (F.round(F.col("person_time"), digits) + F.lit(0.0)).alias(
            "person_time"
        ),
        (F.round(e, digits) + F.lit(0.0)).alias("expected"),
        (F.round(sir, digits) + F.lit(0.0)).alias("sir"),
        (F.round(lo, digits) + F.lit(0.0)).alias("sir_lo"),
        (F.round(hi, digits) + F.lit(0.0)).alias("sir_hi"),
    )


def welch_t(
    df: DataFrame,
    group_cols: Sequence[str],
    arm_col: str,
    a_label,
    b_label,
    value_col: str,
    digits: int = 6,
) -> DataFrame:
    """Welch's unequal-variance two-sample t read-out per group — the
    CONTINUOUS-metric counterpart of ``ab_test`` (proportions) and the
    pre-CUPED sanity read-out for mean metrics:

        t  = (m_a - m_b) / sqrt(s2_a/n_a + s2_b/n_b)
        df = (s2_a/n_a + s2_b/n_b)^2
             / ((s2_a/n_a)^2/(n_a-1) + (s2_b/n_b)^2/(n_b-1))

    with SAMPLE variances (n-1). Reports the statistic and
    Satterthwaite df, not a p-value (no normal/t CDF is replayable
    bit-exactly across engines); the variance ratio rides along as the
    equal-variance diagnostic. Degenerate groups (either arm n < 2 or
    zero variance in both) yield NULL t.

    Scale shape: ONE map-side-combinable aggregate per group collects
    both arms' decimal moments via conditional sums (the ab_test
    pattern); sums divide once into round-9 doubles (the ols2
    discipline). Returns (group..., n_a, n_b, mean_a, mean_b, diff,
    var_ratio, t, df).
    """
    gcols = list(group_cols)
    arm = F.col(arm_col)
    y = F.col(value_col).cast("double")
    is_a = arm == F.lit(a_label)
    is_b = arm == F.lit(b_label)
    d6 = "decimal(18,6)"
    base = df.select(*gcols, arm_col, value_col).filter(
        (is_a | is_b) & y.isNotNull()
    )
    mom = base.groupBy(*gcols).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, y.cast(d6))).alias("__sa__"),
        F.sum(F.when(is_b, y.cast(d6))).alias("__sb__"),
        F.sum(F.when(is_a, (y * y).cast(d6))).alias("__saa__"),
        F.sum(F.when(is_b, (y * y).cast(d6))).alias("__sbb__"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # every division is when-guarded: ANSI mode raises on ANY divide
    # by zero (empty or singleton arms), it does not return Inf/NULL
    ma = F.when(na > 0.0, F.round(F.col("__sa__").cast("double") / na, 9))
    mb = F.when(nb > 0.0, F.round(F.col("__sb__").cast("double") / nb, 9))
    # sample variance: (ss - n*m^2) / (n-1), rounded once
    va = F.when(
        na >= 2.0,
        F.round(
            (F.col("__saa__").cast("double") - na * ma * ma) / (na - 1.0), 9
        ),
    )
    vb = F.when(
        nb >= 2.0,
        F.round(
            (F.col("__sbb__").cast("double") - nb * mb * mb) / (nb - 1.0), 9
        ),
    )
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0.0)
    t = F.when(ok, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        ok & (va > 0.0) & (vb > 0.0),
        (se2 * se2) / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)),
    )
    vr = F.when((vb > 0.0) & (va >= 0.0), va / vb)
    return mom.select(
        *gcols,
        "n_a",
        "n_b",
        (F.round(ma, digits) + F.lit(0.0)).alias("mean_a"),
        (F.round(mb, digits) + F.lit(0.0)).alias("mean_b"),
        (F.round(ma - mb, digits) + F.lit(0.0)).alias("diff"),
        (F.round(vr, digits) + F.lit(0.0)).alias("var_ratio"),
        (F.round(t, digits) + F.lit(0.0)).alias("t"),
        (F.round(dof, digits) + F.lit(0.0)).alias("df"),
    )


def sign_test(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    digits: int = 6,
) -> DataFrame:
    """Paired sign test per group — the distribution-free paired
    read-out (``mcnemar_test``'s continuous sibling): count pairs
    where x > y vs x < y (ties dropped, the standard treatment) and
    report the normal-approximation z with continuity correction:

        z = (|n_pos - n_neg| - 1) / sqrt(n_pos + n_neg)   (signed)

    Everything is integer counts until the final division. Returns
    (group..., n_pos, n_neg, n_tie, share_pos, z); fewer than 2
    informative pairs yields NULL z.

    Scale shape: one conditional-count aggregate per group — a single
    scan, one exchange on the group key.
    """
    gcols = list(group_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.select(*gcols, x_col, y_col).filter(
        x.isNotNull() & y.isNotNull()
    )
    mom = base.groupBy(*gcols).agg(
        F.sum(F.when(x > y, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(x < y, 1).otherwise(0)).cast("long").alias("n_neg"),
        F.sum(F.when(x == y, 1).otherwise(0)).cast("long").alias("n_tie"),
    )
    m = (F.col("n_pos") + F.col("n_neg")).cast("double")
    raw = F.col("n_pos").cast("double") - F.col("n_neg").cast("double")
    corrected = F.signum(raw) * F.greatest(
        F.abs(raw) - 1.0, F.lit(0.0)
    )
    z = F.when(m >= 2.0, corrected / F.sqrt(m))
    share = F.when(m > 0.0, F.col("n_pos").cast("double") / m)
    return mom.select(
        *gcols,
        "n_pos",
        "n_neg",
        "n_tie",
        (F.round(share, digits) + F.lit(0.0)).alias("share_pos"),
        (F.round(z, digits) + F.lit(0.0)).alias("z"),
    )


def quantile_treatment_effects(
    df: DataFrame,
    arm_col: str,
    a_label,
    b_label,
    value_col: str,
    quantiles: Sequence[float] = (0.1, 0.25, 0.5, 0.75, 0.9),
    digits: int = 6,
) -> DataFrame:
    """Quantile treatment effects: the per-quantile difference between
    two arms' outcome distributions — the read-out that catches what a
    mean shift hides (``welch_t``/``cuped`` report ONE number; a
    treatment that helps the median but hurts the tail shows up only
    here). Exact linear-interpolated percentiles (ANSI
    percentile_cont semantics, the ``agg_percentile`` certification).

    Returns one row per quantile: (q, q_a, q_b, qte).

    Scale shape: ONE aggregate computes every quantile for both arms
    via null-skipping conditional percentiles (no join, no second
    scan); the reshape to rows explodes a |quantiles|-sized literal
    struct array on the single reduced row. Exact percentiles buffer
    per-group values on the reducer — the agg_percentile trade;
    swap in approx_percentile at extreme scale.
    """
    arm = F.col(arm_col)
    v = F.col(value_col).cast("double")
    is_a, is_b = arm == F.lit(a_label), arm == F.lit(b_label)
    qs = [float(q) for q in quantiles]
    aggs = []
    for i, q in enumerate(qs):
        aggs.append(
            F.round(
                F.percentile(F.when(is_a, v), F.lit(q)).cast("double"),
                digits,
            ).alias(f"__a{i}__")
        )
        aggs.append(
            F.round(
                F.percentile(F.when(is_b, v), F.lit(q)).cast("double"),
                digits,
            ).alias(f"__b{i}__")
        )
    row = df.filter((is_a | is_b) & v.isNotNull()).agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(q).cast("double").alias("q"),
                F.col(f"__a{i}__").alias("q_a"),
                F.col(f"__b{i}__").alias("q_b"),
            )
            for i, q in enumerate(qs)
        ]
    )
    ex = row.select(F.explode(pairs).alias("__p__"))
    return ex.select(
        F.col("__p__.q").alias("q"),
        (F.col("__p__.q_a") + F.lit(0.0)).alias("q_a"),
        (F.col("__p__.q_b") + F.lit(0.0)).alias("q_b"),
        (
            F.round(F.col("__p__.q_a") - F.col("__p__.q_b"), digits)
            + F.lit(0.0)
        ).alias("qte"),
    )


def wasserstein_binned(
    df: DataFrame,
    arm_col: str,
    a_label,
    b_label,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    digits: int = 6,
) -> DataFrame:
    """Earth-Mover's (Wasserstein-1) distance between two arms' value
    distributions, fixed-bin estimator — ``ks_test`` reports the WORST
    CDF gap, this integrates ALL of it (W1 = integral |F_a - F_b|):
    the drift magnitude in value units, the metric behind
    drift-monitor SLOs ("score distribution moved by <= 0.02").

        W1 ~ binwidth * sum_bins |cumshare_a - cumshare_b|

    exact for the binned distributions (the ``histogram_rollup`` /
    ``js_divergence`` fixed-bin discipline; values outside [lo, hi]
    clamp to the edge bins). Returns ONE row (n_a, n_b, w1).

    Scale shape: one conditional group-count to the <= ``n_bins`` bin
    table (the only data-scale shuffle); the zero-filled bin grid, the
    cumulative walk (window over the bounded bin table — waived), and
    the round-12 decimal |gap| sum all run at bin scale.
    """
    if not hi > lo:
        raise ValueError("need hi > lo")
    if n_bins < 2:
        raise ValueError("need n_bins >= 2")
    arm = F.col(arm_col)
    v = F.col(value_col).cast("double")
    is_a, is_b = arm == F.lit(a_label), arm == F.lit(b_label)
    width = (float(hi) - float(lo)) / int(n_bins)
    b = F.least(
        F.greatest(
            F.floor((v - F.lit(float(lo))) / F.lit(width)), F.lit(0)
        ),
        F.lit(int(n_bins) - 1),
    ).cast("int")
    counts = (
        df.filter((is_a | is_b) & v.isNotNull())
        .select(b.alias("bin"), is_a.alias("__a__"))
        .groupBy("bin")
        .agg(
            F.sum(F.col("__a__").cast("long")).cast("long").alias("c_a"),
            F.sum((~F.col("__a__")).cast("long")).cast("long").alias("c_b"),
        )
    )
    bins = df.sparkSession.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(int(n_bins) - 1))).alias("bin")
    ).select(F.col("bin").cast("int").alias("bin"))
    grid = bins.join(counts, on="bin", how="left").select(
        "bin",
        F.coalesce("c_a", F.lit(0)).cast("long").alias("c_a"),
        F.coalesce("c_b", F.lit(0)).cast("long").alias("c_b"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = grid.select(
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
        F.sum("c_a").over(wt).alias("n_a"),
        F.sum("c_b").over(wt).alias("n_b"),
    )
    gap = F.round(
        F.abs(
            F.col("cum_a").cast("double") / F.col("n_a").cast("double")
            - F.col("cum_b").cast("double") / F.col("n_b").cast("double")
        ),
        12,
    )
    return cum.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        (
            F.round(
                F.lit(width)
                * F.sum(gap.cast("decimal(28,12)")).cast("double"),
                digits,
            )
            + F.lit(0.0)
        ).alias("w1"),
    )


def overdispersion(
    df: DataFrame,
    group_cols: Sequence[str],
    count_col: str,
    digits: int = 6,
) -> DataFrame:
    """Variance-to-mean ratio (index of dispersion) per group for
    COUNT data — the Poisson-assumption check behind every rate
    read-out here (``person_time_rate``/``sir_indirect``/``dp_counts``
    all model counts): VMR ~ 1 is Poisson, VMR >> 1 is overdispersed
    (negative-binomial territory — the Poisson CI understates), VMR <
    1 is underdispersed. Integer-exact decimal moments, population
    variance, round-9 before the ratio. Returns (group..., n, mean,
    variance, vmr); zero-mean groups yield NULL vmr.
    """
    gcols = list(group_cols)
    c = F.col(count_col).cast("long")
    d0 = "decimal(38,0)"
    mom = df.filter(c.isNotNull()).groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c.cast(d0)).alias("__s__"),
        F.sum((c * c).cast(d0)).alias("__ss__"),
    )
    nn = F.col("n").cast("double")
    mean = F.round(F.col("__s__").cast("double") / nn, 9)
    var = F.round(F.col("__ss__").cast("double") / nn - mean * mean, 9)
    vmr = F.when(mean > 0.0, var / mean)
    return mom.select(
        *gcols,
        "n",
        (F.round(mean, digits) + F.lit(0.0)).alias("mean"),
        (F.round(var, digits) + F.lit(0.0)).alias("variance"),
        (F.round(vmr, digits) + F.lit(0.0)).alias("vmr"),
    )


def capture_recapture(
    sample_a: DataFrame,
    sample_b: DataFrame,
    id_col: str,
    digits: int = 6,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Chapman capture-recapture population estimate from two
    overlapping samples — "how many users/entities exist that NEITHER
    extract saw?", the coverage audit for any two independent
    observation channels (two log pipelines, two registries, two
    crawl snapshots):

        N_hat = (n_a + 1)(n_b + 1) / (m + 1) - 1

    with m the overlap, plus the standard large-sample variance for a
    Wald CI. Exact integer inputs (two distinct-counts and one semi
    join), pure arithmetic after — fully replayable. Returns ONE row
    (n_a, n_b, n_overlap, n_est, se, ci_lo, ci_hi); a zero overlap
    still yields the (biased-low) Chapman bound rather than dividing
    by zero.
    """
    a = sample_a.select(F.col(id_col).alias("__id__")).distinct()
    b = sample_b.select(F.col(id_col).alias("__id__")).distinct()
    counts = (
        a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).cast("long").alias("n_b")))
        .crossJoin(
            a.join(b, on="__id__", how="left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    m = F.col("n_overlap").cast("double")
    n_est = (na + 1.0) * (nb + 1.0) / (m + 1.0) - 1.0
    var = (
        (na + 1.0)
        * (nb + 1.0)
        * (na - m)
        * (nb - m)
        / ((m + 1.0) * (m + 1.0) * (m + 2.0))
    )
    se = F.when(var >= 0.0, F.sqrt(var))
    zz = F.lit(float(z))
    return counts.select(
        "n_a",
        "n_b",
        "n_overlap",
        (F.round(n_est, digits) + F.lit(0.0)).alias("n_est"),
        (F.round(se, digits) + F.lit(0.0)).alias("se"),
        (F.round(n_est - zz * se, digits) + F.lit(0.0)).alias("ci_lo"),
        (F.round(n_est + zz * se, digits) + F.lit(0.0)).alias("ci_hi"),
    )
