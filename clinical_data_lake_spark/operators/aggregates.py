"""Aggregation / distinct operators (SURVEY.md §2.5 A1-A6 + extensions).

Reference call sites rebuilt:
- A1/A2 group-count (SQL + DataFrame + multi-key)
        01-rwe-dashboard.r:33,43-48; 02-patient-trajectory.py:61;
        03-work with ML models.py:119-121
- A3 dict-style agg max               03-work with ML models.py:191
- A4 DISTINCT projection              01-rwe-dashboard.r:46,71;
                                      02-patient-trajectory.py:53
- A5 dropDuplicates on key subset     02-patient-trajectory.py:60

Scale notes: ``groupBy().count()`` gets map-side partial aggregation for
free (HashAggregate partial -> shuffle on keys -> final). DISTINCT on a
projection is the same plan. Skewed group keys are handled by AQE; for
pathological skew use ``salted_group_count``. Exact money sums use
DECIMAL — exact, associative, and therefore deterministic under any
shuffle/merge order (double sums are not).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import bucketed_prefix_sums, range_buckets


def group_count(df: DataFrame, keys: Sequence[str], alias: str = "cnt") -> DataFrame:
    """A1/A2 — SELECT keys, count(*) GROUP BY keys."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def agg_scalar(df: DataFrame, col: str, agg: str = "max", alias: str | None = None) -> DataFrame:
    """A3 — 1-row global aggregate (03-work with ML models.py:191).
    Also the efficient replacement for the reference's sort-limit-1
    global-min idiom (include/featurise.py:21-27): an agg is a partial
    +final reduce, no sort, no single-partition TakeOrdered."""
    return df.agg(getattr(F, agg)(col).alias(alias or f"{agg}_{col}"))


def distinct_projection(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A4 — SELECT DISTINCT cols (cohort-id extraction,
    02-patient-trajectory.py:53)."""
    return df.select(*cols).distinct()


def dedup_then_count(df: DataFrame, dedup_keys: Sequence[str], count_key: str,
                     alias: str = "cnt") -> DataFrame:
    """A5 as actually used — dropDuplicates on a key subset *then*
    group-count (one row per patient-condition before prevalence count,
    02-patient-trajectory.py:60-61).

    Deterministic restatement: raw ``dropDuplicates(subset)`` keeps an
    arbitrary row for the non-key columns; since the reference only ever
    counts afterwards, project-to-keys + distinct is semantically
    identical and removes the nondeterminism.
    """
    return (
        df.select(*dedup_keys).distinct()
        .groupBy(count_key).agg(F.count(F.lit(1)).alias(alias))
    )


def decimal_sum(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact money aggregation: cast to DECIMAL before summing so the
    result is independent of partial-aggregation merge order (double
    sums reassociate under shuffle -> flaky last-ulp results at scale)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast(f"decimal({precision},{scale})")


def exact_mean(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Deterministic mean: exact decimal sum / exact count, divided in
    double at the end (one deterministic fp op instead of a
    merge-order-dependent running mean)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")
    return total / F.count(c)


def cube_count(df: DataFrame, keys: Sequence[str], alias: str = "cnt") -> DataFrame:
    """Extension — CUBE group-count (all grouping-set combinations)."""
    return df.cube(*keys).agg(F.count(F.lit(1)).alias(alias))


def rollup_count(df: DataFrame, keys: Sequence[str], alias: str = "cnt") -> DataFrame:
    """Extension — ROLLUP group-count (hierarchical subtotals)."""
    return df.rollup(*keys).agg(F.count(F.lit(1)).alias(alias))


def grouping_sets_agg(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    keys: Sequence[str],
    value_col: str | None = None,
    cnt_alias: str = "cnt",
    sum_alias: str = "sum_value",
) -> DataFrame:
    """Extension — GROUPING SETS aggregation: exactly the subtotal
    combinations the report needs, in ONE pass (cube computes 2^k
    combinations, rollup only the hierarchy; arbitrary dashboards need
    neither-nor). ``grouping_id()`` is emitted as ``gid`` so a NULL
    key from aggregation is distinguishable from a NULL data value —
    the standard disambiguator (bit i set = column i aggregated away).

    Same scale shape as cube/rollup: Spark expands rows per matching
    set map-side and partially aggregates before the single shuffle;
    sums accumulate in decimal so the rollup is partitioning-invariant.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias(cnt_alias)]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,3)"))
            .cast("double")
            .alias(sum_alias)
        )
    gb = df.groupingSets([list(s) for s in sets], *[F.col(k) for k in keys])
    return gb.agg(F.grouping_id().cast("long").alias("gid"), *aggs)


def approx_distinct(df: DataFrame, col: str, rsd: float = 0.05,
                    alias: str = "approx_nd") -> DataFrame:
    """Extension — HyperLogLog++ distinct estimate. At 100 TB this is the
    only sane way to count distinct high-cardinality keys (exact distinct
    shuffles every key; HLL++ merges fixed-size sketches)."""
    return df.agg(F.approx_count_distinct(col, rsd).alias(alias))


def percentile_summary(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    percentiles: Sequence[float] = (0.25, 0.5, 0.75),
    digits: int = 6,
) -> DataFrame:
    """Extension — exact linear-interpolated percentiles per group
    (ANSI percentile_cont semantics; matches DuckDB ``quantile_cont``).

    Scale note: exact percentiles buffer each group's values on the
    reducer — fine for bounded groups. For high-cardinality columns at
    100 TB use ``approx_percentile`` (t-digest sketch, fixed memory,
    mergeable map-side) and accept the rsd."""
    aggs = [
        F.round(F.percentile(F.col(col), F.lit(p)).cast("double"), digits).alias(
            f"p{int(p * 100)}"
        )
        for p in percentiles
    ]
    return df.groupBy(*keys).agg(*aggs)


def descriptive_stats(
    df: DataFrame,
    keys: Sequence[str],
    x: str,
    y: str,
    digits: int = 4,
) -> DataFrame:
    """Extension — per-group dispersion + association: stddev/variance of
    ``x``'s partner ``y`` and corr/covariance between ``x`` and ``y``.
    All four are single-pass, mergeable aggregates (partial moments
    combine associatively), so the plan is one map-side partial + one
    shuffle on the keys. Rounded so merge-order float noise can't leak
    into equality checks."""
    return df.groupBy(*keys).agg(
        F.round(F.stddev_samp(y).cast("double"), digits).alias("sd_y"),
        F.round(F.covar_samp(x, y).cast("double"), digits).alias("cov_xy"),
        F.round(F.corr(x, y).cast("double"), 6).alias("corr_xy"),
        F.count(F.lit(1)).alias("n"),
    )


def histogram_fixed_width(
    df: DataFrame,
    col: str,
    width: float,
    n_buckets: int,
    alias: str = "cnt",
) -> DataFrame:
    """Extension — fixed-width histogram: bucket i covers
    [i*width, (i+1)*width), with the last bucket absorbing overflow.
    Pure arithmetic + group-count: one scan, map-side partials, shuffle
    on at most ``n_buckets`` keys — the cheapest possible distribution
    profile of a 100 TB column."""
    bucket = F.least(
        F.floor(F.col(col) / F.lit(float(width))), F.lit(n_buckets - 1)
    ).cast("int")
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias(alias))
    )


def equidepth_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tiebreak_cols: Sequence[str],
    buckets: int = 4,
) -> DataFrame:
    """Extension — equi-depth (quantile) histogram: per group, rows are
    ntile'd into ``buckets`` equal-count buckets and each bucket
    reports (lo, hi, cnt) — the value-adaptive complement to
    ``histogram_fixed_width`` (equal-count buckets resolve dense
    regions a fixed grid smears; this is what query optimizers and
    data profilers actually store).

    ``tiebreak_cols`` must make the sort total: ntile splits ties by
    position, so without a deterministic total order the bucket EDGES
    differ between runs/engines. One shuffle (the per-group sort
    window) + one small aggregation; per-task work is bounded by the
    largest group, exactly like every other per-group window here."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col), *[F.col(c) for c in tiebreak_cols]
    )
    return (
        df.withColumn("bucket", F.ntile(buckets).over(w))
        .groupBy(group_col, "bucket")
        .agg(
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def group_mode(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    alias: str = "mode_value",
    cnt_alias: str = "cnt",
) -> DataFrame:
    """Extension — deterministic per-group mode: the most frequent
    value, ties broken by smallest value. Built-in ``F.mode`` picks an
    arbitrary winner on ties (non-deterministic under shuffle order),
    so this composes count + struct-max instead: two aggregations,
    both with map-side partials, shuffles on (keys, value) then keys."""
    counted = df.groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("__n__"))
    # max of (count, -?) can't negate strings: order by count desc then
    # value asc == max of struct(count, MAX-value)… instead use min over
    # a struct of (-count, value): lexicographic min gives highest count,
    # then smallest value.
    best = counted.groupBy(*keys).agg(
        F.min(F.struct((-F.col("__n__")).alias("neg"), F.col(value_col).alias("v"))).alias("__b__")
    )
    return best.select(
        *keys,
        F.col("__b__.v").alias(alias),
        (-F.col("__b__.neg")).cast("long").alias(cnt_alias),
    )


def null_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Extension — per-column completeness profile: total rows, null
    count, and null fraction for each named column, as one narrow
    (column, n_rows, n_null, null_frac) table. One scan, one 1-row
    aggregate, then a tiny unpivot — the data-QA primitive you run
    before training on a 100 TB drop."""
    aggs = [F.count(F.lit(1)).alias("__total__")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}__"))
    one = df.agg(*aggs)
    pairs = []
    for c in cols:
        pairs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__total__").alias("n_rows"),
                F.col(f"__null_{c}__").alias("n_null"),
                F.round(F.col(f"__null_{c}__") / F.col("__total__"), 6).alias("null_frac"),
            )
        )
    return one.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.col_name", "p.n_rows", "p.n_null", "p.null_frac"
    )


def pivot_counts(
    df: DataFrame,
    key: str,
    pivot_col: str,
    values: Sequence[str],
    fill: int = 0,
) -> DataFrame:
    """Extension — wide-format group counts: one row per ``key``, one
    column per pivot value. ``values`` is REQUIRED: with an explicit
    value list Spark skips the extra distinct-discovery job and the
    output schema is deterministic (the unlisted long tail is dropped —
    at scale an unbounded pivot is a schema explosion). Empty cells
    fill with ``fill`` so downstream arithmetic is null-safe."""
    out = df.groupBy(key).pivot(pivot_col, list(values)).count()
    return out.na.fill(fill, subset=list(values))


def salted_group_count(df: DataFrame, keys: Sequence[str], salt_buckets: int = 16,
                       alias: str = "cnt") -> DataFrame:
    """Skew-resistant two-phase group-count: add a random salt to spread a
    hot key over ``salt_buckets`` reducers, partial-count, then re-agg on
    the true keys. Same result as ``group_count``; use when one key holds
    a double-digit percentage of rows and AQE's skew handling isn't
    enough (AQE splits skewed *joins*, not aggregations)."""
    salted = df.withColumn("__salt__", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "__salt__").agg(F.count(F.lit(1)).alias("__partial__"))
    return partial.groupBy(*keys).agg(F.sum("__partial__").alias(alias))


def skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
) -> DataFrame:
    """Key-skew diagnostic for a prospective join/aggregation key: the
    ``top_n`` heaviest keys with their row share and their multiple of
    the mean per-key load,

        (key..., cnt, share, x_avg)

    — the number that decides between a plain join, AQE skew handling,
    and an explicit ``salted_join``/``salted_group_count`` (a key at
    x_avg >> 10 is the one that strands a reducer at 100 TB).

    Plan: one partially-aggregated groupBy on the keys, a 1-row global
    rollup broadcast back, and a TakeOrdered for the top slice — no
    global sort, no second pass over the fact table. share/x_avg are
    rounded to 6 so results are engine-comparable.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("__total__"),
        F.count(F.lit(1)).alias("__nkeys__"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            *key_cols,
            "cnt",
            F.round(F.col("cnt") / F.col("__total__"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("__nkeys__") / F.col("__total__"), 6
            ).alias("x_avg"),
        )
        .orderBy(F.desc("cnt"), *key_cols)
        .limit(top_n)
    )


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    digits: int = 6,
    alias: str | None = None,
) -> DataFrame:
    """Extension — per-group winsorization: clamp ``col`` to its
    group's exact [``lower``, ``upper``] interpolated percentiles, the
    standard outlier-capping step before fitting features on
    heavy-tailed clinical/monetary values (a robust alternative to the
    reference's drop-the-rows filtering, include/featurise.py:73-88).

    Two-pass plan, both scans cheap: one groupBy on the keys computes
    the bounds table (group-cardinality-sized), which broadcasts back
    onto the fact — the fact table itself never shuffles. Bounds and
    the clamped value are rounded so fp noise can't leak into equality
    checks; percentile semantics match DuckDB ``quantile_cont``.
    """
    alias = alias or f"{col}_winsor"
    bounds = df.groupBy(*keys).agg(
        F.round(F.percentile(F.col(col), F.lit(lower)).cast("double"), digits).alias("__lo__"),
        F.round(F.percentile(F.col(col), F.lit(upper)).cast("double"), digits).alias("__hi__"),
    )
    clamped = F.round(
        F.least(F.greatest(F.col(col).cast("double"), F.col("__lo__")), F.col("__hi__")),
        digits,
    )
    return (
        df.join(F.broadcast(bounds), on=list(keys))
        .withColumn(alias, clamped)
        .drop("__lo__", "__hi__")
    )


def hll_rollup(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lg_k: int = 12,
    sketch_alias: str = "hll",
) -> DataFrame:
    """Pre-aggregated distinct-count sketches per group:
    (keys..., hll) with ``hll`` a Datasketches HyperLogLog binary —
    the mergeable building block for incremental rollups. Build daily
    partition sketches ONCE, then answer any coarser distinct-count
    (weekly, all-time, cross-key) by merging sketches instead of
    rescanning raw data — the pattern that turns a 100 TB COUNT
    DISTINCT backfill into a few-KB-per-group merge.

    Merging never loses coverage (every observed value is represented
    in the union), but the estimate is NOT bit-stable: the sketch's
    internal representation depends on insertion/merge order (sparse
    -> dense promotion), so merged-daily vs direct all-time — or the
    same rollup under a different partitioning — can differ by a few
    counts inside the standard rsd (~1.04/sqrt(2^lg_k)). Consumers
    must treat the output as an estimate with that tolerance, which is
    exactly how the driver query certifies it.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias(sketch_alias)
    )


def hll_merge(
    sketches: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "hll",
    estimate_alias: str = "approx_distinct",
) -> DataFrame:
    """Merge per-group sketches up to a coarser grouping and emit the
    estimate: (keys..., approx_distinct). The input is the (tiny)
    sketch table, not raw data — the whole point of ``hll_rollup``."""
    return sketches.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col)))
        .cast("long")
        .alias(estimate_alias)
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    id_col: str,
    num_buckets: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Gini coefficient of a non-negative quantity across entities —
    the concentration read-out (is all usage/cost/volume coming from a
    handful of users?): 0 = perfectly even, (n-1)/n = one entity holds
    everything. Returns ONE row (n, total, gini) via the rank formula

        G = 2 * sum(rank_i * x_i) / (n * sum(x)) - (n + 1) / n

    with ranks 1..n ascending by (value, id). Tie order between equal
    values cannot change the sum, so any consistent total order gives
    the exact statistic. NULL values are ignored, as SQL aggregates
    ignore them.

    Scale shape: global ranks are running sums of 1 from
    ``windows.bucketed_prefix_sums`` over value range tiles — no
    entity-scale data ever crosses a SinglePartition exchange. rank*x
    products sum as decimals, so the one-row reduction is exact at any
    count.
    """
    vals = df.select(
        F.col(id_col).alias("__id__"), F.col(value_col).cast("double").alias("__x__")
    ).filter(F.col("__x__").isNotNull())
    ranked = bucketed_prefix_sums(
        range_buckets(vals, F.col("__x__"), num_buckets),
        ["__x__", "__id__"],
        {"__rk__": F.lit(1)},
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__x__").cast("decimal(28,6)")).cast("double").alias("total"),
        F.sum(
            (F.col("__rk__").cast("decimal(18,0)")
             * F.col("__x__").cast("decimal(18,6)")).cast("decimal(38,6)")
        ).cast("double").alias("__s__"),
    )
    n, t, srk = F.col("n").cast("double"), F.col("total"), F.col("__s__")
    gini = F.when(
        (F.col("n") > 0) & (t > 0),
        F.round(F.lit(2.0) * srk / (n * t) - (n + 1.0) / n, digits),
    ).otherwise(F.lit(0.0))
    return agg.select("n", F.round(t, digits).alias("total"), gini.alias("gini"))


def pareto_analysis(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    top_share: float = 0.8,
    digits: int = 6,
) -> DataFrame:
    """Contribution / Pareto (80-20) analysis: per key, its share of
    the decimal-exact total, the running share in descending-value
    order, and whether the key belongs to the head that covers
    ``top_share`` of total value:

        (key_cols..., value, share, cum_share, in_top)

    ``in_top`` marks every key whose cumulative share FIRST reaches
    ``top_share`` (ties at the boundary break by key ascending, so
    the head set is deterministic).

    Scale shape: the raw table collapses to key-cardinality size in
    one groupBy (decimal sums, map-side combined); the ordering
    window runs over THAT table only. For key cardinalities too big
    for one task, rank with ``windows.bucketed_prefix_sums``; for
    dashboard-grade cardinalities this is the right plan.
    """
    keys = list(key_cols)
    per_key = df.groupBy(*keys).agg(
        F.sum(F.col(value_col).cast("decimal(18,3)")).alias("__v__")
    )
    total = per_key.agg(F.sum("__v__").alias("__t__"))
    w = Window.orderBy(F.desc("__v__"), *[F.asc(k) for k in keys]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_key.crossJoin(F.broadcast(total))
        .withColumn("__cum__", F.sum("__v__").over(w))
        .select(
            *keys,
            F.col("__v__").cast("double").alias("value"),
            F.round(F.col("__v__").cast("double") / F.col("__t__").cast("double"),
                    digits).alias("share"),
            F.round(F.col("__cum__").cast("double") / F.col("__t__").cast("double"),
                    digits).alias("cum_share"),
            (
                (F.col("__cum__") - F.col("__v__")).cast("double")
                < F.lit(top_share) * F.col("__t__").cast("double")
            ).alias("in_top"),
        )
    )


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    digits: int = 6,
) -> DataFrame:
    """Weighted (lower) median per group: the smallest value whose
    cumulative weight reaches half the group's total — the
    quantile-under-weights operator plain percentile can't express
    (every row counts once there; here a row counts its weight —
    revenue-weighted midpoint price, token-weighted quality cutoffs).
    Returns (group..., weighted_median, total_weight).

    Scale shape: duplicate values collapse FIRST via one groupBy on
    (group, value) with decimal weight sums (the only data-scale
    shuffle), the cumulative walk then windows per group over the
    collapsed distinct-value table, and one min-aggregate picks the
    crossing point. Weights are pre-rounded decimals, so the crossing
    comparison is merge-order-exact.
    """
    keys = list(group_cols)
    dec = f"decimal(28,{digits})"
    wgt = F.round(F.col(weight_col).cast("double"), digits).cast(dec)
    v = F.col(value_col).cast("double")
    cells = df.groupBy(*keys, v.alias("__v__")).agg(F.sum(wgt).alias("__w__"))
    w_cum = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy("__v__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*[F.col(k) for k in keys])
    walked = cells.select(
        *keys,
        "__v__",
        F.sum("__w__").over(w_cum).alias("__cw__"),
        F.sum("__w__").over(w_all).alias("__tw__"),
    )
    return (
        walked.filter(F.col("__cw__") * 2 >= F.col("__tw__"))
        .groupBy(*keys)
        .agg(
            F.min("__v__").alias("weighted_median"),
            F.round(F.max("__tw__").cast("double"), digits).alias("total_weight"),
        )
    )


def label_entropy(
    df: DataFrame,
    group_cols: Sequence[str],
    label_col: str,
    digits: int = 6,
) -> DataFrame:
    """Shannon entropy of the label distribution per group (nats) plus
    the [0,1]-normalized version — the diversity/concentration dual of
    ``gini_concentration``: 0 = one label dominates entirely, 1 = all
    observed labels equally likely. Returns
    (group..., n, n_labels, entropy, norm_entropy); single-label
    groups get entropy 0 and NULL norm (ln(1) = 0 denominator).

    Scale shape: one group-count to (group, label) cells (the only
    data-scale shuffle), then a per-group rollup of decimal-rounded
    -p·ln p terms — merge-order-exact, vocabulary-bounded.
    """
    keys = list(group_cols)
    cells = df.groupBy(*keys, label_col).agg(F.count(F.lit(1)).alias("__c__"))
    per_group = cells.groupBy(*keys).agg(
        F.sum("__c__").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        F.collect_list("__c__").alias("__cs__"),
    )
    # entropy from the per-group count list (vocabulary-bounded): the
    # terms are rounded before the fold so the sum is deterministic
    nn = F.col("n").cast("double")
    dec = f"decimal(28,{digits})"
    ent = F.aggregate(
        F.col("__cs__"),
        F.lit(0).cast(dec),
        # decimal + decimal widens to (29,6); cast back each step so
        # the accumulator type stays fixed (exact: terms carry 6 dp)
        lambda acc, c: (
            acc + F.round(-(c / nn) * F.log(c / nn), digits).cast(dec)
        ).cast(dec),
    ).cast("double")
    out = per_group.select(
        *keys,
        "n",
        "n_labels",
        F.round(ent, digits).alias("entropy"),
        F.when(
            F.col("n_labels") > 1,
            F.round(ent / F.log(F.col("n_labels").cast("double")), digits),
        ).alias("norm_entropy"),
    )
    return out


def heavy_hitters(
    df: DataFrame,
    col: str,
    threshold: float = 0.001,
    digits: int = 6,
) -> DataFrame:
    """EXACT frequent-item mining, sketch-accelerated: every value with
    frequency >= ``threshold`` of the table, as (value, cnt, share) —
    with counts that are exact, not estimates.

    Two passes. Pass 1 runs Misra-Gries with ceil(1/threshold)
    counters PER PARTITION (mapInPandas — partition-wide dict state
    over the Arrow batch iterator, never a per-row Python call) and
    emits each partition's surviving candidate values. The guarantee
    composes: a value with global count >= t*N has, by pigeonhole,
    count >= t*N_p in some partition, and MG with k = ceil(1/t)
    counters retains every local value with count > N_p/(k+1) —
    since k+1 > 1/t, t*N_p > N_p/(k+1), so every true heavy hitter
    SURVIVES in at least one partition. Lossless candidate
    generation; false candidates are fine. Pass 2 exactly counts the
    candidate set (a semi join bounded by partitions x k values, never
    the full value cardinality) and filters on the exact total.

    The 100 TB point: the full (value, count) table for a
    high-cardinality column is itself huge; this touches the data
    twice but shuffles only candidates — the classic
    candidate-then-verify shape shared with the dedup stack.
    """
    import math

    k = int(math.ceil(1.0 / float(threshold)))
    src = df.select(F.col(col).cast("string").alias("__v__"))

    def mg_partition(batches):
        # batch-weighted Misra-Gries (Berinde et al. reduction): merge
        # each Arrow batch's value_counts, then if over capacity
        # subtract the (k+1)-th largest count from everything and drop
        # the non-positive — each reduction of size m removes
        # >= (k+1)*m total mass, so any value's total decrement is
        # <= N_p/(k+1): the same survival guarantee as per-row MG,
        # vectorized instead of a per-row Python loop
        import numpy as np
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for v, c in pdf["__v__"].dropna().value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                vals = np.fromiter(counters.values(), dtype=np.int64)
                m = int(np.partition(vals, len(vals) - (k + 1))[len(vals) - (k + 1)])
                counters = {
                    key: cnt - m for key, cnt in counters.items() if cnt > m
                }
        yield pd.DataFrame({"__v__": list(counters.keys())})

    cand = src.mapInPandas(mg_partition, "__v__ string").distinct()
    total = src.agg(F.count("__v__").alias("__n__"))
    exact = (
        src.join(F.broadcast(cand), on="__v__", how="left_semi")
        .groupBy("__v__")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(float(threshold)) * F.col("__n__"))
        .select(
            F.col("__v__").alias("value"),
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("__n__"), digits).alias(
                "share"
            ),
        )
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    seed: int = 42,
    digits: int = 6,
) -> DataFrame:
    """Differentially-private-mechanism group counts: exact counts plus
    Laplace(1/epsilon) noise generated by the inverse-CDF transform of
    a SEEDED md5-uniform — noise = -(1/eps)*sign(u-1/2)*ln(1-2|u-1/2|).
    Returns (group..., noisy_count).

    SEEDED determinism is deliberate and means this specific output is
    reproducible — which also means a FIXED seed does NOT provide the
    DP guarantee across releases (an adversary who knows the seed can
    subtract the noise). Rotate the seed per release in production;
    the fixed default exists so tests and the SQL twin can replay the
    mechanism bit-for-bit. Sensitivity 1 (each entity contributes one
    row per group at most — the caller's contract).

    Plan: one map-side-combinable count, one projection. The uniform
    comes from the first 13 hex chars of md5(seed:group...) — 52 bits,
    exactly representable in a double, identical in any engine.
    """
    gcols = list(group_cols)
    h = F.md5(
        F.concat_ws(
            ":", F.lit(seed).cast("string"), *[F.col(c).cast("string") for c in gcols]
        )
    )
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 0.5) / F.lit(
        float(1 << 52)
    )
    centered = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / float(epsilon))
        * F.signum(centered)
        * F.log(F.lit(1.0) - 2 * F.abs(centered))
    )
    return (
        df.groupBy(*gcols)
        .agg(F.count(F.lit(1)).alias("__n__"))
        .select(
            *gcols,
            F.round(F.col("__n__") + noise, digits).alias("noisy_count"),
        )
    )


def herfindahl(
    df: DataFrame,
    group_cols: Sequence[str],
    entity_col: str,
    value_col: str | None = None,
    digits: int = 6,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: the sum of
    squared entity shares of the group total — 1/N_entities for a
    perfectly even split, 1.0 for a monopoly. The market/traffic/
    vendor concentration read-out that pairs with ``pareto_analysis``
    (which ranks the head; this scores the whole distribution in one
    number). Returns (group..., n_entities, hhi).

    Determinism: per-entity masses are exact (counts, or decimal sums
    of ``value_col``); shares square as rounded decimals and the HHI
    accumulates decimally — the one division per entity happens on
    exact inputs.
    """
    gcols = list(group_cols)
    mass = (
        F.count(F.lit(1)).cast("decimal(28,6)")
        if value_col is None
        else F.sum(F.col(value_col).cast("decimal(18,6)")).cast("decimal(28,6)")
    )
    per_entity = df.groupBy(*gcols, entity_col).agg(mass.alias("__m__"))
    w_tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    ratio = F.col("__m__").cast("double") / F.sum("__m__").over(w_tot).cast(
        "double"
    )
    # plain multiply, not pow(x, 2): engines may differ in pow's ULP
    share2 = F.round(ratio * ratio, 12).cast("decimal(18,12)")
    return (
        per_entity.select(*gcols, share2.alias("__s2__"))
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.round(F.sum("__s2__").cast("double"), digits).alias("hhi"),
        )
    )


def histogram_rollup(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> DataFrame:
    """Mergeable fixed-bin histogram summaries per group — the EXACT
    counterpart of ``hll_rollup``'s sketch pattern: with bin edges
    FIXED globally (``lo``/``hi``/``n_bins`` are part of the contract,
    not derived per group), per-group bin counts merge to any coarser
    grouping by plain addition, so a 100 TB backfill of
    distribution-shaped questions (quantiles, tail mass, drift)
    becomes a few-KB-per-group integer merge — and unlike HLL/KLL
    sketches the merge is bit-exact and order-independent.

    Returns (keys..., bin, cnt): only occupied bins, ``bin`` in
    [0, n_bins-1]; values outside [lo, hi] clamp into the edge bins
    (count everything, never drop silently). Downstream:
    ``histogram_quantile`` for estimates, plain sums for coarser
    rollups.
    """
    if not hi > lo:
        raise ValueError(f"histogram_rollup: need hi > lo, got [{lo}, {hi}]")
    width = (float(hi) - float(lo)) / int(n_bins)
    b = F.floor(
        (F.col(col).cast("double") - F.lit(float(lo))) / F.lit(width)
    )
    b = F.least(F.greatest(b, F.lit(0)), F.lit(int(n_bins) - 1))
    return (
        df.groupBy(*keys, b.cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_quantile(
    hist: DataFrame,
    keys: Sequence[str],
    p: float,
    lo: float,
    hi: float,
    n_bins: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Quantile estimate from (possibly finer-keyed) ``histogram_rollup``
    output, merged up to ``keys``: linear interpolation inside the bin
    containing the p-th count — max error = one bin width, the
    documented fixed-bin trade. Returns (keys..., n, q_est).

    Runs entirely on the bin table (group-cardinality x n_bins rows):
    merge = one integer sum per (keys, bin); the quantile walk is a
    cumsum window PARTITIONED BY the group over <= n_bins rows — never
    a fact-sized window. Deterministic: integer counts, one final
    interpolation per group.
    """
    from pyspark.sql import Window

    width = (float(hi) - float(lo)) / int(n_bins)
    merged = hist.groupBy(*keys, "bin").agg(F.sum("cnt").alias("__c__"))
    w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.select(
        *keys,
        "bin",
        "__c__",
        F.sum("__c__").over(w).alias("__cum__"),
    )
    tot = cum.groupBy(*keys).agg(F.sum("__c__").cast("long").alias("n"))
    j = cum.join(tot, on=list(keys))
    target = F.lit(float(p)) * F.col("n").cast("double")
    # first bin whose cumulative count reaches the target
    hit = j.filter(F.col("__cum__").cast("double") >= target)
    w2 = Window.partitionBy(*keys).orderBy("bin")
    first_hit = hit.withColumn("__rn__", F.row_number().over(w2)).filter(
        F.col("__rn__") == 1
    )
    frac = (
        target - (F.col("__cum__") - F.col("__c__")).cast("double")
    ) / F.col("__c__").cast("double")
    q = (
        F.lit(float(lo))
        + (F.col("bin").cast("double") + frac) * F.lit(width)
    )
    return first_hit.select(
        *keys,
        "n",
        F.round(q, digits).alias("q_est"),
    )


def trimmed_mean(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    alpha: float = 0.1,
    digits: int = 6,
) -> DataFrame:
    """Per-group alpha-trimmed mean — the robust location estimate
    between the mean (alpha=0) and the median (alpha->0.5): drop the
    lowest and highest floor(alpha*n) observations, average the rest.
    The dashboard's plain averages (01-rwe-dashboard.r:36-40) are
    outlier-dominated on skewed cost data; this is the standard
    robustification that, unlike ``winsorize``, removes rather than
    clamps. One row per group:

        (group..., n, n_trimmed, trimmed_mean)

    with n_trimmed = 2*floor(alpha*n) (both tails). Deterministic
    under ties: ranks order by (value, id).

    Scale shape: ONE group-partitioned window sort assigns in-group
    ranks (the shuffle is on the group key, never a global order),
    then one aggregate with decimal sums. alpha in [0, 0.5).
    """
    if not 0 <= alpha < 0.5:
        raise ValueError(f"alpha must be in [0, 0.5), got {alpha}")
    groups = list(group_cols)
    w = Window.partitionBy(*groups).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = df.select(
        *groups,
        F.col(value_col).cast("double").alias("__x__"),
        F.row_number().over(w).alias("__rk__"),
        F.count(F.lit(1)).over(Window.partitionBy(*groups)).alias("__n__"),
    )
    k = F.floor(F.lit(float(alpha)) * F.col("__n__")).cast("long")
    kept = ranked.filter(
        (F.col("__rk__") > k) & (F.col("__rk__") <= F.col("__n__") - k)
    )
    return kept.groupBy(*groups).agg(
        F.max("__n__").cast("long").alias("n"),
        (F.max("__n__") - F.count(F.lit(1))).cast("long").alias("n_trimmed"),
        F.round(
            F.sum(F.col("__x__").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            digits,
        ).alias("trimmed_mean"),
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_points: int = 10,
    num_buckets: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Lorenz-curve points — ``gini_concentration``'s plottable
    companion: for k = 1..n_points, the share of total value held by
    the bottom floor(k*n/n_points) entities ranked ascending (NULL
    values ignored, as in ``gini_concentration``). One row per point:

        (point, n_entities, cum_value, value_share)

    point = k/n_points; the curve hugging y=x means even distribution,
    bowing to the bottom-right means concentration (area between =
    Gini/2).

    Scale shape: the same global rank as ``gini_concentration``
    (``windows.bucketed_prefix_sums``, which also hands every row the
    entity count n — no entity-scale SinglePartition exchange); each
    entity maps to segment ceil(rank*n_points/n), per-segment decimal
    sums roll up cumulatively over the n_points-row segment table.
    """
    vals = df.select(
        F.col(id_col).alias("__id__"),
        F.col(value_col).cast("double").alias("__x__"),
    ).filter(F.col("__x__").isNotNull())
    ranked = bucketed_prefix_sums(
        range_buckets(vals, F.col("__x__"), num_buckets),
        ["__x__", "__id__"],
        {"__rk__": F.lit(1)},
        totals={"__rk__": "__n__"},
    )
    # ceil(rk*P/n) via floor((rk*P - 1)/n) + 1: rk*P stays far inside
    # the double-exact integer range, identical in both engines
    seg = (
        F.floor(
            (F.col("__rk__") * n_points - 1).cast("double")
            / F.col("__n__").cast("double")
        )
        + 1
    ).cast("int")
    per_seg = ranked.select(
        seg.alias("__seg__"),
        F.col("__x__"),
        F.col("__n__"),
    ).groupBy("__seg__").agg(
        F.sum(F.col("__x__").cast("decimal(28,6)")).alias("__sv__"),
        F.max("__n__").alias("__n__"),
    )
    w_cum = Window.orderBy("__seg__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.orderBy("__seg__").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_seg.select(
        (F.col("__seg__").cast("double") / n_points).alias("point"),
        F.col("__n__").alias("n_entities"),
        F.round(F.sum("__sv__").over(w_cum).cast("double"), digits).alias(
            "cum_value"
        ),
        F.round(
            F.sum("__sv__").over(w_cum).cast("double")
            / F.sum("__sv__").over(w_tot).cast("double"),
            digits,
        ).alias("value_share"),
    )
