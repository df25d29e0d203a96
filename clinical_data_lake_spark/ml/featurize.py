"""Featurization pipeline — the reference's ``featurize_encounters``
(include/featurise.py:18-96, 02-patient-trajectory.py:96-178) rebuilt
idiomatically and generalized to any (entity, label, timestamp) event
table.

Reference-semantic parity, Spark-first restatement:
- global earliest date: ``agg(min)`` broadcast to every row instead of
  sort-limit-1 (include/featurise.py:21-27);
- N comorbidity like-flags in ONE select instead of the
  withColumn+cache loop (include/featurise.py:42-45) — one Project
  node, no lineage pyramid;
- all rolling window features share ONE window spec => one shuffle +
  one sort regardless of flag count (include/featurise.py:73-88);
- StringIndexer models fit once on train and reused on test
  (include/featurise.py:50-70) — M1;
- VectorAssembler with handleInvalid='skip' — M2;
- seeded randomSplit — R1 (the reference leaves it unseeded,
  02-patient-trajectory.py:87).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import day_index
from ..operators.filters import like_flags
from ..operators.joins import with_global_scalar
from ..operators.sorts import global_min
from ..operators.windows import bucketed_prefix_sums, range_buckets, rolling_flag_sums


def _join_group_stats(df: DataFrame, stats: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Broadcast-join per-group stats back onto the rows with NULL-SAFE
    key equality: groupBy keeps a NULL-keyed group, so a data-repair
    operator (impute/scale/filter) must match those rows to their
    stats instead of silently dropping them through `=` semantics.
    Every df row matches exactly its own group's row, so inner is
    lossless here."""
    renamed = stats
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__k_{k}__")
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(F.col(f"__k_{k}__"))
        cond = c if cond is None else cond & c
    return df.join(F.broadcast(renamed), cond).drop(*[f"__k_{k}__" for k in keys])


def top_cooccurring_labels(
    events: DataFrame,
    cohort_ids: DataFrame,
    entity_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """The comorbid-condition list (02-patient-trajectory.py:57-63):
    distinct (entity, label) among cohort members -> prevalence count ->
    top-k, with a deterministic label tie-break (the reference's
    unordered ``limit`` is nondeterministic)."""
    return (
        events.join(cohort_ids, on=entity_col, how="left_semi")
        .filter(F.col(label_col).isNotNull())
        .select(entity_col, label_col).distinct()
        .groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc(label_col))
        .limit(k)
    )


def fit_string_indexers(df: DataFrame, cols: Sequence[str]) -> list:
    """M1 — one StringIndexer model per categorical column,
    handleInvalid='skip' (include/featurise.py:63-70). Returned models
    are reused on the test set so train/test share one encoding."""
    from pyspark.ml.feature import StringIndexer

    models = []
    for c in cols:
        si = StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="skip")
        models.append(si.fit(df))
    return models


def apply_string_indexers(df: DataFrame, models: Sequence) -> DataFrame:
    """M1 — apply fitted indexers (the test-set path,
    include/featurise.py:51-53)."""
    for m in models:
        df = m.transform(df)
    return df


def assemble_features(df: DataFrame, input_cols: Sequence[str],
                      output_col: str = "features") -> DataFrame:
    """M2 — VectorAssembler, handleInvalid='skip'
    (include/featurise.py:91-92)."""
    from pyspark.ml.feature import VectorAssembler

    va = VectorAssembler(inputCols=list(input_cols), outputCol=output_col,
                         handleInvalid="skip")
    return va.transform(df)


def seeded_split(df: DataFrame, train_fraction: float, seed: int = 42):
    """R1 — train/test split (02-patient-trajectory.py:85-87), seeded
    for reproducibility (the reference leaves the seed unset)."""
    return df.randomSplit([train_fraction, 1.0 - train_fraction], seed=seed)


def featurize_events(
    events: DataFrame,
    cohort: DataFrame,
    entity_col: str,
    label_col: str,
    ts_col: str,
    flag_needles: Sequence[str],
    days: int,
    indexer_models: Sequence | None = None,
    index_cols: Sequence[str] = (),
    numeric_feature_cols: Sequence[str] = (),
    assemble: bool = True,
):
    """The full feature build (include/featurise.py:18-96 semantics).

    Returns ``(features_df, indexer_models)`` mirroring the reference's
    two-mode signature: pass ``indexer_models`` to reuse train-fitted
    encoders on the test set; leave None to fit them here.

    Columns produced: ``day_idx`` (days since global earliest event),
    ``flag_i`` per needle (current-row label match), ``recent_flag_i``
    (trailing ``days``-day count per entity, current row excluded,
    empty frame -> 0), ``recent_total``, ``<col>_idx`` per categorical,
    ``label`` (= flag_0 as int, the reference's target definition,
    include/featurise.py:94), and ``features`` (vector) if
    ``assemble``.
    """
    min_ts = global_min(events, ts_col, alias="__origin__")
    base = (
        events.join(cohort, on=entity_col, how="left_semi")
        .filter(F.col(label_col).isNotNull())
    )
    base = with_global_scalar(base, min_ts).withColumn(
        "day_idx", day_index(ts_col, "__origin__")
    ).drop("__origin__")

    base = like_flags(base, label_col, list(flag_needles), prefix="flag")
    flag_cols = [f"flag_{i}" for i in range(len(flag_needles))]
    base = rolling_flag_sums(base, entity_col, "day_idx", flag_cols, days)

    if index_cols:
        if indexer_models is None:
            indexer_models = fit_string_indexers(base, index_cols)
        base = apply_string_indexers(base, indexer_models)
    else:
        indexer_models = indexer_models or []

    base = base.withColumn("label", F.col("flag_0").cast("int"))

    if assemble:
        feature_inputs = (
            [f"recent_flag_{i}" for i in range(len(flag_needles))]
            + ["recent_total"]
            + [f"{c}_idx" for c in index_cols]
            + list(numeric_feature_cols)
        )
        base = assemble_features(base, feature_inputs)
    return base, list(indexer_models)


def standardize(
    df: DataFrame,
    cols: Sequence[str],
    keys: Sequence[str] | None = None,
    digits: int = 6,
    suffix: str = "_z",
) -> DataFrame:
    """Z-score feature scaling: ``(x - mean) / stddev_samp`` per column,
    globally or per ``keys`` group — the standardization step before
    distance-based models and regularized fits (the reference assembles
    raw features unscaled, 03-work with ML models.py:35-44; tree models
    don't care, linear/kNN ones do).

    One aggregate pass computes every column's moments (mergeable
    map-side partials, one shuffle on the keys — or a 1-row global
    aggregate), broadcast back onto the rows: the fact table itself
    never shuffles. Moments and z-scores are rounded so partial-merge
    fp noise can't leak into engine comparisons. Zero-variance columns
    yield NULL z (explicit, not a div-by-zero crash under ANSI).
    """
    aggs = []
    for c in cols:
        x = F.col(c).cast("double")
        aggs.append(F.round(F.avg(x), digits).alias(f"__m_{c}__"))
        aggs.append(F.round(F.stddev_samp(x), digits).alias(f"__s_{c}__"))
    if keys:
        stats = df.groupBy(*keys).agg(*aggs)
        out = _join_group_stats(df, stats, list(keys))
    else:
        stats = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        sd = F.col(f"__s_{c}__")
        z = F.when(
            sd > 0,
            F.round((F.col(c).cast("double") - F.col(f"__m_{c}__")) / sd, digits),
        )
        out = out.withColumn(f"{c}{suffix}", z)
    return out.drop(*[f"__m_{c}__" for c in cols] + [f"__s_{c}__" for c in cols])


def robust_scale(
    df: DataFrame,
    cols: Sequence[str],
    keys: Sequence[str] | None = None,
    digits: int = 6,
    suffix: str = "_r",
) -> DataFrame:
    """Median/IQR feature scaling: ``(x - median) / (p75 - p25)`` per
    column, globally or per ``keys`` group — ``standardize``'s
    outlier-resistant sibling for the heavy-tailed clinical/monetary
    values where a few extreme rows dominate mean and stddev.

    Same shape as ``standardize``: ONE aggregate pass computes every
    column's exact interpolated quartiles (percentile_cont semantics,
    matching DuckDB ``quantile_cont``), broadcast back onto the rows —
    the fact table never shuffles. Zero-IQR columns yield NULL
    (explicit, not an ANSI div-by-zero). Quartiles and outputs are
    rounded so fp noise can't leak into engine comparisons.
    """
    aggs = []
    for c in cols:
        x = F.col(c).cast("double")
        aggs.append(F.round(F.percentile(x, F.lit(0.5)), digits).alias(f"__md_{c}__"))
        aggs.append(F.round(F.percentile(x, F.lit(0.25)), digits).alias(f"__q1_{c}__"))
        aggs.append(F.round(F.percentile(x, F.lit(0.75)), digits).alias(f"__q3_{c}__"))
    if keys:
        stats = df.groupBy(*keys).agg(*aggs)
        out = _join_group_stats(df, stats, list(keys))
    else:
        stats = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(stats))
    drop = []
    for c in cols:
        iqr = F.col(f"__q3_{c}__") - F.col(f"__q1_{c}__")
        scaled = F.when(
            iqr > 0,
            F.round((F.col(c).cast("double") - F.col(f"__md_{c}__")) / iqr, digits),
        )
        out = out.withColumn(f"{c}{suffix}", scaled)
        drop += [f"__md_{c}__", f"__q1_{c}__", f"__q3_{c}__"]
    return out.drop(*drop)


def target_encode(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    smoothing: float = 20.0,
    out_col: str | None = None,
    digits: int = 6,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    high-cardinality alternative to one-hot/StringIndexer encodings
    (M1's indexer gives arbitrary ranks; this gives the category's
    shrunken label mean, the standard trick for ids with thousands of
    levels):

        enc(c) = (sum_y(c) + smoothing * global_mean)
                 / (count(c) + smoothing)

    Categories with few rows shrink toward the global mean (an
    empirical-Bayes prior with ``smoothing`` pseudo-observations), so
    rare levels don't memorize their handful of labels.

    Scale shape: one groupBy on the category computes decimal-exact
    (count, sum) per level, one 1-row global aggregate supplies the
    prior, both broadcast back — the fact table never shuffles. NULL
    categories form their own level (standard practice: missingness is
    signal). Accumulation is decimal (partitioning-invariant); only
    the final scalar arithmetic runs in IEEE double, so the encoding
    is bit-reproducible across partitionings AND engines.
    """
    out_col = out_col or f"{cat_col}_enc"
    # NULL join keys never match; a sentinel key makes NULL a level.
    key = F.coalesce(F.col(cat_col).cast("string"), F.lit("\x00<null>"))
    tagged = df.withColumn("__cat__", key)
    y = F.col(label_col).cast("decimal(18,6)")
    per_cat = tagged.groupBy("__cat__").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.sum(y).alias("__sy__"),
    )
    glob = df.agg(
        F.count(F.lit(1)).alias("__gn__"),
        F.sum(y).alias("__gs__"),
    )
    gm = F.round(F.col("__gs__").cast("double") / F.col("__gn__"), digits)
    enc = F.round(
        (F.col("__sy__").cast("double") + F.lit(float(smoothing)) * gm)
        / (F.col("__n__") + F.lit(float(smoothing))),
        digits,
    )
    return (
        tagged.join(F.broadcast(per_cat), on=["__cat__"])
        .crossJoin(F.broadcast(glob))
        .withColumn(out_col, enc)
        .drop("__cat__", "__n__", "__sy__", "__gn__", "__gs__")
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    alias: str = "pct",
    num_buckets: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Global percent-rank transform of a column — map every value to
    its empirical quantile in [0, 1] (SQL ``percent_rank()``
    semantics: (rank - 1)/(n - 1), ties share the min rank). The
    standard monotone normalization before non-parametric models and
    for making scores comparable across heterogeneous cohorts.

    A naive ``percent_rank().over(Window.orderBy(col))`` is a
    single-partition sort of the whole table. Here ranks come from the
    distinct-value table (one groupBy): ``windows.bucketed_prefix_sums``
    of the value counts over range tiles gives each value its count of
    smaller values and the row total; rows then pick up their value's
    rank with one value-keyed join. No row-scale data crosses a
    SinglePartition exchange.
    """
    vals = df.groupBy(F.col(value_col).cast("double").alias("__v__")).agg(
        F.count(F.lit(1)).alias("__cnt__")
    )
    ranked = (
        bucketed_prefix_sums(
            range_buckets(vals, F.col("__v__"), num_buckets),
            ["__v__"],
            {"__le__": F.col("__cnt__")},
            totals={"__le__": "__n__"},
        )
        .select(
            "__v__",
            F.when(
                F.col("__n__") > 1,
                F.round(
                    (F.col("__le__") - F.col("__cnt__")).cast("double")
                    / (F.col("__n__") - 1),
                    digits,
                ),
            ).otherwise(F.lit(0.0)).alias(alias),
        )
    )
    return df.join(
        ranked.withColumnRenamed("__v__", "__qn_v__"),
        on=F.col(value_col).cast("double") == F.col("__qn_v__"),
    ).drop("__qn_v__")


def impute_group_median(
    df: DataFrame,
    cols: Sequence[str],
    keys: Sequence[str] | None = None,
    digits: int = 6,
    flag_suffix: str = "_imputed",
) -> DataFrame:
    """Median imputation for missing numerics, per ``keys`` group or
    global — the repair step before model fitting (median, not mean:
    robust to the heavy tails clinical/monetary values carry). Each
    imputed column gains a boolean ``<col>_imputed`` flag so
    missingness stays visible as a feature (standard practice — the
    imputation must not silently erase signal).

    Same broadcast shape as ``standardize``/``robust_scale``: ONE
    aggregate pass computes every column's exact interpolated median
    (NULLs excluded by the aggregate), broadcast back; the fact table
    never shuffles. All-NULL groups leave the column NULL and the
    flag true — loud in the output, not a crash.
    """
    aggs = [
        F.round(F.percentile(F.col(c).cast("double"), F.lit(0.5)), digits).alias(
            f"__md_{c}__"
        )
        for c in cols
    ]
    if keys:
        stats = df.groupBy(*keys).agg(*aggs)
        out = _join_group_stats(df, stats, list(keys))
    else:
        stats = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        miss = F.col(c).isNull()
        out = out.withColumn(f"{c}{flag_suffix}", miss).withColumn(
            c, F.coalesce(F.col(c).cast("double"), F.col(f"__md_{c}__"))
        )
    return out.drop(*[f"__md_{c}__" for c in cols])


def iqr_filter(
    df: DataFrame,
    col: str,
    keys: Sequence[str] | None = None,
    k: float = 1.5,
    digits: int = 6,
) -> DataFrame:
    """Tukey-fence outlier REMOVAL: keep rows inside
    [q1 - k*iqr, q3 + k*iqr] of their group — the drop-the-rows
    sibling of ``winsorize`` (which clamps) for pipelines where
    outliers are errors, not extremes. NULL values are dropped too
    (they are outside any fence; impute first if they are legitimate).

    One aggregate pass for the quartiles (broadcast back), one filter
    — the fact table never shuffles.
    """
    keys = list(keys) if keys else []
    x = F.col(col).cast("double")
    aggs = [
        F.round(F.percentile(x, F.lit(0.25)), digits).alias("__q1__"),
        F.round(F.percentile(x, F.lit(0.75)), digits).alias("__q3__"),
    ]
    if keys:
        stats = df.groupBy(*keys).agg(*aggs)
        out = _join_group_stats(df, stats, keys)
    else:
        out = df.crossJoin(F.broadcast(df.agg(*aggs)))
    iqr = F.col("__q3__") - F.col("__q1__")
    lo = F.col("__q1__") - F.lit(k) * iqr
    hi = F.col("__q3__") + F.lit(k) * iqr
    return out.filter(x.between(lo, hi)).drop("__q1__", "__q3__")


def mad_outliers(
    df: DataFrame,
    col: str,
    keys: Sequence[str] | None = None,
    k: float = 3.5,
    digits: int = 6,
) -> DataFrame:
    """Robust outlier scoring via the modified z-score (Iglewicz-
    Hoaglin): 0.6745 * (x - median) / MAD, flagged when |z| exceeds
    ``k`` (3.5 is the published default) — the robust sibling of
    ``iqr_filter`` that SCORES instead of dropping, immune to the
    outliers' own pull on mean/stddev. Adds ``<col>_robust_z`` and
    ``<col>_is_outlier``; zero-MAD groups (over half the values
    identical) yield NULL z and false flag.

    Scale shape: two bounded aggregate passes — the group medians,
    then the median absolute deviation of the broadcast-joined
    residuals — both null-safe-joined back; the fact table never
    shuffles.
    """
    keys = list(keys) if keys else []
    x = F.col(col).cast("double")
    med_aggs = [F.round(F.percentile(x, F.lit(0.5)), digits).alias("__med__")]
    if keys:
        med = df.groupBy(*keys).agg(*med_aggs)
        with_med = _join_group_stats(df, med, keys)
    else:
        with_med = df.crossJoin(F.broadcast(df.agg(*med_aggs)))
    dev = F.abs(x - F.col("__med__"))
    mad_aggs = [F.round(F.percentile(dev, F.lit(0.5)), digits).alias("__mad__")]
    if keys:
        mad = with_med.groupBy(*keys).agg(*mad_aggs)
        scored = _join_group_stats(with_med, mad, keys)
    else:
        scored = with_med.crossJoin(F.broadcast(with_med.agg(*mad_aggs)))
    z = F.when(
        F.col("__mad__") > 0,
        F.round(F.lit(0.6745) * (x - F.col("__med__")) / F.col("__mad__"), digits),
    )
    return (
        scored.withColumn(f"{col}_robust_z", z)
        .withColumn(
            f"{col}_is_outlier",
            F.coalesce(F.abs(z) > F.lit(float(k)), F.lit(False)),
        )
        .drop("__med__", "__mad__")
    )


def future_activity_labels(
    df,
    user_col: str,
    ts_col: str,
    horizon_weeks: int = 1,
) -> "DataFrame":
    """Leakage-safe temporal LABEL BUILDER for churn/retention models:
    a (user, week) training matrix where ``label`` = "was the user
    active in ANY of the next ``horizon_weeks`` weeks" — built so no
    feature row can see its own future:

    - the grid is users x ALL observed calendar weeks (zero-filled —
      an inactive week is a negative example, not a missing row);
    - the label looks strictly FORWARD (window frame [+1, +h] over the
      per-user week sequence);
    - the last ``horizon_weeks`` weeks are DROPPED — their horizon
      extends past the observed data, and labeling them "inactive"
      would teach the model the dataset boundary (the classic silent
      leakage bug this builder exists to prevent).

    Returns (user, week, active_now, n_events, label).

    Scale shape: one groupBy to (user, week) counts, a users x weeks
    grid (users x bounded-calendar rows — the training-matrix cost,
    linear in users), and ONE window partitioned BY USER ordered by
    week. No self-joins, no global windows.
    """
    from pyspark.sql import Window

    week = F.date_trunc("week", F.col(ts_col)).cast("date").alias("week")
    acts = (
        df.select(F.col(user_col).alias("user"), week)
        .groupBy("user", "week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    users = df.select(F.col(user_col).alias("user")).distinct()
    # the week axis is a COMPLETE calendar from first to last observed
    # week — a week nobody was active in still exists (and is exactly
    # the kind of week churn labels care about); deriving weeks from
    # observed events would silently skip it
    bounds = df.agg(
        F.min(F.date_trunc("week", F.col(ts_col)).cast("date")).alias("__lo__"),
        F.max(F.date_trunc("week", F.col(ts_col)).cast("date")).alias("__hi__"),
    )
    weeks = bounds.select(
        F.explode(
            F.sequence(
                F.col("__lo__"), F.col("__hi__"), F.expr("interval 7 days")
            )
        ).alias("week")
    )
    grid = (
        users.crossJoin(weeks)
        .join(acts, on=["user", "week"], how="left")
        .select(
            "user",
            "week",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )
    h = int(horizon_weeks)
    w_fwd = (
        Window.partitionBy("user").orderBy("week").rowsBetween(1, h)
    )
    w_rank = Window.partitionBy("user").orderBy(F.desc("week"))
    labeled = grid.select(
        "user",
        "week",
        (F.col("n_events") > 0).alias("active_now"),
        "n_events",
        (F.coalesce(F.max("n_events").over(w_fwd), F.lit(0)) > 0).alias(
            "label"
        ),
        F.row_number().over(w_rank).alias("__from_end__"),
    )
    return labeled.filter(F.col("__from_end__") > h).drop("__from_end__")
