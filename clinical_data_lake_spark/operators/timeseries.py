"""Time-series regularization: calendar-grid resampling, gap fill,
last-observation-carried-forward.

The reference's event analytics (02-rwe-patient-dashboard.py windowed
rollups) assume a dense grid; real event streams are sparse. These
operators densify: per key, a contiguous daily spine between the key's
first and last active day, zero-filled counts, and LOCF for carried
measures — the hypertable/"time_bucket_gapfill" operation expressed as
pure DataFrame ops.

100 TB shape: the expensive step is the rollup groupBy — one shuffle on
(key, day), partial-aggregated map-side. Everything after runs on the
aggregated table (|keys| x |days| rows, orders of magnitude smaller):
the spine explode generates at most (max_day - min_day + 1) rows per
key, the gap join and the LOCF window reuse the same key-hash
partitioning, and AQE coalesces the post-agg shuffles. Nothing touches
the raw events twice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import ensure_parallelism


def resample_daily(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    locf: bool = True,
) -> DataFrame:
    """Daily rollup on a gap-free per-key calendar grid.

    Returns (key, day, n_events, day_sum, locf_sum):
    - ``day`` — every calendar date from the key's first to last
      active day, inclusive (dates with no events included);
    - ``n_events`` — events that day (0 on gap days);
    - ``day_sum`` — exact decimal sum of ``value_col`` rendered as
      double (NULL on gap days) — decimal accumulation keeps the
      result independent of partial-aggregation order;
    - ``locf_sum`` — ``day_sum`` with gaps carried forward from the
      last observed day (never NULL: the spine starts at each key's
      first *active* day, so there is always something to carry).
      ``locf=False`` skips this column and its window pass for
      consumers that only need the dense grid (e.g. ``ewma``).
    """
    daily = df.groupBy(F.col(key), F.to_date(F.col(ts_col)).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,3)")).cast("double").alias("day_sum"),
    )
    spine = (
        daily.groupBy(key)
        .agg(F.min("day").alias("__mn__"), F.max("day").alias("__mx__"))
        .select(F.col(key), F.explode(F.sequence("__mn__", "__mx__")).alias("day"))
    )
    grid = spine.join(daily, on=[key, "day"], how="left").select(
        F.col(key),
        F.col("day"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.col("day_sum"),
    )
    if not locf:
        return grid
    w = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.withColumn("locf_sum", F.last("day_sum", ignorenulls=True).over(w))


def ewma(
    df: DataFrame,
    key: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    alias: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key (pandas
    ``ewm(adjust=True)`` semantics): y_t = Σ v_i·r^(t-i) / Σ r^(t-i),
    r = 1-alpha — the standard trend-smoothing pass over the
    gap-filled grid from ``resample_daily``.

    Closed-form, shuffle-shared formulation (no sequential recurrence,
    no UDF). A single global cumsum of v_i·r^(-i) overflows a double at
    i > 709/ln(1/r) (~1990 rows at the default alpha) — too short for
    multi-year daily series — so the series is SEGMENTED into blocks of
    H = 300/ln(1/r) rows and the running sums are rescaled at block
    boundaries:

        block b, local index j:   N(b,j) = Λ_b(j) + r^(j+1)·carry_b
        Λ_b(j) = r^j · Σ_{j'<=j} v·r^(-j')        (in-block cumsum,
                                                   weights <= e^300)
        carry_b = C_(b-1) + r^H·C_(b-2)           (block-end numerators
                                                   of the 2 prior blocks)

    The carry truncates EXACTLY at two terms in double arithmetic:
    blocks three-or-more back enter with relative weight <= r^(2H) =
    e^(-600), far below the 2^-52 representable precision — so the
    truncation changes no output bit while making the carry a pair of
    block-level lags instead of an unbounded recurrence. The
    denominator is the geometric closed form (1-r^(t+1))/(1-r).

    Plan: the in-block cumsum shares the per-key shuffle; the carry
    adds one (key, block) aggregation over an H-times-smaller table
    plus a join back. No row limit remains — a 100k-row key smooths
    identically to pandas ``ewm(adjust=True)``.
    """
    import math

    r = 1.0 - alpha
    # largest block where r^(-j) stays <= e^300 (double max is ~e^709;
    # the margin keeps v·r^(-j) finite for any sane value magnitude)
    H = max(1, int(300.0 / math.log(1.0 / r)))
    w_idx = Window.partitionBy(key).orderBy(order_col)
    base = (
        df.withColumn("__i__", (F.row_number().over(w_idx) - 1).cast("long"))
        .withColumn("__b__", (F.col("__i__") / H).cast("long"))
        .withColumn("__j__", (F.col("__i__") % H).cast("long"))
    )
    w_loc = (
        Window.partitionBy(key, "__b__")
        .orderBy("__j__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = base.withColumn(
        "__u__",
        F.sum(
            F.col(value_col) * F.pow(F.lit(r), -F.col("__j__").cast("double"))
        ).over(w_loc),
    )
    # block-end numerator C_b = r^(H-1)·U_b(H-1); max_by is deterministic
    # (j is unique per block). Only FULL blocks are ever consumed as a
    # lag (the final short block has no successor), so H-1 is exact.
    w_blk = Window.partitionBy(key).orderBy("__b__")
    blocks = (
        base.groupBy(key, "__b__")
        .agg(F.max_by("__u__", "__j__").alias("__ulast__"))
        .withColumn(
            "__c__", F.pow(F.lit(r), F.lit(float(H - 1))) * F.col("__ulast__")
        )
        .withColumn(
            "__carry__",
            F.coalesce(F.lag("__c__", 1).over(w_blk), F.lit(0.0))
            + F.pow(F.lit(r), F.lit(float(H)))
            * F.coalesce(F.lag("__c__", 2).over(w_blk), F.lit(0.0)),
        )
        .select(key, "__b__", "__carry__")
    )
    num = (
        F.pow(F.lit(r), F.col("__j__").cast("double")) * F.col("__u__")
        + F.pow(F.lit(r), (F.col("__j__") + 1).cast("double")) * F.col("__carry__")
    )
    den = (
        F.lit(1.0) - F.pow(F.lit(r), (F.col("__i__") + 1).cast("double"))
    ) / F.lit(1.0 - r)
    return (
        base.join(blocks, on=[key, "__b__"])
        .withColumn(alias, num / den)
        .drop("__i__", "__b__", "__j__", "__u__", "__carry__")
    )


def merge_intervals(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping/touching intervals per key (gaps-and-islands):
    returns (key, start, end, n_merged) — one row per maximal merged
    span. The clinical workhorse (overlapping medication courses,
    hospital stays, device-wear sessions collapse to exposure
    episodes); also the session-flattening step after interval joins.

    Plan: one window pass — an interval starts a new island iff its
    start exceeds the running max of all previous ends (handles
    intervals nested inside earlier, longer ones, which a lag(end)
    comparison would miss); island id = running count of starts;
    groupBy (key, island). One shuffle on the key, partial aggregation
    map-side. Touching intervals (start == previous end) merge.
    """
    w = Window.partitionBy(key).orderBy(F.col(start_col), F.col(end_col))
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = (
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end)
    ).cast("long")
    island = F.sum("__new__").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__new__", is_new)
        .withColumn("__island__", island)
        .groupBy(key, "__island__")
        .agg(
            F.min(start_col).alias("start"),
            F.max(end_col).alias("end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island__")
    )


def time_weighted_avg(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    digits: int = 6,
) -> DataFrame:
    """Time-weighted average per key over an irregular series — the
    correct mean for sampled-when-changed measures (drug exposure
    level, vital-sign monitors, sensor states), where the plain AVG
    over-weights busy periods:

        twa = sum over intervals of value_i * (t_{i+1} - t_i)
              / (t_last - t_first)

    i.e. the integral of the last-observation-carried-forward curve
    divided by the observation span. Each reading is weighted by how
    long it REMAINED the current value (the final reading carries no
    weight — nothing is known past it). Keys with a single reading (no
    span) fall back to that reading's value.

    One shuffle on the key; the interval construction is a single lag
    window over each key's readings. Returns
    (key, n_obs, span_s, twa).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(value_col))
    t = F.col(ts_col).cast("double")
    iv = df.select(
        F.col(key),
        t.alias("__t__"),
        F.col(value_col).cast("double").alias("__v__"),
        (F.lead(t).over(w) - t).alias("__dt__"),
    )
    # span = max(t) - min(t) — mathematically equal to sum(dt) but
    # computed as ONE subtraction of exact inputs, so it carries none
    # of the merge-order noise a float sum of deltas would; it is also
    # the twa denominator for the same reason
    span = F.max("__t__") - F.min("__t__")
    return (
        iv.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(span, digits).alias("span_s"),
            F.round(
                F.when(
                    span > 0,
                    F.sum(F.col("__v__") * F.col("__dt__")) / span,
                ).otherwise(F.max("__v__")),
                digits,
            ).alias("twa"),
        )
    )


def seasonal_profile(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    grain: str = "dow",
    digits: int = 6,
) -> DataFrame:
    """Seasonality read-out: mean value per calendar slot (day-of-week
    or hour-of-day) and its index against the overall mean — the
    staffing/arrival-pattern profile behind every ops dashboard
    (weekday admission peaks, nightly batch dips).

        (slot, n, avg_value, seasonal_index)   index = slot avg / overall

    One partial-aggregated shuffle on the (7- or 24-value) slot key +
    a broadcast 1-row overall mean. Means sum pre-rounded decimals so
    they are merge-order-exact; ``weekday`` is ISO (0 = Monday) for
    engine portability.
    """
    if grain == "dow":
        slot = F.weekday(F.col(ts_col))
    elif grain == "hour":
        slot = F.hour(F.col(ts_col))
    else:
        raise ValueError(f"grain must be dow|hour, got {grain!r}")
    dec = f"decimal(28,{digits})"
    q = F.round(F.col(value_col).cast("double"), digits).cast(dec)
    per_slot = (
        df.select(slot.alias("slot"), q.alias("__q__"))
        .groupBy("slot")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__q__").alias("__sum__"),
        )
    )
    overall = per_slot.agg(
        (F.sum("__sum__").cast("double") / F.sum("n")).alias("__avg__")
    )
    avg_slot = F.col("__sum__").cast("double") / F.col("n")
    return (
        per_slot.crossJoin(F.broadcast(overall))
        .select(
            "slot",
            "n",
            F.round(avg_slot, digits).alias("avg_value"),
            F.round(avg_slot / F.col("__avg__"), digits).alias("seasonal_index"),
        )
    )


def period_growth(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str | None = None,
    period: str = "week",
    digits: int = 6,
) -> DataFrame:
    """Period-over-period growth: per calendar period, the row count
    (and decimal-exact value sum when ``value_col`` is given) plus the
    relative change vs the previous period:

        (period_start, cnt[, sum_value], cnt_growth[, sum_growth])

    growth = this/prev - 1; NULL for the first period and after an
    empty previous period (no silent zero-division). Periods with no
    rows simply don't appear — run ``resample_daily`` first if the
    calendar must be dense.

    Scale shape: one groupBy collapses events to the period table
    (bounded by the date range); the lag window runs over that tiny
    table only.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("cnt")]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,3)")).alias("__sv__")
        )
    per = events.groupBy(
        F.date_trunc(period, F.col(ts_col)).cast("date").alias("period_start")
    ).agg(*aggs)
    w = Window.orderBy("period_start")
    out = per.withColumn("__pc__", F.lag("cnt").over(w))
    cols = [
        "period_start",
        "cnt",
    ]
    growth_c = F.when(
        F.col("__pc__") > 0,
        F.round(F.col("cnt") / F.col("__pc__") - 1.0, digits),
    )
    if value_col is not None:
        out = out.withColumn("__pv__", F.lag("__sv__").over(w))
        cols += [
            F.col("__sv__").cast("double").alias("sum_value"),
            growth_c.alias("cnt_growth"),
            F.when(
                F.col("__pv__") != 0,
                F.round(
                    F.col("__sv__").cast("double") / F.col("__pv__").cast("double")
                    - 1.0,
                    digits,
                ),
            ).alias("sum_growth"),
        ]
    else:
        cols.append(growth_c.alias("cnt_growth"))
    return out.select(*cols)


def acf(
    events: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str = "value",
    max_lag: int = 3,
    digits: int = 6,
) -> DataFrame:
    """Autocorrelation function per series: Pearson corr(x_t, x_{t+lag})
    for lag 1..``max_lag`` within each key's ordered stream — the
    seasonality/persistence fingerprint (a spike at lag 7 on daily data
    = weekly cycle; fast decay = noise). Returns
    (key, lag, n_pairs, acf); acf is NULL when either slice is
    constant (no zero-variance division).

    Scale shape: all ``max_lag`` leads share ONE window spec (one
    shuffle + sort on the key), stacked long via explode; each
    (key, lag) cell then reduces with decimal-exact moment sums
    (inputs rounded to ``digits`` first), so the closed-form corr is
    merge-order-independent.
    """
    x = F.round(F.col(value_col).cast("double"), digits)
    w = Window.partitionBy(key_col).orderBy(*[F.asc(c) for c in order_cols])
    # leads evaluate in their own projection (window expressions can't
    # ride inside the explode's generator context), then stack long
    led = events.select(
        F.col(key_col),
        x.alias("__x__"),
        *[
            F.round(F.lead(value_col, lag).over(w).cast("double"), digits).alias(
                f"__y{lag}__"
            )
            for lag in range(1, max_lag + 1)
        ],
    )
    pairs = [
        F.struct(F.lit(lag).alias("lag"), F.col(f"__y{lag}__").alias("y"))
        for lag in range(1, max_lag + 1)
    ]
    long = (
        led.select(key_col, "__x__", F.explode(F.array(*pairs)).alias("s"))
        .select(key_col, "__x__", F.col("s.lag").alias("lag"), F.col("s.y").alias("__y__"))
        .filter(F.col("__y__").isNotNull())
    )
    dec = f"decimal(28,{digits})"
    xx, yy = F.col("__x__"), F.col("__y__")
    cell = long.groupBy(key_col, "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(xx.cast(dec)).alias("sx"),
        F.sum(yy.cast(dec)).alias("sy"),
        F.sum(F.round(xx * yy, digits).cast(dec)).alias("sxy"),
        F.sum(F.round(xx * xx, digits).cast(dec)).alias("sx2"),
        F.sum(F.round(yy * yy, digits).cast(dec)).alias("sy2"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    vx = n * sx2 - sx * sx
    vy = n * sy2 - sy * sy
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), digits),
    )
    return cell.select(key_col, "lag", "n_pairs", corr.alias("acf"))


def cusum_changepoint(
    events: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str = "value",
    digits: int = 6,
) -> DataFrame:
    """Standardized CUSUM changepoint scan per series: walk each key's
    ordered stream accumulating S_i = sum_{t<=i}(x_t - mean) /
    (sd * sqrt(n)) and report the peak |S| and where it happens —
    large d_max (rule of thumb > ~1.36 for 5%) = a level shift, and
    ``cp_pos`` (1-based, first peak on ties) is the estimated
    changepoint. Returns (key, n, d_max, cp_pos); series with n < 2 or
    zero variance yield NULL d_max.

    Scale shape: one groupBy for the per-key decimal-exact moments,
    one key-partitioned window for the running sum (the value sums are
    exact decimals of rounded inputs, so S_i is order-deterministic),
    one final per-key max via a struct argmax — shuffles only on the
    series key.
    """
    dec = f"decimal(28,{digits})"
    x = F.round(F.col(value_col).cast("double"), digits)
    base = events.select(F.col(key_col), x.cast(dec).alias("__x__"))
    stats = base.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x__").alias("__sx__"),
        F.sum(F.round(F.col("__x__").cast("double") * F.col("__x__").cast("double"), digits).cast(dec)).alias("__sx2__"),
    )
    nn = F.col("n").cast("double")
    sx = F.col("__sx__").cast("double")
    sx2 = F.col("__sx2__").cast("double")
    var = F.when(F.col("n") > 1, (nn * sx2 - sx * sx) / (nn * (nn - 1)))
    stats = stats.select(
        key_col, "n",
        (sx / nn).alias("__mean__"),
        F.when(var > 0, F.sqrt(var)).alias("__sd__"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.asc(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_pos = Window.partitionBy(key_col).orderBy(*[F.asc(c) for c in order_cols])
    walked = (
        events.select(F.col(key_col), *[F.col(c) for c in order_cols], x.cast(dec).alias("__x__"))
        .withColumn("__cum__", F.sum("__x__").over(w))
        .withColumn("__i__", F.row_number().over(w_pos))
        .join(stats, on=key_col)
    )
    s_abs = F.round(
        F.abs(
            (F.col("__cum__").cast("double") - F.col("__i__") * F.col("__mean__"))
            / (F.col("__sd__") * F.sqrt(F.col("n").cast("double")))
        ),
        digits,
    )
    best = F.max(F.struct(s_abs.alias("a"), (-F.col("__i__")).alias("ni")))
    return (
        walked.filter(F.col("__sd__").isNotNull())
        .groupBy(key_col, "n")
        .agg(best.alias("__b__"))
        .select(
            key_col, "n",
            F.col("__b__.a").alias("d_max"),
            (-F.col("__b__.ni")).cast("long").alias("cp_pos"),
        )
        .unionByName(
            stats.filter(F.col("__sd__").isNull()).select(
                key_col, "n",
                F.lit(None).cast("double").alias("d_max"),
                F.lit(None).cast("long").alias("cp_pos"),
            )
        )
    )


def _series_pairs(
    events: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    max_points: int,
    caller: str,
    id_col: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The within-key pair join behind ``theil_sen``, ``mann_kendall``
    and ``kendall_tau``. Returns ``(base, counts, pairs)``:

    - ``base``: (key, __x__, __y__[, __i__]), x and y as doubles, rows
      with a NULL x or y dropped;
    - ``counts``: (key, __n__), points per key;
    - ``pairs``: (key, __xa__, __ya__[, __ia__], __xb__, __yb__[, __ib__])
      for every ordered pair of points within a key, self-pairs
      included; the caller filters to the pairs it counts.

    The join is quadratic per key, so ``max_points`` guards it in-plan,
    not with a pre-flight job: ``counts`` joins onto the left input
    (co-partitioned, both sides shuffle on the key) and gates the x
    value itself with raise_error, so an oversized series fails loudly
    from the same single job, and building the plan launches NO Spark
    jobs. The guard rides a column the join consumes; an unused assert
    column would be pruned out of the plan by Catalyst.

    Only the pair-join input gets the parallelism floor: ``base``'s
    other consumers (counts, medians, tie groups) are map-side
    combinable aggregates that do not need it.
    """
    ids = [F.col(id_col).alias("__i__")] if id_col else []
    base = events.select(
        F.col(key_col),
        F.col(x_col).cast("double").alias("__x__"),
        F.col(y_col).cast("double").alias("__y__"),
        *ids,
    ).filter(F.col("__x__").isNotNull() & F.col("__y__").isNotNull())
    counts = base.groupBy(key_col).agg(F.count(F.lit(1)).alias("__n__"))
    guard_msg = F.concat(
        F.lit(
            f"{caller}: series over {max_points} points (pair join is "
            f"quadratic per series); bucket or sample x first, or raise "
            f"max_points; offending key: "
        ),
        F.col(key_col).cast("string"),
    )
    side = ensure_parallelism(base)

    def leg(s: str) -> list[Column]:  # y (and id) renamed per side
        cols = ["y", "i"] if id_col else ["y"]
        return [F.col(f"__{c}__").alias(f"__{c}{s}__") for c in cols]

    a = side.join(counts, on=key_col).select(
        key_col,
        F.when(F.col("__n__") <= F.lit(max_points), F.col("__x__"))
        .otherwise(F.raise_error(guard_msg))
        .alias("__xa__"),
        *leg("a"),
    )
    b = side.select(key_col, F.col("__x__").alias("__xb__"), *leg("b"))
    return base, counts, a.join(b, on=key_col)


def theil_sen(
    events: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    digits: int = 6,
    max_points: int = 1000,
) -> DataFrame:
    """Theil-Sen robust slope per series: the median of all pairwise
    slopes (y_j - y_i)/(x_j - x_i) — the trend estimator that shrugs
    off up to ~29% contaminated points where OLS (``ml.featurize``'s
    per-group fit) follows every outlier. Returns
    (key, n, slope, intercept) with the median-based intercept
    median(y) - slope * median(x); series with < 2 distinct x yield
    NULL slope.

    Scale shape: the pair join is WITHIN each series key (one shuffle
    on the key; cost sum over keys of n_k², the method's inherent
    price — it guards with ``max_points``, erroring loudly on series
    too long rather than silently exploding); the median reductions
    run per key. Not for million-point series — for those, bucket the
    x-axis first or use OLS.
    """
    base, _, pairs = _series_pairs(
        events, key_col, x_col, y_col, max_points, "theil_sen"
    )
    slopes = (
        pairs.filter(F.col("__xa__") < F.col("__xb__"))
        .select(
            key_col,
            (
                (F.col("__yb__") - F.col("__ya__"))
                / (F.col("__xb__") - F.col("__xa__"))
            ).alias("__s__"),
        )
    )
    # + 0.0 canonicalizes IEEE -0.0 (an all-negative-then-rounded
    # median can yield it, and engines disagree on the sign bit)
    med_slope = slopes.groupBy(key_col).agg(
        (F.round(F.percentile(F.col("__s__"), F.lit(0.5)), digits) + F.lit(0.0)).alias("slope")
    )
    meds = base.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.percentile(F.col("__x__"), F.lit(0.5)), digits).alias("__mx__"),
        F.round(F.percentile(F.col("__y__"), F.lit(0.5)), digits).alias("__my__"),
    )
    return (
        meds.join(med_slope, on=key_col, how="left")
        .select(
            key_col,
            "n",
            "slope",
            (
                F.round(F.col("__my__") - F.col("slope") * F.col("__mx__"), digits)
                + F.lit(0.0)
            ).alias("intercept"),
        )
    )


def mann_kendall(
    events: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    digits: int = 6,
    max_points: int = 1000,
) -> DataFrame:
    """Mann-Kendall trend test per series: S = sum over time-ordered
    pairs of sign(y_j - y_i), the tie-corrected variance
    var(S) = [n(n-1)(2n+5) - SUM_t t(t-1)(2t+5)] / 18 over the y-tie
    groups, and the continuity-corrected normal score z — the
    distribution-free "is there a monotonic trend" companion to
    ``theil_sen``'s "how steep is it". Pairs with EQUAL x carry no
    time order and are excluded from S (the standard treatment; the
    variance's x-tie term is omitted and documented as such).

    Everything up to z is exact integer arithmetic (sign cast to
    long, tie products in bigint), so the result is
    partition-invariant by construction; z is the only float.

    Scale shape: the pair join is within each series key (quadratic
    per series — same loud in-plan ``max_points`` guard as
    ``theil_sen``, riding a column the join consumes so Catalyst
    cannot prune it); the tie correction is one (key, y) groupBy.
    Returns (key, n, s_stat, var_s, z); series with n < 2 or zero
    variance yield NULL z.
    """
    base, counts, pairs = _series_pairs(
        events, key_col, x_col, y_col, max_points, "mann_kendall"
    )
    s_tab = (
        pairs.filter(F.col("__xa__") < F.col("__xb__"))
        .groupBy(key_col)
        .agg(
            F.sum(F.signum(F.col("__yb__") - F.col("__ya__")).cast("long"))
            .alias("__s__")
        )
    )
    t = F.col("__t__")
    ties = (
        base.groupBy(key_col, "__y__")
        .agg(F.count(F.lit(1)).alias("__t__"))
        .groupBy(key_col)
        .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("__tie__"))
    )
    n = F.col("__n__")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.col("__tie__")).cast("double") / F.lit(18.0)
    )
    s = F.col("__s__")
    z = (
        F.when(var_s <= 0.0, F.lit(None).cast("double"))
        .when(s > 0, (s - 1).cast("double") / F.sqrt(var_s))
        .when(s < 0, (s + 1).cast("double") / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return (
        counts.join(ties, on=key_col)
        .join(s_tab, on=key_col, how="left")
        .select(
            key_col,
            n.cast("long").alias("n"),
            F.coalesce(s, F.lit(0)).cast("long").alias("s_stat"),
            F.round(var_s, digits).alias("var_s"),
            (F.round(z, digits) + F.lit(0.0)).alias("z"),
        )
    )


def forecast_eval(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period_days: int = 7,
    digits: int = 6,
) -> DataFrame:
    """Seasonal-naive backtest per series: predict each day's total by
    the value ``period_days`` earlier and score MAE / RMSE / MAPE —
    the benchmark every real forecaster must beat, and the cheapest
    possible drift monitor for daily aggregates. Returns
    (key, n_evals, mae, rmse, mape); MAPE averages only days with a
    non-zero actual (undefined otherwise), NULL if none.

    Determinism: daily totals are exact decimals, absolute errors and
    squared errors stay decimal through the aggregates, and per-day
    APE ratios round to 9 dp before their decimal sum — no float
    merge-order anywhere. One (key, day) rollup, one self-join shifted
    by the period (same key partitioning), one final rollup.
    """
    daily = events.groupBy(
        F.col(key_col), F.to_date(F.col(ts_col)).alias("__day__")
    ).agg(F.sum(F.col(value_col).cast("decimal(18,3)")).alias("__actual__"))
    prior = daily.select(
        F.col(key_col),
        F.date_add(F.col("__day__"), period_days).alias("__day__"),
        F.col("__actual__").alias("__pred__"),
    )
    scored = daily.join(prior, on=[key_col, "__day__"])
    err = F.abs(F.col("__actual__") - F.col("__pred__"))
    ape = F.when(
        F.col("__actual__") != 0,
        F.round(
            err.cast("double") / F.abs(F.col("__actual__")).cast("double"), 9
        ).cast("decimal(18,9)"),
    )
    return (
        scored.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            F.round(
                F.sum(err).cast("double") / F.count(F.lit(1)), digits
            ).alias("mae"),
            F.round(
                F.sqrt(F.sum(err * err).cast("double") / F.count(F.lit(1))),
                digits,
            ).alias("rmse"),
            F.round(
                F.sum(ape).cast("double") / F.count(ape), digits
            ).alias("mape"),
        )
    )


def decompose_daily(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 7,
    digits: int = 6,
) -> DataFrame:
    """Classical additive seasonal decomposition of daily totals per
    series (the moving-average method STL refines): value = trend +
    seasonal + remainder, with trend a centered ``period``-day moving
    average over the GAP-FILLED daily grid, seasonal the zero-centered
    per-weekday-slot mean of the detrended series, remainder the rest.
    The anomaly-detection preprocessor: alert on remainder, not on raw
    values that mix weekday rhythm with trend.

    Determinism: daily totals are exact decimals; each derived stage
    rounds to ``digits`` BEFORE the next decimal accumulation (the
    corr_matrix staging convention), so no float ever merges in a
    partition-dependent order. Edge days without a full centered
    window emit NULL trend/remainder.

    Scale shape: the rollup is the only fact-sized shuffle; the grid,
    the two windows, and the slot means all run on the (key, day)
    table, partitioned by key — never a global window.
    """
    grid = resample_daily(events, key_col, ts_col, value_col, locf=False).select(
        key_col,
        "day",
        F.coalesce(F.col("day_sum").cast("decimal(18,3)"), F.lit(0).cast("decimal(18,3)")).alias("__v__"),
    )
    half = period // 2
    w_ma = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(-half, period - 1 - half)
    )
    with_trend = grid.select(
        key_col,
        "day",
        "__v__",
        F.when(
            F.count(F.lit(1)).over(w_ma) == period,
            F.round(F.sum("__v__").over(w_ma).cast("double") / period, digits),
        ).alias("__trend__"),
    )
    slot = F.dayofweek("day")
    detr = F.round(F.col("__v__").cast("double") - F.col("__trend__"), digits)
    with_detr = with_trend.select(
        key_col, "day", "__v__", "__trend__", slot.alias("__slot__"),
        detr.cast("decimal(18,6)").alias("__d__"),
    )
    slot_means = (
        with_detr.filter(F.col("__d__").isNotNull())
        .groupBy(key_col, "__slot__")
        .agg(
            F.round(
                F.sum("__d__").cast("double") / F.count(F.lit(1)), digits
            ).alias("__sraw__")
        )
    )
    # center the <= `period` slot means per key to sum to zero
    w_key = Window.partitionBy(key_col)
    centered = slot_means.select(
        key_col, "__slot__",
        F.round(
            F.col("__sraw__")
            - F.sum(F.col("__sraw__").cast("decimal(18,6)")).over(w_key).cast("double")
            / F.count(F.lit(1)).over(w_key),
            digits,
        ).alias("__seasonal__"),
    )
    return (
        with_detr.join(centered, on=[key_col, "__slot__"], how="left")
        .select(
            key_col,
            "day",
            F.round(F.col("__v__").cast("double"), digits).alias("value"),
            F.col("__trend__").alias("trend"),
            F.col("__seasonal__").alias("seasonal"),
            F.round(
                F.col("__v__").cast("double") - F.col("__trend__") - F.col("__seasonal__"),
                digits,
            ).alias("remainder"),
        )
    )


def kendall_tau(
    events: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
    digits: int = 6,
    max_points: int = 1000,
) -> DataFrame:
    """Kendall's tau-b rank correlation per series — the robust,
    tie-corrected monotone-association measure (``spearman``'s
    sibling; ``mann_kendall`` is this against time). One row per key:

        (key, n, concordant, discordant, tau_b)

        tau_b = (C - D) / sqrt((P - Tx)(P - Ty))

    with P = n(n-1)/2 pairs, Tx/Ty = pairs tied on x / y. All counts
    are integer-exact; NULL tau when either factor is 0 (a constant
    margin has no ranking to correlate).

    Scale shape: the pair join is WITHIN each key (shuffle on the key
    only; cost sum n_k^2 — the statistic's definition) with the SAME
    in-plan ``max_points`` raise_error guard as ``theil_sen``: no
    pre-flight job, oversized series fail loudly from the single job.
    Unique ``id_col`` orders pairs so each unordered pair is counted
    exactly once.
    """
    _, counts, pairs = _series_pairs(
        events, key_col, x_col, y_col, max_points, "kendall_tau", id_col
    )
    dx = F.col("__xb__") - F.col("__xa__")
    dy = F.col("__yb__") - F.col("__ya__")
    prod = dx * dy
    pairs = (
        pairs.filter(F.col("__ia__") < F.col("__ib__"))
        .select(
            key_col,
            (prod > 0).cast("long").alias("__c__"),
            (prod < 0).cast("long").alias("__d__"),
            (dx == 0).cast("long").alias("__tx__"),
            (dy == 0).cast("long").alias("__ty__"),
        )
    )
    s = pairs.groupBy(key_col).agg(
        F.sum("__c__").cast("long").alias("concordant"),
        F.sum("__d__").cast("long").alias("discordant"),
        F.sum("__tx__").cast("long").alias("__stx__"),
        F.sum("__ty__").cast("long").alias("__sty__"),
        F.count(F.lit(1)).cast("long").alias("__p__"),
    )
    fx = (F.col("__p__") - F.col("__stx__")).cast("double")
    fy = (F.col("__p__") - F.col("__sty__")).cast("double")
    tau = F.when(
        (fx > 0) & (fy > 0),
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt(fx * fy),
    )
    n_out = counts.select(
        F.col(key_col), F.col("__n__").cast("long").alias("n")
    )
    return n_out.join(s, on=key_col, how="left").select(
        key_col, "n",
        F.coalesce("concordant", F.lit(0)).alias("concordant"),
        F.coalesce("discordant", F.lit(0)).alias("discordant"),
        (F.round(tau, digits) + F.lit(0.0)).alias("tau_b"),
    )


def cumulative_compare(
    df: DataFrame,
    ts_col: str,
    kind_col: str,
    a_kind: str,
    b_kind: str,
    digits: int = 6,
) -> DataFrame:
    """Cumulative race between two event series (the TPC-DS Q51
    pattern: web vs store cumulative sales, here kind A vs kind B):
    daily counts of each kind full-outer-joined on the calendar day,
    running totals, and the per-day lead read-out — "when did A
    overtake B, and by how much?".

    Returns (day, n_a, n_b, cum_a, cum_b, a_leads, lead_margin) for
    every day either kind fired. Counts are integers end-to-end; the
    margin is an integer difference (no floats anywhere).

    Scale shape: the fact table reduces to per-(day, kind) counts in
    ONE map-side-combinable aggregate; everything after (full outer
    join, running sums) rides the bounded calendar-day table — the
    single-partition window is waived against that boundedness, the
    fact table itself never windows.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    daily = (
        df.filter(F.col(kind_col).isin([a_kind, b_kind]))
        .select(day, F.col(kind_col).alias("__k__"))
        .groupBy("day", "__k__")
        .agg(F.count(F.lit(1)).cast("long").alias("__c__"))
    )
    a = daily.filter(F.col("__k__") == a_kind).select(
        "day", F.col("__c__").alias("n_a")
    )
    b = daily.filter(F.col("__k__") == b_kind).select(
        "day", F.col("__c__").alias("n_b")
    )
    merged = a.join(b, on="day", how="full").select(
        "day",
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    out = merged.select(
        "day",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).cast("long").alias("cum_a"),
        F.sum("n_b").over(w).cast("long").alias("cum_b"),
    )
    return out.select(
        "day",
        "n_a",
        "n_b",
        "cum_a",
        "cum_b",
        (F.col("cum_a") > F.col("cum_b")).alias("a_leads"),
        (F.col("cum_a") - F.col("cum_b")).cast("long").alias("lead_margin"),
    )


def seasonal_anomaly(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    z_threshold: float = 2.0,
    digits: int = 6,
) -> DataFrame:
    """Seasonal-baseline anomaly detection on event VOLUME: for every
    (key, calendar day, hour-of-day) cell, compare the observed count
    against that key's same-hour-of-day baseline (mean/std across all
    days, ZERO-FILLED — silence is data) and flag cells beyond
    ``z_threshold`` standard deviations. The ops-monitoring read-out
    ``seasonal_profile`` (the baseline) and ``rolling_zscore`` (the
    trailing variant) bracket: "was 3am Tuesday abnormal FOR 3am?".

    Returns flagged cells only: (key, day, hour, n, mu, sigma, z).
    Counts are integers; baseline moments accumulate as integer
    decimals over the bounded (key x day x hour) grid; mean/std round
    to 9 before the z division.

    Scale shape: the fact table reduces to per-(key, day, hour) counts
    in ONE map-side-combinable aggregate; the zero-filled grid (keys x
    days x 24 — bounded by the calendar, not by data volume) is built
    from two small distinct tables crossed with a literal hour range;
    the baseline is a second aggregate of the grid keyed by
    (key, hour). No windows anywhere.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    hour = F.hour(F.col(ts_col)).cast("int").alias("hour")
    counts = (
        df.select(F.col(key_col).alias("key"), day, hour)
        .groupBy("key", "day", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    keys = df.select(F.col(key_col).alias("key")).distinct()
    days = df.select(F.to_date(F.col(ts_col)).alias("day")).distinct()
    hours = df.sparkSession.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour")
    ).select(F.col("hour").cast("int").alias("hour"))
    grid = (
        keys.crossJoin(days)
        .crossJoin(hours)
        .join(counts, on=["key", "day", "hour"], how="left")
        .select(
            "key", "day",
            F.col("hour").cast("int").alias("hour"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )
    d0 = "decimal(38,0)"
    base = grid.groupBy("key", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("__d__"),
        F.sum(F.col("n").cast(d0)).alias("__s__"),
        F.sum((F.col("n") * F.col("n")).cast(d0)).alias("__ss__"),
    )
    dd = F.col("__d__").cast("double")
    mu = F.round(F.col("__s__").cast("double") / dd, 9)
    var = F.round(F.col("__ss__").cast("double") / dd - mu * mu, 9)
    sigma = F.when(var > 0.0, F.sqrt(var))
    scored = grid.join(F.broadcast(base), on=["key", "hour"]).select(
        "key",
        "day",
        "hour",
        "n",
        mu.alias("__mu__"),
        sigma.alias("__sg__"),
    )
    z = F.round(
        (F.col("n").cast("double") - F.col("__mu__")) / F.col("__sg__"), digits
    )
    return scored.select(
        "key",
        "day",
        "hour",
        "n",
        (F.round(F.col("__mu__"), digits) + F.lit(0.0)).alias("mu"),
        (F.round(F.col("__sg__"), digits) + F.lit(0.0)).alias("sigma"),
        (z + F.lit(0.0)).alias("z"),
    ).filter(F.abs(F.col("z")) >= F.lit(float(z_threshold)))


def seasonal_baseline(
    df: DataFrame,
    ts_col: str,
    key_col: str,
) -> DataFrame:
    """Batch-train the (key, hour-of-day) volume baseline
    ``streaming.events.volume_anomaly`` scores against: per-key
    same-hour mean/std of the zero-filled daily count grid — exactly
    ``seasonal_anomaly``'s baseline stage, exposed as the offline
    trainer of the online scorer. Returns (key, hour, n_days, mu,
    sigma); sigma is NULL for zero-variance cells (the scorer skips
    them). Integer-decimal moments, round-9 mean/std.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    hour = F.hour(F.col(ts_col)).cast("int").alias("hour")
    counts = (
        df.select(F.col(key_col).alias("key"), day, hour)
        .groupBy("key", "day", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    keys = df.select(F.col(key_col).alias("key")).distinct()
    days = df.select(F.to_date(F.col(ts_col)).alias("day")).distinct()
    hours = df.sparkSession.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour")
    ).select(F.col("hour").cast("int").alias("hour"))
    grid = (
        keys.crossJoin(days)
        .crossJoin(hours)
        .join(counts, on=["key", "day", "hour"], how="left")
        .select(
            "key", "day",
            F.col("hour").cast("int").alias("hour"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )
    d0 = "decimal(38,0)"
    base = grid.groupBy("key", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("n").cast(d0)).alias("__s__"),
        F.sum((F.col("n") * F.col("n")).cast(d0)).alias("__ss__"),
    )
    dd = F.col("n_days").cast("double")
    mu = F.round(F.col("__s__").cast("double") / dd, 9)
    var = F.round(F.col("__ss__").cast("double") / dd - mu * mu, 9)
    return base.select(
        F.col("key"),
        "hour",
        "n_days",
        mu.alias("mu"),
        F.when(var > 0.0, F.sqrt(var)).alias("sigma"),
    )
