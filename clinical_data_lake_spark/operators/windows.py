"""Window operators (SURVEY.md §2.9 W1-W2 + rank extension).

The reference's distinctive analytic: per-patient trailing-window
comorbidity counts —
``Window.partitionBy(PATIENT).orderBy(day).rangeBetween(-days, -1)``
with ``F.sum(flag.cast('int')).over(w)`` and null->0 fill
(include/featurise.py:73-88; 02-patient-trajectory.py:153-168).
Semantics preserved exactly:
- RANGE frame on an integer day index (ties collapse into the frame);
- frame *excludes* the current row (upper bound -1);
- an empty frame yields NULL, filled to 0 via ifnull.

Scale notes: all N rolling features share ONE shuffle (the
partitionBy(key) exchange) as long as they use the same window spec —
the planner evaluates all window expressions over a single sort. That
is the key trick the reference stumbled into and we keep deliberately.

Global ranks and running sums (``range_buckets`` +
``bucketed_prefix_sums``) are the package's one bucketed prefix sum:
an unpartitioned ``Window.orderBy`` would funnel every row through a
single task.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def trailing_window(key: str, order_col: str, days: int) -> WindowSpec:
    """RANGE BETWEEN -days AND -1 on an integer day index, per key
    (include/featurise.py:73-77)."""
    return Window.partitionBy(key).orderBy(F.col(order_col)).rangeBetween(-days, -1)


def rolling_flag_sums(
    df: DataFrame,
    key: str,
    day_col: str,
    flag_cols: list[str],
    days: int,
    prefix: str = "recent",
) -> DataFrame:
    """W1 — trailing count of each boolean flag per key, excluding the
    current row, empty frame -> 0 (include/featurise.py:80-85).

    All flags + the total count (W2) ride one window spec => one shuffle
    + one sort regardless of len(flag_cols).
    """
    w = trailing_window(key, day_col, days)
    sums = [
        F.coalesce(F.sum(F.col(c).cast("int")).over(w), F.lit(0)).alias(f"{prefix}_{c}")
        for c in flag_cols
    ]
    total = F.count(F.lit(1)).over(w).alias(f"{prefix}_total")
    return df.select("*", *sums, total)


def rolling_count(df: DataFrame, key: str, day_col: str, days: int,
                  alias: str = "recent_total") -> DataFrame:
    """W2 — total events in the trailing window (include/featurise.py:88)."""
    w = trailing_window(key, day_col, days)
    return df.select("*", F.count(F.lit(1)).over(w).alias(alias))


def rolling_zscore(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    value_col: str,
    n: int = 20,
    min_periods: int = 5,
    alias: str = "zscore",
) -> DataFrame:
    """Trailing-window anomaly score: how many standard deviations the
    current value sits from the mean of the previous ``n`` rows per key
    (current row excluded — the score tests the new observation against
    history it isn't part of). NULL until ``min_periods`` prior rows
    exist or while the window is constant (std == 0). The clinical/
    telemetry outlier flag (a vital or metric suddenly off-trend).

    Engine-portable determinism: mean/std are derived from decimal
    window sums (sum, sum-of-squares, count) so partial-aggregation
    order can't change a bit, and the variance is the explicit
    textbook formula — slightly worse numerically than Welford, but
    reproducible verbatim in any SQL engine for oracle certification.
    One shuffle on the key; all three sums ride one window spec.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-n, -1)
    )
    dv = F.col(value_col).cast("decimal(18,3)")
    s1 = F.sum(dv).over(w).cast("double")
    s2 = F.sum(dv * dv).over(w).cast("double")
    cnt = F.count(dv).over(w).cast("double")
    var = (s2 - s1 * s1 / cnt) / (cnt - F.lit(1.0))
    z = F.when(
        (cnt >= min_periods) & (var > 0),
        F.round((F.col(value_col) - s1 / cnt) / F.sqrt(var), 6),
    )
    return df.withColumn(alias, z)


def with_lag_gap(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak: str,
    gap_alias: str = "gap_s",
) -> DataFrame:
    """Extension — per-key previous-event timestamp and gap in seconds
    (the building block behind sessionization and event-cadence
    features). ``tiebreak`` makes the order total so lag() is
    deterministic under ties.

    Scale: one partitionBy(key) exchange + sort; lag/lead piggyback on
    the same window sort as any other expressions over the spec.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(tiebreak))
    prev = F.lag(F.col(ts_col)).over(w)
    return df.select(
        "*",
        prev.cast("long").alias("prev_ts_s"),
        (F.col(ts_col).cast("long") - prev.cast("long")).alias(gap_alias),
    )


def funnel_conversion(
    df: DataFrame,
    key: str,
    ts_col: str,
    type_col: str,
    from_type: str,
    to_type: str,
    horizon_s: int,
    tiebreak: str,
) -> DataFrame:
    """Extension — funnel step conversion: of the ``from_type`` events,
    how many were followed by a ``to_type`` event for the same key
    within ``horizon_s`` seconds. Returns one row
    (n_from, n_converted, conv_rate).

    The non-quadratic shape: instead of joining from-events to
    to-events (fan-out on hot users), compute per-row "next to-event
    timestamp" with a min over the FOLLOWING window frame — the same
    single partitionBy(key) sort every other per-key feature shares.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts_col), F.col(tiebreak))
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ts_s = F.col(ts_col).cast("long")
    next_to = F.min(
        F.when(F.col(type_col) == to_type, ts_s)
    ).over(w)
    marked = df.select(
        F.col(type_col),
        ts_s.alias("__ts_s__"),
        next_to.alias("__next_to__"),
    ).filter(F.col(type_col) == from_type)
    hit = (F.col("__next_to__") <= F.col("__ts_s__") + horizon_s).cast("long")
    n_conv = F.coalesce(F.sum(hit), F.lit(0))  # all-null (no to-events) -> 0
    n_from = F.count(F.lit(1))
    # a global agg over zero from-events still emits its one row with
    # count 0 — under ANSI the unguarded ratio would DIVIDE_BY_ZERO
    rate = F.when(n_from > 0, F.round(n_conv / n_from, 6)).otherwise(F.lit(0.0))
    return marked.agg(
        n_from.alias("n_from"),
        n_conv.alias("n_converted"),
        rate.alias("conv_rate"),
    )


def top_per_group(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    n: int = 1,
    rank_alias: str = "rn",
) -> DataFrame:
    """Extension — row_number top-n-per-group; the idiomatic distributed
    replacement for the reference's collect-and-loop / sort-limit idioms.
    Callers must pass a total order (include tie-breakers) for
    determinism."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.select("*", F.row_number().over(w).alias(rank_alias))
        .filter(F.col(rank_alias) <= n)
    )


def rolling_median(
    df: DataFrame,
    key: str,
    order_col: str | list[str],
    value_col: str,
    n_rows: int = 7,
    alias: str = "rolling_median",
    digits: int = 6,
) -> DataFrame:
    """Trailing exact median over the last ``n_rows`` rows per key
    (current row inclusive) — the robust-smoothing counterpart of the
    mean/zscore rollups above: one spiky vital-sign reading moves a
    rolling mean but not a rolling median.

    ``F.percentile`` runs as a window aggregate, so this is the same
    single (key)-shuffle + in-partition sort every window op here pays;
    the frame buffers at most ``n_rows`` values per row. Exact
    interpolated percentile (ANSI percentile_cont semantics — matches
    DuckDB ``quantile_cont`` as a window), rounded for engine parity.
    For calendar-time frames, resample to a daily grid first
    (timeseries.resample_daily) and window over the grid.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    # a ROWS frame over a non-unique order is nondeterministic — callers
    # pass a tiebreaker (e.g. ["ts", "event_id"]) for engine parity
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-(n_rows - 1), Window.currentRow)
    )
    med = F.round(F.percentile(F.col(value_col), F.lit(0.5)).over(w).cast("double"), digits)
    return df.withColumn(alias, med)


def event_transitions(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    label_col: str,
    k: int = 20,
) -> DataFrame:
    """Top-k first-order event transitions — the path-analysis readout
    (which step follows which): per key, order events and pair each
    with its predecessor, then count (from_label, to_label) globally.

        (from_label, to_label, cnt)   — top k by cnt desc, label ties

    One key shuffle for the lag window, one bounded aggregation on the
    label-pair grid (|labels|^2 rows), then TakeOrdered — no global
    sort. ``order_cols`` must totally order each key's events (pass a
    unique tiebreaker) or the pairing is engine-dependent.
    """
    w = Window.partitionBy(key).orderBy(*order_cols)
    pairs = (
        df.select(
            F.lag(F.col(label_col)).over(w).alias("from_label"),
            F.col(label_col).alias("to_label"),
        )
        .filter(F.col("from_label").isNotNull())
    )
    return (
        pairs.groupBy("from_label", "to_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "from_label", "to_label")
        .limit(k)
    )


def rolling_corr(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    x_col: str,
    y_col: str,
    n: int = 20,
    min_periods: int = 5,
    alias: str = "rolling_corr",
    digits: int = 6,
) -> DataFrame:
    """Trailing-window Pearson correlation between two paired series
    per key (current row inclusive) — covariation drift detection
    (two vitals decoupling, a metric detaching from its driver).
    NULL until ``min_periods`` complete pairs exist or while either
    side is constant in the window (instead of an engine-dependent
    NaN/NULL for the 0/0 case).

    Engine-portable determinism, same recipe as ``rolling_zscore``:
    the five sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) are
    decimal window sums over values quantized to 6 decimals — exact in
    any evaluation order — and the correlation is the explicit
    closed form on those sums, so the guard genuinely prevents the
    0/0 case (Spark's built-in window ``corr`` divides INSIDE the
    aggregate and raises DIVIDE_BY_ZERO under ANSI on a constant
    window, where no outer ``when`` can protect it). Null-pair rows
    drop from every statistic. One key shuffle; all six sums ride one
    window sort. Decimal(18,6) inputs give products with 12 fractional
    digits — ample headroom for trailing windows of a few hundred
    rows.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    both = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    px = F.when(both, F.col(x_col)).cast("decimal(18,6)")
    py = F.when(both, F.col(y_col)).cast("decimal(18,6)")
    cnt = F.count(F.when(both, F.lit(1))).over(w).cast("double")
    sx = F.sum(px).over(w).cast("double")
    sy = F.sum(py).over(w).cast("double")
    sxx = F.sum(px * px).over(w).cast("double")
    syy = F.sum(py * py).over(w).cast("double")
    sxy = F.sum(px * py).over(w).cast("double")
    vx = cnt * sxx - sx * sx
    vy = cnt * syy - sy * sy
    cov = cnt * sxy - sx * sy
    val = F.when(
        (cnt >= min_periods) & (vx > 0) & (vy > 0),
        F.round(cov / F.sqrt(vx * vy), digits),
    )
    return df.withColumn(alias, val)


def event_path_ngrams(
    events: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    label_col: str,
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k event-sequence n-grams (user journeys): the most common
    length-``n`` consecutive label paths across all keys' ordered
    event streams — ``event_transitions`` generalized past first-order
    (which paths, not just which steps).

    (path, cnt) with ``path`` the '>'-joined labels, ties broken by
    path ascending.

    Scale shape: ONE shuffle on the key for the lead window (all
    n - 1 leads share the same window spec — one Window node), then a
    group-count on the path string (map-side combined, label-
    vocabulary^n-bounded) and a TakeOrdered top-k — never a global
    sort of the fact table.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.asc(c) for c in order_cols])
    cols = [F.col(label_col)] + [
        F.lead(label_col, i).over(w) for i in range(1, n)
    ]
    # ALL n positions (including the current row's label) must be
    # non-null: concat_ws silently skips NULLs, so without the full
    # guard a NULL label would yield a shortened path (A,NULL,C
    # counted as 'A>C') instead of nulling the n-gram
    cond = None
    for c in cols:
        nn = c.isNotNull()
        cond = nn if cond is None else (cond & nn)
    paths = (
        events.select(F.when(cond, F.concat_ws(">", *cols)).alias("path"))
        .filter(F.col("path").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return paths.orderBy(F.desc("cnt"), F.asc("path")).limit(k)


def ratio_to_report(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str = "share",
    digits: int = 6,
) -> DataFrame:
    """Share-of-total within each group: ``v / sum(v) over group`` —
    the classic RATIO_TO_REPORT reporting window (each line's share of
    its order, each region's share of revenue). NULL when the group
    total is 0 (explicit, not a div-by-zero).

    Scale shape: ONE window keyed by the group columns (one shuffle);
    the group total sums pre-rounded decimals, so every row in a group
    sees the identical denominator regardless of partitioning.
    """
    dec = f"decimal(28,{digits})"
    w = Window.partitionBy(*[F.col(c) for c in group_cols])
    v = F.round(F.col(value_col).cast("double"), digits)
    total = F.sum(v.cast(dec)).over(w).cast("double")
    return df.withColumn(
        out_col,
        F.when(total != 0, F.round(v / total, digits)),
    )


def rank_fractions(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    n_tiles: int = 4,
    digits: int = 6,
) -> DataFrame:
    """percent_rank + cume_dist + ntile per group in one window pass —
    the relative-standing trio (where does this row sit in its
    group?). ``order_cols`` must be a TOTAL order (include a
    tie-breaker): ntile splits ties by row order, so a partial order
    would make tile assignment nondeterministic.

    One shuffle on the keys; all three functions share the single
    window sort.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    return df.select(
        "*",
        F.round(F.percent_rank().over(w), digits).alias("pct_rank"),
        F.round(F.cume_dist().over(w), digits).alias("cume_dist"),
        F.ntile(n_tiles).over(w).alias("tile"),
    )


def funnel_steps(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    digits: int = 6,
    max_gap_s: float | None = None,
) -> DataFrame:
    """Multi-step funnel: for an ordered sequence of event types, how
    many entities reached each step IN ORDER (each step's first
    occurrence strictly after the previous step's) — the k-step
    generalization of ``funnel_conversion``. Returns one row per step:
    (step_idx, step, n_entities, conv_from_prev, conv_from_first).

    Scale shape: step 1 is one filtered group-min; each later step is
    one left join keyed by the entity + a conditional group-min — k-1
    key-shuffles total, never an event-to-event pair join (no hot-user
    quadratic fan-out). The final summary aggregates the per-entity
    timestamps to ONE row and unpivots driver-free via posexplode.

    ``max_gap_s`` adds the time-boxed variant (each step must follow
    the previous within that many seconds — "converted within an
    hour"): the constraint folds into the same conditional group-min,
    so the plan shape is unchanged. A greedy caveat applies, as in
    every first-occurrence funnel: each step takes its EARLIEST valid
    occurrence, which can forfeit a completion a later occurrence
    would have allowed.
    """
    if len(steps) < 2:
        raise ValueError("funnel_steps needs at least 2 steps")
    ts = F.col(ts_col)
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(ts).alias("__t0__"))
    )
    for i, step in enumerate(steps[1:], start=1):
        nxt = events.filter(F.col(type_col) == step).select(
            F.col(key_col), ts.alias("__e__")
        )
        prev_cols = [f"__t{j}__" for j in range(i)]
        in_order = F.col("__e__") > F.col(f"__t{i - 1}__")
        if max_gap_s is not None:
            in_order = in_order & (
                (
                    F.unix_micros(F.col("__e__"))
                    - F.unix_micros(F.col(f"__t{i - 1}__"))
                )
                <= F.lit(int(max_gap_s * 1_000_000))
            )
        cur = (
            cur.join(nxt, on=key_col, how="left")
            .groupBy(key_col, *prev_cols)
            .agg(
                F.min(F.when(in_order, F.col("__e__"))).alias(f"__t{i}__")
            )
        )
    counts = cur.agg(
        *[F.count(F.col(f"__t{i}__")).alias(f"__n{i}__") for i in range(len(steps))]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step_idx"),
                F.lit(s).alias("step"),
                F.col(f"__n{i}__").alias("n"),
                (F.col(f"__n{i - 1}__") if i > 0 else F.col("__n0__")).alias("np"),
                F.col("__n0__").alias("n0"),
            )
            for i, s in enumerate(steps)
        ]
    )
    long = counts.select(F.explode(pairs).alias("s")).select(
        F.col("s.step_idx").alias("step_idx"),
        F.col("s.step").alias("step"),
        F.col("s.n").cast("long").alias("n_entities"),
        F.when(
            F.col("s.np") > 0, F.round(F.col("s.n") / F.col("s.np"), digits)
        ).alias("conv_from_prev"),
        F.when(
            F.col("s.n0") > 0, F.round(F.col("s.n") / F.col("s.n0"), digits)
        ).alias("conv_from_first"),
    )
    return long


def event_streaks(
    events: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    label_col: str,
    min_len: int = 1,
) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive equal labels in
    each key's ordered stream — streak detection (n consecutive errors,
    n repeated purchases) that per-row lag comparisons can't express
    without the island trick:

        island = row_number(key) - row_number(key, label)

    is constant exactly within a run of equal labels. Returns one row
    per run: (key, label, run_len, start_<first order col>) for runs
    of at least ``min_len``.

    Scale shape: both row_numbers share the SAME key-partitioned
    window sort (one shuffle); the island groupBy is run-bounded.
    ``order_cols`` must be a total order or run boundaries are
    nondeterministic under ties.
    """
    order = [F.asc(c) for c in order_cols]
    w_all = Window.partitionBy(key_col).orderBy(*order)
    w_lbl = Window.partitionBy(key_col, label_col).orderBy(*order)
    first_col = order_cols[0]
    runs = (
        events.select(
            F.col(key_col),
            F.col(label_col),
            F.col(first_col),
            (F.row_number().over(w_all) - F.row_number().over(w_lbl)).alias("__isl__"),
        )
        .groupBy(key_col, label_col, "__isl__")
        .agg(
            F.count(F.lit(1)).cast("long").alias("run_len"),
            F.min(first_col).alias(f"start_{first_col}"),
        )
        .filter(F.col("run_len") >= min_len)
        .drop("__isl__")
    )
    return runs


def attribution_credit(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    touch_types: Sequence[str] = ("view", "click"),
    conversion_type: str = "purchase",
    digits: int = 6,
) -> DataFrame:
    """Multi-touch attribution — split each conversion's credit across
    the touch events that preceded it in the same journey (the
    marketing/product counterpart of ``funnel_conversion``, which only
    counts; this APPORTIONS). A journey = the touches between two
    consecutive conversions of one user; trailing touches with no
    conversion after them earn nothing; a conversion with zero
    preceding touches credits nobody (both documented, not silent).
    One row per touch channel:

        (channel, n_touches, credit_linear, credit_u)

    credit_linear splits 1.0 evenly over the journey's k touches;
    credit_u is the position-based 40/20/40 rule (first 0.4, last 0.4,
    middle k-2 split 0.2; k=1 -> 1.0, k=2 -> 0.5/0.5).

    Scale shape: ONE user-partitioned window sort assigns journey ids
    (running conversion count) — the only fact-scale shuffle; touches
    then join conversions on (user, journey) (equi, co-partitioned)
    and position/size ride a (user, journey)-partitioned window.
    Per-touch credits are rounded then decimal-summed per channel —
    partition-invariant. Order ties break on the event id.
    """
    is_conv = F.col(type_col) == conversion_type
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    tagged = events.select(
        user_col, ts_col, type_col, id_col,
        F.coalesce(
            F.sum(is_conv.cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__j__"),
    )
    touches = tagged.filter(F.col(type_col).isin(*touch_types))
    convs = tagged.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__cu__"), F.col("__j__").alias("__cj__")
    )
    credited = touches.join(
        convs,
        (touches[user_col] == convs["__cu__"])
        & (touches["__j__"] == convs["__cj__"]),
    )
    w2 = Window.partitionBy(user_col, "__j__").orderBy(ts_col, id_col)
    sized = credited.select(
        F.col(type_col).alias("channel"),
        F.row_number().over(w2).alias("__pos__"),
        F.count(F.lit(1)).over(
            Window.partitionBy(user_col, "__j__")
        ).alias("__k__"),
    )
    k = F.col("__k__").cast("double")
    pos = F.col("__pos__")
    linear = 1.0 / k
    u = (
        F.when(F.col("__k__") == 1, F.lit(1.0))
        .when(F.col("__k__") == 2, F.lit(0.5))
        .when((pos == 1) | (pos == F.col("__k__")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (k - 2.0))
    )
    dec = "decimal(28,9)"
    return sized.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.round(
            F.sum(F.round(linear, 9).cast(dec)).cast("double"), digits
        ).alias("credit_linear"),
        F.round(
            F.sum(F.round(u, 9).cast(dec)).cast("double"), digits
        ).alias("credit_u"),
    )


def shapley_attribution(
    df: DataFrame,
    user_col: str,
    channel_col: str,
    channels: Sequence[str],
    conversion_col: str,
    digits: int = 6,
) -> DataFrame:
    """EXACT Shapley-value channel attribution over observed coalition
    patterns — the game-theoretic upgrade of ``attribution_credit``'s
    heuristic (linear / 40-20-40) splits, and the closed-form core of
    "data-driven attribution": each journey is the SET of touch
    channels a user saw, the coalition value v(S) is the observed
    conversion rate of journeys with touch set exactly S (v of an
    unobserved set is 0 — no extrapolation), and channel i earns

        phi_i = sum over S not containing i of
                |S|! (k-1-|S|)! / k! * (v(S+i) - v(S))

    Set-based by design (order-free; the time-boxed ordering lens is
    ``funnel_conversion``/``funnel_timeboxed``'s job). ``channels``
    must be small (k <= 5 guarded — 2^k coalitions; beyond that use
    sampled Shapley).

    Returns (channel, shapley, n_touched, conv_touched). The shapley
    values sum to v(grand coalition) - v(empty) over channels when all
    patterns are observed — pinned in tests.

    Scale shape: ONE pass reduces users to (bitmask, converted)
    pattern counts (the only data-scale shuffle); every Shapley term
    lives on the <= 2^k-row pattern table joined against a LITERAL
    (channel, S, S+i, weight) table built driver-side from k, with
    round-9 rates so both engines run identical fp sequences.
    """
    import math as _math

    chans = list(channels)
    k = len(chans)
    if k < 1 or k > 5:
        raise ValueError("channels must have 1..5 entries (exact Shapley)")
    if len(set(chans)) != k:
        raise ValueError("channels must be unique")
    spark = df.sparkSession
    bit = {c: 1 << i for i, c in enumerate(chans)}
    # per-user touch bitmask + conversion flag
    touch = F.col(channel_col)
    per_uc = (
        df.select(
            F.col(user_col).alias("__u__"),
            touch.alias("__c__"),
            F.col(conversion_col).cast("boolean").alias("__conv__"),
        )
        .groupBy("__u__")
        .agg(
            *[
                F.max(
                    F.when(F.col("__c__") == c, F.lit(bit[c])).otherwise(0)
                ).alias(f"__b{i}__")
                for i, c in enumerate(chans)
            ],
            F.max(F.col("__conv__").cast("int")).alias("__cv__"),
        )
    )
    mask = sum(F.col(f"__b{i}__") for i in range(k))
    patterns = (
        per_uc.select(mask.alias("__m__"), "__cv__")
        .filter(F.col("__m__") > 0)
        .groupBy("__m__")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n__"),
            F.sum("__cv__").cast("long").alias("__nc__"),
        )
        .select(
            "__m__",
            "__n__",
            "__nc__",
            F.round(
                F.col("__nc__").cast("double") / F.col("__n__").cast("double"),
                9,
            ).alias("__v__"),
        )
    )
    # literal Shapley-term table: (channel, S mask, S+i mask, weight)
    terms = []
    fact = _math.factorial
    for c in chans:
        others = [o for o in chans if o != c]
        for sub in range(1 << len(others)):
            s_mask = sum(bit[o] for j, o in enumerate(others) if sub >> j & 1)
            s_size = bin(sub).count("1")
            w = fact(s_size) * fact(k - 1 - s_size) / fact(k)
            terms.append((c, s_mask, s_mask + bit[c], float(w)))
    term_df = spark.createDataFrame(
        terms, schema="channel string, s_mask long, si_mask long, w double"
    )
    v_s = patterns.select(
        F.col("__m__").alias("s_mask"), F.col("__v__").alias("v_s")
    )
    v_si = patterns.select(
        F.col("__m__").alias("si_mask"), F.col("__v__").alias("v_si")
    )
    joined = (
        term_df.join(v_s, on="s_mask", how="left")
        .join(v_si, on="si_mask", how="left")
        .select(
            "channel",
            (
                F.col("w")
                * (
                    F.coalesce(F.col("v_si"), F.lit(0.0))
                    - F.coalesce(F.col("v_s"), F.lit(0.0))
                )
            ).alias("__t__"),
        )
    )
    phi = joined.groupBy("channel").agg(
        F.round(
            F.sum(F.round(F.col("__t__"), 12).cast("decimal(28,12)"))
            .cast("double"),
            digits,
        ).alias("shapley")
    )
    # per-channel touched-journey diagnostics ride the pattern table
    diag_rows = []
    for c in chans:
        diag_rows.append((c, bit[c]))
    diag_df = spark.createDataFrame(diag_rows, "channel string, b long")
    touched = (
        diag_df.join(
            patterns,
            F.expr("CAST(__m__ / b AS BIGINT) % 2 = 1"),
        )
        .groupBy("channel")
        .agg(
            F.sum("__n__").cast("long").alias("n_touched"),
            F.sum("__nc__").cast("long").alias("conv_touched"),
        )
    )
    return phi.join(touched, on="channel", how="left").select(
        "channel",
        (F.col("shapley") + F.lit(0.0)).alias("shapley"),
        F.coalesce("n_touched", F.lit(0)).cast("long").alias("n_touched"),
        F.coalesce("conv_touched", F.lit(0)).cast("long").alias(
            "conv_touched"
        ),
    )


def range_buckets(df: DataFrame, value: Column, num_buckets: int) -> DataFrame:
    """Add ``__bkt__``: ``num_buckets`` equal-width tiles of a numeric
    ``value`` over its broadcast [min, max] bounds,
    ``floor((v - lo) / width)`` clamped to ``num_buckets - 1``.

    The tile is a pure, monotone column expression (no sampling, so
    every re-evaluation of the lineage agrees), which is all
    ``bucketed_prefix_sums`` needs. Tile a descending order on the
    negated value. All-equal values (hi == lo) land in tile 0; a NULL
    value lands in the last tile, because ``least`` skips NULLs.
    """
    v = value.cast("double")
    bounds = df.agg(F.min(v).alias("__lo__"), F.max(v).alias("__hi__"))
    width = F.greatest(
        (F.col("__hi__") - F.col("__lo__")) / F.lit(float(num_buckets)),
        F.lit(1e-12),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__bkt__",
            F.least(F.floor((v - F.col("__lo__")) / width), F.lit(num_buckets - 1)),
        )
        .drop("__lo__", "__hi__")
    )


def bucketed_prefix_sums(
    df: DataFrame,
    order: Sequence[Column | str],
    sums: Mapping[str, Column],
    totals: Mapping[str, str] | None = None,
) -> DataFrame:
    """Global inclusive running sums over a total ``order`` without a
    single-partition exchange of ``df``'s rows.

    ``df`` must carry a ``__bkt__`` column that is monotone in
    ``order`` (``range_buckets``, or a caller's own string-prefix
    column). ``sums`` maps each output column to its weight: a rank is
    the running sum of ``F.lit(1)``, an exclusive sum is the inclusive
    sum minus the weight. ``totals`` optionally maps a ``sums`` column
    to a column carrying that weight's grand total on every row. A
    NULL bucket sorts first: its rows are dropped from the output, but
    their weights count in every later sum and in the totals.

    Three phases (Spark SQL, SIGMOD 2015, on why an unpartitioned
    window is a straggler): per-bucket weight totals; their cumulative
    offsets via the only global window, over the <= #buckets-row
    bucket table; an in-bucket running sum (one shuffle on the bucket
    key) plus the broadcast offset. Returns ``df``'s columns without
    ``__bkt__``, then the ``sums`` and ``totals`` columns. ``df`` is
    read twice; persisting it is the caller's choice.
    """
    totals = totals or {}
    names = list(sums)
    btot = df.groupBy("__bkt__").agg(
        *[F.sum(sums[n]).alias(f"__b{i}__") for i, n in enumerate(names)]
    )
    by_bkt = Window.orderBy("__bkt__")
    w_off = by_bkt.rowsBetween(Window.unboundedPreceding, -1)
    w_all = by_bkt.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = btot.select(
        "__bkt__",
        *[
            F.coalesce(F.sum(f"__b{i}__").over(w_off), F.lit(0)).alias(f"__o{i}__")
            for i in range(len(names))
        ],
        *[
            F.sum(f"__b{names.index(n)}__").over(w_all).alias(t)
            for n, t in totals.items()
        ],
    )
    w_in = (
        Window.partitionBy("__bkt__")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.join(F.broadcast(offsets), on="__bkt__").select(
        *[c for c in df.columns if c != "__bkt__"],
        *[
            (F.col(f"__o{i}__") + F.sum(sums[n]).over(w_in)).alias(n)
            for i, n in enumerate(names)
        ],
        *totals.values(),
    )
