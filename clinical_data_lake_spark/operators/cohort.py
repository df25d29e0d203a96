"""Cohort analytics — the reference's clinical query semantics as
composable library functions (SURVEY.md §3.2, §2.4 J4, §2.7 U1).

- ``comorbidity_topk``: the dashboard's richest plan
  (01-rwe-dashboard.r:73-90): distinct cohort -> join back -> one row
  per (member, condition) -> group-count -> exclude the index condition
  -> top-k. Generic over any (entity, label) event table.
- ``case_control_cohort``: 02-patient-trajectory.py:73-87 — cases =
  entities matching a predicate; controls = anti-join complement,
  balanced to the case count. The reference balances with an unsorted
  ``.limit(n)`` (nondeterministic); we rank by a deterministic order and
  keep the plan fully distributed (no driver-side count round-trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .caching import track_persist
from .filters import contains_ci
from .windows import bucketed_prefix_sums, range_buckets


def comorbidity_topk(
    events: DataFrame,
    entity_col: str,
    label_col: str,
    index_label: str,
    k: int,
    alias: str = "cnt",
) -> DataFrame:
    """Top-k labels co-occurring with ``index_label`` across entities
    (01-rwe-dashboard.r:73-90), deterministic tie-break on the label.

    Plan shape: semi-join (cohort membership) -> distinct (entity,label)
    -> group-count -> TakeOrderedAndProject. The cohort side is a
    distinct projection of the same table — at scale Catalyst reuses the
    scan, and the semi-join shuffles only entity ids.
    """
    cohort = (
        events.filter(contains_ci(label_col, index_label))
        .select(entity_col).distinct()
    )
    return (
        events.join(cohort, on=entity_col, how="left_semi")
        .filter(F.col(label_col).isNotNull())
        .filter(~contains_ci(label_col, index_label))
        .select(entity_col, label_col).distinct()
        .groupBy(label_col).agg(F.count(F.lit(1)).alias(alias))
        .orderBy(F.desc(alias), F.asc(label_col))
        .limit(k)
    )


def case_control_cohort(
    entities: DataFrame,
    entity_col: str,
    events: DataFrame,
    event_entity_col: str,
    label_col: str,
    index_label: str,
) -> DataFrame:
    """Balanced case/control cohort (02-patient-trajectory.py:73-87).

    Returns (entity_col, label) with label 1 = case (has an event
    matching ``index_label``), 0 = control; controls are the smallest
    entity ids among non-cases, as many as there are cases.

    Deterministic restatement of the reference's ``.limit(count)``:
    rank non-cases by entity id (``windows.bucketed_prefix_sums``, no
    single-partition sort) and keep rank <= case count, attached via a
    broadcast 1-row aggregate instead of a driver ``.count()``.
    """
    case_ids = (
        events.filter(contains_ci(label_col, index_label))
        .select(F.col(event_entity_col).alias(entity_col)).distinct()
    )
    cases = case_ids.select(entity_col, F.lit(1).alias("label"))

    n_cases = case_ids.agg(F.count(F.lit(1)).alias("__n__"))
    non_cases = entities.join(case_ids, on=entity_col, how="left_anti")
    # the rank walks this lineage three times (bounds, bucket counts,
    # local rank) — Catalyst does not dedupe the scans. The anti-join
    # output is one id column, so MEMORY_AND_DISK persistence is cheap
    # insurance at any scale; Spark evicts LRU if memory is tight.
    non_cases = track_persist(non_cases.select(entity_col))
    ranked = bucketed_prefix_sums(
        range_buckets(non_cases, F.col(entity_col), 64),
        [entity_col],
        {"__rk__": F.lit(1)},
    )
    controls = (
        ranked
        .crossJoin(F.broadcast(n_cases))
        .filter(F.col("__rk__") <= F.col("__n__"))
        .select(entity_col, F.lit(0).alias("label"))
    )
    return cases.unionByName(controls)


def retention_matrix(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    digits: int = 6,
) -> DataFrame:
    """Weekly cohort-retention triangle — the engagement readout every
    longitudinal dashboard carries (the behavioral analog of the
    clinical trajectory rollups, 02-rwe-patient-dashboard.py):

        (cohort_week, age_weeks, n_active, cohort_size, retention)

    where a user belongs to the ISO week of their FIRST event and
    counts as active in every later week they produce any event.

    Plan shape: one per-user min (the only user-scale shuffle), one
    distinct over (user, week) pairs, then two aggregations on the
    (cohort, age) grid — the grid is weeks x weeks, tiny at any data
    scale. All week math is date_trunc + day arithmetic (exact ints).
    """
    firsts = events.groupBy(key).agg(
        F.date_trunc("week", F.min(ts_col)).cast("date").alias("cohort_week")
    )
    active = (
        events.select(
            F.col(key), F.date_trunc("week", F.col(ts_col)).cast("date").alias("w")
        )
        .distinct()
    )
    aged = active.join(firsts, on=key).select(
        key,
        "cohort_week",
        F.floor(F.datediff(F.col("w"), F.col("cohort_week")) / 7).cast("int").alias("age_weeks"),
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = aged.groupBy("cohort_week", "age_weeks").agg(
        F.count_distinct(F.col(key)).alias("n_active")
    )
    return (
        cells.join(F.broadcast(sizes), on="cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), digits
            ).alias("retention"),
        )
    )


def activity_rollup(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily active / new / returning users — the growth-accounting
    rollup every event dashboard starts from (the per-day sibling of
    ``retention_matrix``'s weekly triangle):

        (day, active_users, new_users, returning_users)

    A user is "new" on the day of their first-ever event, "returning"
    on any later active day.

    Scale shape: the corpus reduces to distinct (user, day) pairs in
    one user-day shuffle; first-seen days come from a min() over the
    SAME reduced table (user-key shuffle, user-cardinality output),
    joined back co-partitioned on the user; the final day rollup
    aggregates a table bounded by users x active-days. No windows, no
    broadcast of anything user-scale.
    """
    ud = (
        events.select(
            F.col(user_col).alias("__u__"),
            F.to_date(F.col(ts_col)).alias("day"),
        )
        .distinct()
    )
    first = ud.groupBy("__u__").agg(F.min("day").alias("__first__"))
    return (
        ud.join(first, on="__u__")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum(F.when(F.col("day") == F.col("__first__"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
        )
        .withColumn(
            "returning_users", (F.col("active_users") - F.col("new_users")).cast("long")
        )
    )


def incidence_prevalence(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    digits: int = 6,
) -> DataFrame:
    """Monthly incidence and prevalence per event type — the
    epidemiology rates the reference's dashboard approximates with raw
    condition counts (01-rwe-dashboard.r:40-52): per (month, type),

        n_active     users with ANY event that month (denominator)
        n_prevalent  users with >=1 event of this type that month
        n_incident   users whose FIRST-EVER event of this type falls
                     in that month (new cases)
        prevalence   n_prevalent / n_active
        incidence    n_incident / n_active

    Scale shape: everything reduces to distinct (user, type, month)
    triples in one shuffle; first-ever months are a min() over the
    same reduced table (user/type-key shuffle, output bounded by
    users x types); denominators reduce further to (user, month). The
    rate rollups aggregate tables bounded by actives — never raw
    events. Rates are integer-count ratios rounded once: bit-stable
    everywhere.
    """
    utm = (
        events.select(
            F.col(user_col).alias("__u__"),
            F.col(type_col).alias("event_type"),
            F.date_trunc("month", F.col(ts_col)).cast("date").alias("month"),
        )
        .distinct()
    )
    denom = (
        utm.select("__u__", "month").distinct()
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    first_ever = utm.groupBy("__u__", "event_type").agg(
        F.min("month").alias("__first__")
    )
    per_cell = (
        utm.join(first_ever, on=["__u__", "event_type"])
        .groupBy("month", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_prevalent"),
            F.sum(F.when(F.col("month") == F.col("__first__"), 1).otherwise(0))
            .alias("n_incident"),
        )
    )
    return (
        per_cell.join(F.broadcast(denom), on="month")
        .select(
            "month",
            "event_type",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("n_prevalent").cast("long").alias("n_prevalent"),
            F.col("n_incident").cast("long").alias("n_incident"),
            F.round(F.col("n_prevalent") / F.col("n_active"), digits).alias("prevalence"),
            F.round(F.col("n_incident") / F.col("n_active"), digits).alias("incidence"),
        )
    )


def state_dwell(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    order_tiebreak: str,
    digits: int = 6,
) -> DataFrame:
    """Time-in-state rollup: attribute the gap to the NEXT event to
    the current row's state and total it per (key, state) — how long
    each user/device/patient spends in each state (browsing vs
    purchasing, normal vs error), the telemetry dual of event counts
    (a state entered often but left instantly is noise; dwell exposes
    it). Each key's LAST event has no successor and contributes
    nothing (open-ended dwell is unknowable, not zero). Returns
    (key, state, n_spells, total_s, mean_s).

    Scale shape: one lead over the per-key window (single shuffle +
    sort), one vocabulary-bounded group aggregate with exact integer
    second sums.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col), F.col(order_tiebreak)
    )
    ts_s = F.col(ts_col).cast("timestamp").cast("long")
    spans = events.select(
        F.col(key_col),
        F.col(state_col),
        (F.lead(ts_s).over(
            Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(order_tiebreak))
        ) - ts_s).alias("__dwell__"),
    ).filter(F.col("__dwell__").isNotNull())
    return (
        spans.groupBy(key_col, state_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spells"),
            F.sum("__dwell__").cast("long").alias("total_s"),
        )
        .select(
            key_col,
            state_col,
            "n_spells",
            "total_s",
            F.round(F.col("total_s") / F.col("n_spells"), digits).alias("mean_s"),
        )
    )


def cohort_ltv(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: str = "month",
    digits: int = 6,
) -> DataFrame:
    """Cohort lifetime-value curves: bucket every entity into the
    period of its FIRST event (the acquisition cohort), then report
    each cohort's per-age and cumulative value — the revenue
    companion of the retention triangle (is a newer cohort monetizing
    faster at the same age?). Returns
    (cohort, age, n_active, period_value, cum_value), age in periods
    since acquisition.

    Scale shape: one group-min for acquisition periods (joined back on
    the key — the only data-scale shuffles), one (cohort, age)
    aggregate with decimal-exact value sums, and the cumulative walk
    windows PER COHORT over the age table (bounded by the calendar).
    """
    per = F.date_trunc(period, F.col(ts_col)).cast("date")
    first = events.groupBy(key_col).agg(F.min(per).alias("__cohort__"))
    dec = "decimal(18,3)"
    aged = events.join(first, on=key_col).select(
        F.col("__cohort__").alias("cohort"),
        (
            F.months_between(per, F.col("__cohort__"))
            if period == "month"
            else F.datediff(per, F.col("__cohort__"))
        ).cast("long").alias("age"),
        F.col(key_col),
        F.col(value_col).cast(dec).alias("__v__"),
    )
    cells = aged.groupBy("cohort", "age").agg(
        F.count_distinct(F.col(key_col)).cast("long").alias("n_active"),
        F.sum("__v__").alias("__pv__"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort",
        "age",
        "n_active",
        F.round(F.col("__pv__").cast("double"), digits).alias("period_value"),
        F.round(F.sum("__pv__").over(w).cast("double"), digits).alias("cum_value"),
    )


def cumulative_distinct(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cumulative distinct entities per day — the "total users ever
    seen" dashboard curve. COUNT(DISTINCT) over a growing window is
    unbounded state; the exact-equivalent reformulation is first-seen
    attribution: each entity counts once, on its first active day, and
    the running total is a cumsum over the per-day first-seen counts.

    Scale shape: one (key) min-day aggregation over the facts, one
    per-day count, then a cumsum window over the DAY table — bounded
    by the calendar (rows = distinct days), never by the fact table;
    waived as such in the plan audit. Returns
    (day, new_entities, cum_entities)."""
    first_day = events.groupBy(key_col).agg(
        F.min(F.to_date(F.col(ts_col))).alias("day")
    )
    daily = first_day.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_entities")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "new_entities",
        F.sum("new_entities").over(w).cast("long").alias("cum_entities"),
    ).orderBy("day")


def rfm_segments(
    orders: DataFrame,
    key_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    digits: int = 2,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic retail/CRM scoring: per customer, days since last
    order (relative to the dataset's latest order), order count, and
    total spend, each scored 1-5 against the EXACT interpolated
    20/40/60/80th percentiles of the customer-level distribution
    (recency inverted: most recent = 5). Returns
    (key, rec_days, frequency, monetary, r_score, f_score, m_score,
    rfm) with rfm the concatenated three-digit segment code.

    Scale shape: one fact-table groupBy on the customer key (monetary
    accumulates as DECIMAL(18,6) — no float merge-order), then every
    global statistic (max date, three 4-boundary percentile arrays)
    is a 1-row aggregate broadcast back via cross-join; scores are
    boundary comparisons, so no global window ever touches a
    customer-sized table. Exact percentiles (not ntile) keep the SQL
    twin trivial: Spark percentile == DuckDB quantile_cont, both
    linear-interpolation.
    """
    per_cust = orders.groupBy(F.col(key_col).alias("key")).agg(
        F.max(F.to_date(F.col(ts_col))).alias("__last__"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col(amount_col).cast("decimal(18,6)")).alias("__mon__"),
    )
    global_max = orders.select(
        F.max(F.to_date(F.col(ts_col))).alias("__gmax__")
    )
    per_cust = per_cust.crossJoin(F.broadcast(global_max)).select(
        "key",
        F.datediff(F.col("__gmax__"), F.col("__last__"))
        .cast("long")
        .alias("rec_days"),
        "frequency",
        F.col("__mon__").cast("double").alias("monetary"),
    )
    per_cust = track_persist(per_cust)
    # boundaries round to 6 dp before comparison (the winsorize
    # pattern): both engines interpolate the same mathematical
    # quantile but may differ in the last ulp, and a customer sitting
    # exactly ON a boundary must score identically in both
    qs = F.array(*[F.lit(p) for p in (0.2, 0.4, 0.6, 0.8)])
    bounds = per_cust.select(
        F.transform(
            F.percentile(F.col("rec_days").cast("double"), qs),
            lambda b: F.round(b, 6),
        ).alias("__rb__"),
        F.transform(
            F.percentile(F.col("frequency").cast("double"), qs),
            lambda b: F.round(b, 6),
        ).alias("__fb__"),
        F.transform(
            F.percentile("monetary", qs), lambda b: F.round(b, 6)
        ).alias("__mb__"),
    )

    def _score_above(col: str, barr: str):
        # 1 + number of boundaries strictly below the value
        return (
            F.lit(1)
            + sum(
                (F.col(col) > F.col(barr)[i]).cast("int") for i in range(4)
            )
        ).cast("int")

    def _score_below(col: str, barr: str):
        # inverted: 1 + number of boundaries strictly above the value
        return (
            F.lit(1)
            + sum(
                (F.col(col) < F.col(barr)[i]).cast("int") for i in range(4)
            )
        ).cast("int")

    scored = per_cust.crossJoin(F.broadcast(bounds)).select(
        "key",
        "rec_days",
        "frequency",
        F.round("monetary", digits).alias("monetary"),
        _score_below("rec_days", "__rb__").alias("r_score"),
        _score_above("frequency", "__fb__").alias("f_score"),
        _score_above("monetary", "__mb__").alias("m_score"),
    )
    return scored.select(
        "*",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("rfm"),
    )


def build_eras(
    df: DataFrame,
    keys: Sequence[str],
    start_col: str,
    end_col: str,
    gap: int = 30,
) -> DataFrame:
    """Era construction (the OMOP CDM drug_era / condition_era
    algorithm): merge a person's exposure/diagnosis intervals into
    continuous ERAS, bridging gaps of up to ``gap`` units (the
    persistence window — OMOP's default 30 days for drug eras). The
    clinical longitudinal primitive: raw prescriptions/diagnoses in,
    "continuously exposed from X to Y" episodes out. Returns
    (keys..., era_start, era_end, n_events, covered) where ``covered``
    is the summed raw interval length (era_end - era_start minus the
    bridged gaps).

    The ``merge_intervals`` gaps-and-islands plan with the bridge
    folded into the island predicate: a new era starts iff the start
    exceeds (running max of previous ends) + gap — the running max,
    not lag(end), so intervals nested inside earlier longer ones
    cannot split an era. One window pass + one groupBy per key set;
    start/end are numeric (days since epoch, epoch seconds — caller's
    unit, ``gap`` in the same unit). Intervals where end < start are
    invalid input and raise at the first action (ANSI guard via
    assert_true).
    """
    from pyspark.sql import Window

    klist = list(keys)
    s, e = F.col(start_col).cast("long"), F.col(end_col).cast("long")
    base = df.select(
        *klist,
        F.when(e >= s, s).otherwise(
            F.assert_true(F.lit(False), F.lit("build_eras: end < start")).cast(
                "long"
            )
        ).alias("__s__"),
        e.alias("__e__"),
    )
    w = Window.partitionBy(*klist).orderBy(F.col("__s__"), F.col("__e__"))
    prev_max_end = F.max("__e__").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = (
        prev_max_end.isNull() | (F.col("__s__") > prev_max_end + F.lit(int(gap)))
    ).cast("long")
    base = base.withColumn("__new__", is_new)
    island = F.sum("__new__").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("__isl__", island)
        .groupBy(*klist, "__isl__")
        .agg(
            F.min("__s__").alias("era_start"),
            F.max("__e__").alias("era_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("__e__") - F.col("__s__")).cast("long").alias("covered"),
        )
        .drop("__isl__")
    )


def growth_accounting(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    digits: int = 6,
) -> DataFrame:
    """Weekly growth accounting (the Social-Capital/a16z standard
    decomposition every engagement dashboard carries): each active
    entity-week is classified as NEW (first week ever), RETAINED
    (also active the previous week), or RESURRECTED (active before,
    but not last week); CHURNED(t) = active(t-1) - retained(t) —
    entities who didn't come back. Returns per ISO week

        (week, n_active, n_new, n_retained, n_resurrected,
         n_churned, quick_ratio)

    with quick_ratio = (new + resurrected) / churned — the classic
    "is growth outpacing leakage" read-out; NULL when churned = 0
    (nothing left, nothing to outpace).

    Scale shape: one distinct over (entity, week) — the only
    entity-scale shuffle; classification is a lag window PARTITIONED
    BY the entity over its own weeks; everything after is arithmetic
    on the week-cardinality table (churn comes from lagged aggregate
    counts, not a second entity pass).
    """
    from pyspark.sql import Window

    uw = (
        events.select(
            F.col(key_col).alias("k"),
            F.date_trunc("week", F.col(ts_col)).cast("date").alias("week"),
        )
        .distinct()
    )
    w = Window.partitionBy("k").orderBy("week")
    classified = uw.select(
        "k",
        "week",
        F.lag("week").over(w).alias("__prev__"),
    ).select(
        "week",
        F.when(F.col("__prev__").isNull(), "new")
        .when(F.datediff(F.col("week"), F.col("__prev__")) <= 7, "retained")
        .otherwise("resurrected")
        .alias("__cls__"),
    )
    weekly = classified.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum((F.col("__cls__") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("__cls__") == "retained").cast("long")).alias(
            "n_retained"
        ),
        F.sum((F.col("__cls__") == "resurrected").cast("long")).alias(
            "n_resurrected"
        ),
    )
    # churn needs the PREVIOUS CALENDAR week's active count — weeks with
    # zero activity would be skipped by a plain lag over existing rows,
    # so join the shifted week explicitly (the week table is tiny)
    prev = weekly.select(
        F.date_add(F.col("week"), 7).alias("week"),
        F.col("n_active").alias("__prev_active__"),
    )
    out = weekly.join(prev, on="week", how="left").select(
        "week",
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(
            F.col("__prev_active__") - F.col("n_retained"), F.lit(0)
        )
        .cast("long")
        .alias("n_churned"),
    )
    churned = F.col("n_churned").cast("double")
    return out.select(
        "*",
        F.when(
            churned > 0,
            F.round(
                (F.col("n_new") + F.col("n_resurrected")) / churned, digits
            ),
        ).alias("quick_ratio"),
    )


def time_to_convert(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    start_type: str = "signup",
    convert_type: str = "purchase",
    digits: int = 6,
) -> DataFrame:
    """Conversion-latency distribution — time from each user's FIRST
    ``start_type`` event to their first ``convert_type`` event at or
    after it (the activation read-out next to ``funnel_conversion``'s
    step counts: not IF users convert but HOW FAST). ONE row:

        (n_users, n_converted, conversion_rate,
         p25_hours, p50_hours, p75_hours)

    Users without a start event are excluded; conversions BEFORE the
    first start don't count (re-activation belongs to a different
    question). Percentiles are exact, over converters only.

    Scale shape: one user-key aggregate (conditional min timestamps —
    the only fact shuffle), then a 1-row percentile reduction over the
    per-user latency table.
    """
    per_user = events.groupBy(user_col).agg(
        F.min(
            F.when(F.col(type_col) == start_type, F.col(ts_col))
        ).alias("__t0__"),
    )
    conv = events.filter(F.col(type_col) == convert_type).select(
        F.col(user_col), F.col(ts_col).alias("__tc__")
    )
    lat = (
        per_user.filter(F.col("__t0__").isNotNull())
        .join(conv, on=user_col, how="left")
        .groupBy(user_col)
        .agg(
            # conversions BEFORE the first start null out here, so a
            # user whose only purchases predate signup still counts in
            # n_users (as unconverted) rather than vanishing
            F.min(
                F.when(F.col("__tc__") >= F.col("__t0__"), F.col("__tc__"))
            ).alias("__tc__"),
            F.min("__t0__").alias("__t0__"),
        )
        .select(
            F.when(
                F.col("__tc__").isNotNull(),
                (
                    F.unix_micros(F.col("__tc__"))
                    - F.unix_micros(F.col("__t0__"))
                ).cast("double")
                / 3.6e9,
            ).alias("__h__")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("__h__").cast("long").alias("n_converted"),
        F.round(
            F.count("__h__").cast("double") / F.count(F.lit(1)), digits
        ).alias("conversion_rate"),
        F.round(F.percentile(F.col("__h__"), F.lit(0.25)), digits).alias(
            "p25_hours"
        ),
        F.round(F.percentile(F.col("__h__"), F.lit(0.5)), digits).alias(
            "p50_hours"
        ),
        F.round(F.percentile(F.col("__h__"), F.lit(0.75)), digits).alias(
            "p75_hours"
        ),
    )


def stickiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    digits: int = 6,
) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the engagement-depth
    ratio next to ``activity_rollup``'s growth counts (how many of the
    month's users show up on an average day). One row per month:

        (month, avg_dau, mau, stickiness)

    avg_dau averages the month's ACTIVE-day counts over days that had
    any activity (the convention that doesn't punish short first/last
    calendar months; zero-activity days inside a month are a calendar
    question — see ``growth_accounting`` for the shifted-week
    treatment).

    Scale shape: one distinct (user, day) reduction — the only
    fact-scale work; daily counts, monthly distincts, and the ratio
    all run on the bounded day/month tables.
    """
    ud = events.select(
        F.col(user_col).alias("__u__"),
        F.col(ts_col).cast("date").alias("__d__"),
    ).distinct()
    daily = ud.groupBy("__d__").agg(F.count(F.lit(1)).alias("__dau__"))
    monthly = ud.select(
        F.date_format("__d__", "yyyy-MM").alias("month"), "__u__"
    ).groupBy("month").agg(F.count_distinct("__u__").cast("long").alias("mau"))
    dau_m = daily.select(
        F.date_format("__d__", "yyyy-MM").alias("month"), "__dau__"
    ).groupBy("month").agg(
        F.round(
            F.sum("__dau__").cast("double") / F.count(F.lit(1)), digits
        ).alias("avg_dau")
    )
    return monthly.join(dau_m, on="month").select(
        "month", "avg_dau", "mau",
        F.round(F.col("avg_dau") / F.col("mau").cast("double"), digits).alias(
            "stickiness"
        ),
    )


def pdc_adherence(
    supplies: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    window_start_col: str,
    window_end_col: str,
    digits: int = 6,
) -> DataFrame:
    """Proportion of days covered (PDC) — THE claims-data medication-
    adherence metric (PQA specification): per patient, the fraction of
    the observation window covered by at least one supply interval,
    with overlapping fills collapsed (not double-counted) and supply
    clipped to the window. One row per key:

        (key, window_days, covered_days, pdc)

    Day semantics: intervals are half-open [start, end) in DAYS
    (integer day numbers or dates cast upstream); window_days =
    window_end - window_start. PDC > 0.8 is the conventional
    "adherent" threshold.

    Scale shape: ``merge_intervals``' island pass per key (ONE key
    shuffle, window partitioned by key) after clipping to the window;
    covered days sum per key as integers — exact.
    """
    from .timeseries import merge_intervals

    clipped = supplies.select(
        F.col(key_col).alias("__k__"),
        F.greatest(F.col(start_col), F.col(window_start_col)).alias("__s__"),
        F.least(F.col(end_col), F.col(window_end_col)).alias("__e__"),
        F.col(window_start_col).alias("__ws__"),
        F.col(window_end_col).alias("__we__"),
    ).filter(F.col("__s__") < F.col("__e__"))
    merged = merge_intervals(clipped, "__k__", "__s__", "__e__")
    windows = supplies.groupBy(F.col(key_col).alias("__k__")).agg(
        F.min(window_start_col).alias("__ws__"),
        F.min(window_end_col).alias("__we__"),
    )
    covered = merged.groupBy("__k__").agg(
        F.sum(
            F.col("end").cast("long") - F.col("start").cast("long")
        ).alias("covered_days")
    )
    return (
        windows.join(covered, on="__k__", how="left")
        .select(
            F.col("__k__").alias(key_col),
            (F.col("__we__").cast("long") - F.col("__ws__").cast("long")).alias(
                "window_days"
            ),
            F.coalesce("covered_days", F.lit(0)).cast("long").alias(
                "covered_days"
            ),
            F.round(
                F.coalesce("covered_days", F.lit(0)).cast("double")
                / F.greatest(
                    F.col("__we__").cast("long") - F.col("__ws__").cast("long"),
                    F.lit(1),
                ).cast("double"),
                digits,
            ).alias("pdc"),
        )
    )


def person_time_rate(
    subjects: DataFrame,
    time_col: str,
    events_col: str,
    group_cols: Sequence[str] | None = None,
    per: float = 1000.0,
    z: float = 1.959963984540054,
    digits: int = 6,
) -> DataFrame:
    """Incidence rate per person-time — events per ``per`` person-time
    units with a Wald CI on the log rate (the epidemiological
    denominator done right: rates over TIME AT RISK, not headcounts —
    ``incidence_prevalence`` counts people, this counts exposure). One
    row per group:

        (group..., n_subjects, person_time, n_events,
         rate, rate_lo, rate_hi)

        rate = per * E / T,  log-CI = ln rate +- z / sqrt(E)

    Input: one row per subject with their time at risk and event
    count. Rate/CI NULL when T = 0; CI NULL when E = 0 (log CI
    undefined — report the rate with no interval rather than invent
    one).

    Scale shape: one group aggregate, decimal person-time sum.
    """
    groups = list(group_cols or [])
    t = F.col(time_col).cast("double")
    e = F.col(events_col).cast("long")
    g = subjects.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.round(
            F.sum(t.cast("decimal(28,6)")).cast("double"), digits
        ).alias("person_time"),
        F.sum(e).cast("long").alias("n_events"),
    )
    tt = F.col("person_time")
    ee = F.col("n_events").cast("double")
    rate = F.lit(float(per)) * ee / tt
    half = F.lit(float(z)) / F.sqrt(ee)
    return g.select(
        *groups, "n_subjects", "person_time", "n_events",
        F.round(F.when(tt > 0, rate), digits).alias("rate"),
        F.round(
            F.when((tt > 0) & (ee > 0), F.exp(F.log(rate) - half)), digits
        ).alias("rate_lo"),
        F.round(
            F.when((tt > 0) & (ee > 0), F.exp(F.log(rate) + half)), digits
        ).alias("rate_hi"),
    )


def event_study(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    treat_event,
    outcome_event,
    event_col: str = "event_type",
    max_lag_weeks: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Event-study curve around first exposure — the dynamic
    completion of ``did_estimate`` (one pooled effect) and
    ``cuped_adjust`` (variance reduction): for every user whose first
    ``treat_event`` anchors week 0, the mean WEEKLY ``outcome_event``
    count at each relative week in [-max_lag, +max_lag], ZERO-FILLED
    (a user contributes 0 to every in-window week without outcomes —
    silence is the counterfactual's whole point). Pre-period rows are
    the placebo check: a visible pre-trend invalidates the design.

    Returns (rel_week, n_users, n_events, mean_events) for each
    relative week; n_users is constant across rows by construction
    (every anchored user spans the full window — edge weeks outside
    the observed calendar simply carry their true zero counts, which
    is the honest intention-to-treat read).

    Scale shape: one groupBy for the per-user anchor (min treat time),
    one join of outcomes onto anchors (user key), the zero-fill grid
    is anchors x (2*max_lag+1) literal offsets (user-scale x small
    constant), and one final rollup on the bounded rel_week table.
    Day arithmetic is integer (datediff // 7 with floor semantics for
    negative lags).
    """
    anchors = (
        df.filter(F.col(event_col) == treat_event)
        .groupBy(F.col(user_col).alias("__u__"))
        .agg(F.min(F.to_date(F.col(ts_col))).alias("__t0__"))
    )
    outcomes = df.filter(F.col(event_col) == outcome_event).select(
        F.col(user_col).alias("__u__"),
        F.to_date(F.col(ts_col)).alias("__d__"),
    )
    k = int(max_lag_weeks)
    # floor division keeps day -1 in week -1, not week 0
    rel = F.floor(
        F.datediff(F.col("__d__"), F.col("__t0__")) / F.lit(7)
    ).cast("int")
    counted = (
        anchors.join(outcomes, on="__u__")
        .select("__u__", rel.alias("rel_week"))
        .filter((F.col("rel_week") >= -k) & (F.col("rel_week") <= k))
        .groupBy("__u__", "rel_week")
        .agg(F.count(F.lit(1)).cast("long").alias("__c__"))
    )
    offsets = anchors.select("__u__").crossJoin(
        anchors.sparkSession.range(1).select(
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("rel_week")
        ).select(F.col("rel_week").cast("int").alias("rel_week"))
    )
    grid = offsets.join(counted, on=["__u__", "rel_week"], how="left").select(
        "__u__",
        "rel_week",
        F.coalesce("__c__", F.lit(0)).cast("long").alias("__c__"),
    )
    out = grid.groupBy("rel_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("__c__").cast("long").alias("n_events"),
    )
    return out.select(
        "rel_week",
        "n_users",
        "n_events",
        (
            F.round(
                F.col("n_events").cast("double")
                / F.col("n_users").cast("double"),
                digits,
            )
            + F.lit(0.0)
        ).alias("mean_events"),
    )
