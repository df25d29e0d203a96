"""Data-quality expectation checks — the audit gate an ETL pipeline
runs before publishing a table (the validation counterpart of the
reference's ingest steps, 00-etl-rwd.py:96-141: the same schemas it
loads are what these checks assert over).

One report DataFrame, one row per check:

    (check_name, n_rows, n_violations, passed)

Scale shape: every row-level predicate (not-null, range, set, regex)
folds into a SINGLE aggregate pass over the table — adding a check adds
a column to one map-side partial aggregation, not a scan. Uniqueness
adds a ``count_distinct`` to the same pass. Referential-integrity
checks are per-FK anti-join aggregates (broadcast when the dimension is
small). The wide 1-row aggregate is unpivoted plan-side with ``stack``,
so the report is itself a DataFrame — write it next to the table it
audits.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from .windows import range_buckets


def not_null(col: str) -> Column:
    """Expectation: ``col`` is never NULL."""
    return F.col(col).isNotNull()


def in_range(col: str, lo, hi) -> Column:
    """Expectation: ``lo <= col <= hi`` (NULL fails — pair with an
    explicit ``not_null`` if NULLs are allowed)."""
    return F.col(col).between(F.lit(lo), F.lit(hi))


def in_set(col: str, values: Sequence) -> Column:
    """Expectation: ``col`` is one of ``values``."""
    return F.col(col).isin(list(values))


def matches(col: str, pattern: str) -> Column:
    """Expectation: ``col`` fully matches the (Java/RE2-common) regex."""
    return F.col(col).rlike(pattern)


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Reconcile two versions of a table by key — the validation pass
    after a migration, backfill, or CDC apply (the check
    ``apply_changes`` consumers run before swapping a snapshot).

    Returns one row per metric:

        (metric, n)  with metrics
        rows_left, rows_right, only_left, only_right, matched, changed,
        changed:<col> (one per compared column)

    Scale shape: each side is pruned to (keys..., compared columns)
    and the two sides meet in ONE full-outer shuffle join on the
    keys; everything after the join is a single
    global aggregate (map-side combined). Wide tables can pass
    ``compare_cols`` to prune the scan to the audited columns. No
    window, no second pass over either input.

    Keys are assumed unique per side (the snapshot invariant CDC
    maintains); duplicate keys would pair combinatorially as in any
    key-based diff.
    """
    key_list = list(keys)
    if compare_cols is None:
        compare_cols = [c for c in left.columns if c not in key_list]
    cmp_list = [c for c in compare_cols if c not in key_list]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *key_list,
            F.lit(1).alias(f"__p{tag}__"),
            *[F.col(c).alias(f"__{tag}_{c}__") for c in cmp_list],
        )

    j = side(left, "l").join(side(right, "r"), on=key_list, how="full_outer")
    in_l = F.col("__pl__").isNotNull()
    in_r = F.col("__pr__").isNotNull()
    col_diff = {
        c: in_l & in_r & ~F.col(f"__l_{c}__").eqNullSafe(F.col(f"__r_{c}__"))
        for c in cmp_list
    }
    any_diff = None
    for d in col_diff.values():
        any_diff = d if any_diff is None else (any_diff | d)
    if any_diff is None:
        any_diff = F.lit(False)

    def cnt(pred) -> Column:
        return F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0))).cast("long")

    aggs = [
        cnt(in_l).alias("rows_left"),
        cnt(in_r).alias("rows_right"),
        cnt(in_l & ~in_r).alias("only_left"),
        cnt(~in_l & in_r).alias("only_right"),
        cnt(in_l & in_r & ~any_diff).alias("matched"),
        cnt(in_l & in_r & any_diff).alias("changed"),
    ]
    names = ["rows_left", "rows_right", "only_left", "only_right", "matched", "changed"]
    for c in cmp_list:
        aggs.append(cnt(col_diff[c]).alias(f"changed:{c}"))
        names.append(f"changed:{c}")
    wide = j.agg(*aggs)
    stack_args = ", ".join(f"'{n}', `{n}`" for n in names)
    return wide.select(
        F.expr(f"stack({len(names)}, {stack_args}) AS (metric, n)")
    ).select("metric", F.col("n").cast("long").alias("n"))


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Privacy-risk audit before publishing a de-identified extract:
    k-anonymity (every quasi-identifier combination appears >= k
    times) and, when ``sensitive_col`` is given, l-diversity (distinct
    sensitive values per equivalence class).

    The release gate the reference's de-identification step implies
    (00-etl-rwd.py's hashed-id projection): hashing direct identifiers
    is not enough if the quasi-identifier combination singles a row
    out. One summary row:

        (k, n_rows, n_classes, min_class_size,
         n_rows_at_risk, n_classes_at_risk, min_l, k_anonymous)

    ``min_l`` is NULL when no sensitive column is given; rows/classes
    at risk are those in equivalence classes smaller than ``k``.

    Scale shape: one groupBy on the quasi-identifier columns (map-side
    combined counts + distinct-sensitive), then a global aggregate of
    the class-level table — the classic two-stage rollup; no windows,
    no joins, nothing driver-side.
    """
    q = list(quasi_cols)
    per_class = [F.count(F.lit(1)).alias("__sz__")]
    if sensitive_col is not None:
        per_class.append(F.count_distinct(F.col(sensitive_col)).alias("__l__"))
    classes = df.groupBy(*q).agg(*per_class)
    at_risk = F.col("__sz__") < F.lit(k)
    aggs = [
        F.lit(k).cast("int").alias("k"),
        F.sum("__sz__").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__sz__").cast("long").alias("min_class_size"),
        F.sum(F.when(at_risk, F.col("__sz__")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.sum(F.when(at_risk, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_classes_at_risk"),
        (
            F.min("__l__").cast("long")
            if sensitive_col is not None
            else F.lit(None).cast("long")
        ).alias("min_l"),
    ]
    out = classes.agg(*aggs)
    return out.withColumn("k_anonymous", F.col("n_classes_at_risk") == 0)


def check_report(
    df: DataFrame,
    checks: Mapping[str, Column],
    unique_keys: Sequence[str] | None = None,
    fks: Mapping[str, tuple[DataFrame, str, str]] | None = None,
) -> DataFrame:
    """Evaluate expectations over ``df`` and return the audit report.

    ``checks``: name -> boolean Column that should hold for every row;
    a NULL predicate result counts as a violation (ANSI three-valued
    logic would otherwise let NULLs slip through every check).
    ``unique_keys``: adds a ``unique(...)`` check counting surplus
    duplicate rows (n_rows - distinct key combinations).
    ``fks``: name -> (dim_df, fact_col, dim_col); counts fact rows
    whose key has no match in the dimension (orphans). NULL fact keys
    are not orphans — add a ``not_null`` check when they are illegal.
    """
    if not checks and unique_keys is None and not fks:
        raise ValueError("no checks given")

    aggs = [F.count(F.lit(1)).alias("__n__")]
    names = []
    for name, pred in checks.items():
        violation = ~F.coalesce(pred, F.lit(False))
        aggs.append(
            F.sum(F.when(violation, F.lit(1)).otherwise(F.lit(0))).alias(f"__v_{name}__")
        )
        names.append(name)
    if unique_keys is not None:
        key = F.struct(*[F.col(k) for k in unique_keys])
        uname = "unique:" + ",".join(unique_keys)
        aggs.append((F.count(F.lit(1)) - F.count_distinct(key)).alias(f"__v_{uname}__"))
        names.append(uname)

    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{n}', `__v_{n}__`" for n in names)
    report = wide.select(
        F.expr(f"stack({len(names)}, {stack_args}) AS (check_name, n_violations)"),
        F.col("__n__").alias("n_rows"),
    ).select("check_name", "n_rows", F.col("n_violations").cast("long").alias("n_violations"))

    parts = [report]
    for name, (dim, fact_col, dim_col) in (fks or {}).items():
        keys = dim.select(F.col(dim_col).alias(fact_col)).distinct()
        orphans = (
            df.filter(F.col(fact_col).isNotNull())
            .join(F.broadcast(keys), on=fact_col, how="left_anti")
        )
        parts.append(
            df.agg(
                F.lit(name).alias("check_name"),
                F.count(F.lit(1)).alias("n_rows"),
            ).crossJoin(
                F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_violations")))
            ).select("check_name", "n_rows", "n_violations")
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("n_violations") == 0)


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    digits: int = 6,
) -> DataFrame:
    """Referential-integrity audit: how many child rows reference a
    key absent from the parent table — the join-quality check every
    denormalizing pipeline (the reference's patient_encounters build,
    00-etl-rwd.py:136-141) should run BEFORE the join silently drops
    or null-fills the orphans. One summary row:

        (n_child, n_child_keys, n_orphan_rows, n_orphan_keys,
         orphan_share, referential_ok)

    NULL child keys count as orphan ROWS (they can never join) and are
    reported separately in ``n_null_key_rows``; the two key counts
    cover distinct non-NULL keys. Scale shape: one anti-join on the
    key (broadcast when the parent key set is small; AQE decides
    otherwise) + two 1-row aggregates — no windows, nothing
    driver-side.
    """
    orphans = child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        on=child_key,
        how="left_anti",
    )
    tot = child.agg(
        F.count(F.lit(1)).cast("long").alias("n_child"),
        F.count_distinct(F.col(child_key)).cast("long").alias("n_child_keys"),
    )
    orp = orphans.agg(
        F.count(F.lit(1)).cast("long").alias("n_orphan_rows"),
        F.count_distinct(F.col(child_key)).cast("long").alias("n_orphan_keys"),
        F.coalesce(
            F.sum(F.col(child_key).isNull().cast("long")), F.lit(0)
        ).cast("long").alias("n_null_key_rows"),
    )
    return tot.crossJoin(F.broadcast(orp)).select(
        "n_child",
        "n_child_keys",
        "n_orphan_rows",
        "n_orphan_keys",
        "n_null_key_rows",
        F.round(
            F.col("n_orphan_rows").cast("double") / F.col("n_child"), digits
        ).alias("orphan_share"),
        (F.col("n_orphan_rows") == 0).alias("referential_ok"),
    )


def benford_test(
    df: DataFrame,
    col: str,
    digits: int = 6,
) -> DataFrame:
    """Benford's-law first-digit audit: compare the observed leading-
    digit distribution of a positive numeric column against the
    log10(1 + 1/d) expectation — the classic fabricated-data /
    systematic-error screen for financial and measurement columns.
    Returns one row per digit 1..9:
    (digit, n_obs, obs_p, exp_p, chi2_term); sum(chi2_term) is the
    8-dof Pearson statistic. Zero/NULL/non-finite values are excluded
    (they have no leading significant digit).

    Scale shape: leading-digit extraction is pure column arithmetic
    (floor(x / 10^floor(log10 x))); one 9-cardinality group-count;
    the expectation join is a 9-row broadcast.
    """
    x = F.abs(F.col(col).cast("double"))
    lead = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    obs = (
        df.filter(x > 0)
        .select(lead.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    spark = df.sparkSession
    import math as _m

    exp = spark.createDataFrame(
        [(d, round(_m.log10(1 + 1 / d), digits)) for d in range(1, 10)],
        "digit int, exp_p double",
    )
    w = Window.partitionBy()
    n = F.sum("n_obs").over(w).cast("double")
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0).cast("long"))
    obs_p = F.round(n_obs / n, digits)
    term = F.round(
        (n_obs - n * F.col("exp_p")) * (n_obs - n * F.col("exp_p"))
        / (n * F.col("exp_p")),
        digits,
    )
    return (
        F.broadcast(exp)
        .join(obs, on="digit", how="left")
        .select(
            "digit",
            n_obs.alias("n_obs"),
            obs_p.alias("obs_p"),
            "exp_p",
            term.alias("chi2_term"),
        )
    )


def sequence_gaps(
    df: DataFrame,
    seq_col: str,
    keys: Sequence[str] | None = None,
    num_buckets: int = 256,
) -> DataFrame:
    """Missing-range detection in an integer sequence (invoice
    numbers, event ids, log offsets): report every maximal gap as
    (keys..., gap_start, gap_end, gap_len) — the completeness audit a
    plain count can't give (it says HOW MANY are missing, not WHICH).

    Scale shape — no single-partition window even for the global
    (keyless) case: distinct values range-bucket by a pure expression
    over broadcast [min, max] bounds; each value's successor is found
    within its bucket (one shuffle keyed by bucket), and each bucket's
    LAST value checks against the next non-empty bucket's first via a
    window over the <= ``num_buckets``-row boundary table. Gaps are
    pairs of adjacent present values more than 1 apart.
    """
    key_list = list(keys) if keys else []
    s = F.col(seq_col).cast("long")
    vals = df.select(*key_list, s.alias("__v__")).filter(
        F.col("__v__").isNotNull()
    ).distinct()
    if key_list:
        # per-key sequences: the window is keyed — no global hazard
        w = Window.partitionBy(*key_list).orderBy("__v__")
        nxt = F.lead("__v__").over(w)
        return (
            vals.select(*key_list, "__v__", nxt.alias("__nx__"))
            .filter(F.col("__nx__") > F.col("__v__") + 1)
            .select(
                *key_list,
                (F.col("__v__") + 1).alias("gap_start"),
                (F.col("__nx__") - 1).alias("gap_end"),
                (F.col("__nx__") - F.col("__v__") - 1).alias("gap_len"),
            )
        )
    bucketed = range_buckets(vals, F.col("__v__"), num_buckets)
    w_in = Window.partitionBy("__bkt__").orderBy("__v__")
    in_bucket = bucketed.select(
        "__v__", F.lead("__v__").over(w_in).alias("__nx__")
    )
    # bucket boundaries: last value of each bucket pairs with the next
    # non-empty bucket's first value via the bounded boundary table
    w_bnd = Window.orderBy("__bkt__")
    boundary = (
        bucketed.groupBy("__bkt__")
        .agg(F.max("__v__").alias("__last__"), F.min("__v__").alias("__first__"))
        .select(
            F.col("__last__").alias("__v__"),
            F.lead("__first__").over(w_bnd).alias("__nx__"),
        )
        .filter(F.col("__nx__").isNotNull())
    )
    pairs = in_bucket.filter(F.col("__nx__").isNotNull()).unionByName(boundary)
    return pairs.filter(F.col("__nx__") > F.col("__v__") + 1).select(
        (F.col("__v__") + 1).alias("gap_start"),
        (F.col("__nx__") - 1).alias("gap_end"),
        (F.col("__nx__") - F.col("__v__") - 1).alias("gap_len"),
    )


def profile_table(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    approx_distinct: bool = False,
    digits: int = 6,
) -> DataFrame:
    """One-glance column profile: per column, the row count, null
    count, distinct count, and min/max — numeric and timestamp columns
    as doubles (timestamps as epoch seconds), string columns
    lexicographic — the ``describe()``-style audit with deterministic,
    engine-comparable output. Long form:

        (column, n, n_null, n_distinct, min_num, max_num,
         min_str, max_str)

    ``approx_distinct=True`` swaps exact ``count_distinct`` for the
    one-pass mergeable HLL estimate — at 100 TB that is the right
    default (k exact distincts expand the aggregate into k passes);
    exact is the default here because the estimate is not
    SQL-twinnable across engines. Everything reduces in ONE aggregate;
    the 1-row stat vector unpivots engine-side via explode.
    """
    from pyspark.sql.types import (
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    cs = list(cols) if cols else list(df.columns)
    cnt_distinct = F.approx_count_distinct if approx_distinct else F.count_distinct
    aggs = [F.count(F.lit(1)).cast("long").alias("__n__")]
    kinds: dict[str, str] = {}
    for c in cs:
        dt = df.schema[c].dataType
        if isinstance(dt, NumericType):
            kinds[c] = "num"
            x = F.col(c).cast("double")
        elif isinstance(dt, (TimestampType, TimestampNTZType)):
            kinds[c] = "num"
            # epoch seconds; NTZ has no direct double cast — go via
            # a session-TZ-interpreted timestamp (sessions run UTC)
            x = F.col(c).cast("timestamp").cast("double")
        elif isinstance(dt, StringType):
            kinds[c] = "str"
            x = F.col(c)
        else:
            kinds[c] = "other"
            x = None
        aggs.append(F.count(F.col(c)).cast("long").alias(f"__nn_{c}__"))
        aggs.append(cnt_distinct(F.col(c)).cast("long").alias(f"__nd_{c}__"))
        if x is not None:
            mn = F.min(x)
            mx = F.max(x)
            if kinds[c] == "num":
                mn, mx = F.round(mn, digits), F.round(mx, digits)
            aggs.append(mn.alias(f"__mn_{c}__"))
            aggs.append(mx.alias(f"__mx_{c}__"))
    stats = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for c in cs:
        mn_num = F.col(f"__mn_{c}__") if kinds[c] == "num" else null_d
        mx_num = F.col(f"__mx_{c}__") if kinds[c] == "num" else null_d
        mn_str = F.col(f"__mn_{c}__") if kinds[c] == "str" else null_s
        mx_str = F.col(f"__mx_{c}__") if kinds[c] == "str" else null_s
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n__").alias("n"),
                (F.col("__n__") - F.col(f"__nn_{c}__")).alias("n_null"),
                F.col(f"__nd_{c}__").alias("n_distinct"),
                mn_num.alias("min_num"),
                mx_num.alias("max_num"),
                mn_str.alias("min_str"),
                mx_str.alias("max_str"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def sla_rollup(
    orders: DataFrame,
    lineitem: DataFrame,
    days: int = 90,
    order_key: str = "o_orderkey",
    line_key: str = "l_orderkey",
    order_ts: str = "o_orderdate",
    ship_ts: str = "l_shipdate",
    group_col: str = "o_orderstatus",
    digits: int = 6,
) -> DataFrame:
    """Order-level SLA conformance: an order MEETS the SLA iff EVERY
    lineitem shipped within ``days`` of the order date (``bool_and``
    — the all-quantifier aggregation, the operational-quality twin of
    Q4's EXISTS). Rolled up per ``group_col``:
    (group, n_orders, n_met, met_pct).

    Scale shape: one fact-to-fact join shuffling on the order key, one
    per-order bool_and (map-side combinable), one small rollup."""
    j = orders.select(order_key, order_ts, group_col).join(
        lineitem.select(line_key, ship_ts),
        F.col(order_key) == F.col(line_key),
    )
    per_order = j.groupBy(order_key, group_col).agg(
        F.bool_and(
            F.col(ship_ts) <= F.col(order_ts) + F.expr(f"INTERVAL {int(days)} DAYS")
        ).alias("__met__")
    )
    return (
        per_order.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("__met__").cast("long")).cast("long").alias("n_met"),
        )
        .select(
            group_col,
            "n_orders",
            "n_met",
            F.round(
                F.col("n_met").cast("double") / F.col("n_orders"), digits
            ).alias("met_pct"),
        )
    )


def json_profile(
    df: DataFrame,
    json_col: str,
    digits: int = 6,
) -> DataFrame:
    """Schema profile of a semi-structured JSON string column: per
    (key, inferred scalar type) — occurrence count, distinct values,
    and presence rate against the row count. The discovery step before
    promoting JSON props to real columns (and the drift alarm after:
    a new key or a type flip shows up as a new row here).

    Keys come from ``from_json`` into map<string,string> (engine-side,
    no UDF); scalar types are classified from the string form
    (integer / double / boolean / null / string). Arrays/objects
    classify as 'complex'. One explode + one (key, type) rollup; the
    JSON parse happens once per row.
    """
    total = df.select(F.count(F.lit(1)).alias("__n__"))
    kv = (
        df.select(
            F.explode(
                F.from_json(F.col(json_col), "map<string,string>")
            ).alias("key", "__v__")
        )
    )
    v = F.col("__v__")
    vtype = (
        F.when(v.isNull(), F.lit("null"))
        .when(v.rlike(r"^-?\d+$"), F.lit("integer"))
        .when(v.rlike(r"^-?\d+\.\d+([eE][+-]?\d+)?$"), F.lit("double"))
        .when(v.isin("true", "false"), F.lit("boolean"))
        .when(v.rlike(r"^[\[{]"), F.lit("complex"))
        .otherwise(F.lit("string"))
    )
    return (
        kv.select("key", vtype.alias("vtype"), "__v__")
        .groupBy("key", "vtype")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_distinct("__v__").cast("long").alias("n_distinct"),
        )
        .join(F.broadcast(total))
        .select(
            "key",
            "vtype",
            "n",
            "n_distinct",
            F.round(F.col("n").cast("double") / F.col("__n__"), digits).alias(
                "presence"
            ),
        )
    )


def forget_keys(
    tables: Mapping[str, tuple[DataFrame, str]],
    forget: DataFrame,
    forget_col: str,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Right-to-be-forgotten cascade: anti-join a deletion key set out
    of every registered table and report the audit trail. ``tables``
    maps table name -> (DataFrame, key column matching the forget
    set); returns ({name: filtered DataFrame}, audit) where audit has
    one row per table: (table_name, n_before, n_removed, n_after).

    The erasure-compliance primitive: one broadcast of the (small)
    forget set, one anti join per table, counts exact. Plans stay
    lazy — callers write the filtered tables and persist the audit as
    the compliance record. At scale pair with ``compact_table`` so
    deleted rows leave the physical files too.
    """
    keys = forget.select(F.col(forget_col).alias("__fk__")).distinct()
    filtered: dict[str, DataFrame] = {}
    for name, (df, key_col) in tables.items():
        filtered[name] = df.join(
            F.broadcast(keys), df[key_col] == keys["__fk__"], "left_anti"
        )
    # audit counts computed set-wise (no per-row membership of a
    # collected list): n_removed = n_before - n_after, the two
    # aggregates sharing the broadcast anti join
    audit_rows = None
    for name, (df, key_col) in tables.items():
        kept = filtered[name]
        row = (
            df.agg(F.count(F.lit(1)).cast("long").alias("n_before"))
            .join(kept.agg(F.count(F.lit(1)).cast("long").alias("n_after")))
            .select(
                F.lit(name).alias("table_name"),
                "n_before",
                (F.col("n_before") - F.col("n_after")).cast("long").alias(
                    "n_removed"
                ),
                "n_after",
            )
        )
        audit_rows = row if audit_rows is None else audit_rows.unionByName(row)
    return filtered, audit_rows


def l_diversity_classes(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 3,
    digits: int = 6,
) -> DataFrame:
    """Per-equivalence-class l-diversity detail — the drill-down
    behind ``k_anonymity_report``'s single ``min_l`` summary: for
    every quasi-identifier class, the class size, the number of
    distinct sensitive values (``distinct l``), and ENTROPY
    l-diversity (Machanavajjhala et al. 2007): exp(H) — the effective
    number of sensitive values, which catches classes where one value
    dominates even though several appear. A class passes when
    distinct_l >= l AND entropy_l >= l - 1e-6 (the epsilon absorbs the
    6-dp term rounding, which can land a PERFECTLY l-diverse class at
    l - 1e-6 — e.g. 3 equally likely values -> 2.999999); the failing
    classes are the rows a release reviewer actually needs.

    Returns (quasi..., class_size, distinct_l, entropy_l, ok).

    Scale shape: one (quasi, sensitive) group-count (the only
    fact-sized shuffle), then a class-level rollup with
    decimal-rounded -p ln p terms (``label_entropy``'s merge-order-
    exact fold, here folded into the privacy gate).
    """
    q = list(quasi_cols)
    cells = df.groupBy(*q, sensitive_col).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    per_class = cells.groupBy(*q).agg(
        F.sum("__c__").cast("long").alias("class_size"),
        F.count(F.lit(1)).cast("long").alias("distinct_l"),
        F.collect_list("__c__").alias("__cs__"),
    )
    nn = F.col("class_size").cast("double")
    dec = f"decimal(28,{digits})"
    ent = F.aggregate(
        F.col("__cs__"),
        F.lit(0).cast(dec),
        lambda acc, c: (
            acc + F.round(-(c / nn) * F.log(c / nn), digits).cast(dec)
        ).cast(dec),
    ).cast("double")
    entropy_l = F.round(F.exp(ent), digits)
    return per_class.select(
        *q,
        "class_size",
        "distinct_l",
        entropy_l.alias("entropy_l"),
        (
            (F.col("distinct_l") >= F.lit(int(l)))
            & (entropy_l >= F.lit(float(l) - 1e-6))
        ).alias("ok"),
    )


def fd_check(
    df: DataFrame,
    dependencies: Sequence[tuple[str, str]],
    digits: int = 6,
) -> DataFrame:
    """Functional-dependency audit — does A determine B in the data
    (order -> customer, code -> description)? The schema-level
    integrity check next to ``fk_orphan_counts``' row-level one; a
    violated FD usually means a dirty merge or a mis-keyed load. One
    row per declared dependency:

        (determinant, dependent, n_keys, n_violating_keys,
         violation_rate, max_variants)

    A key "violates" A -> B when it maps to more than one distinct B
    (NULL counts as a value variant: a key with B in {x, NULL} is a
    real inconsistency).

    Scale shape: one (determinant, dependent-value) distinct-style
    aggregate per declared pair — each is a single map-side-combinable
    shuffle on the determinant; the per-pair summaries (1 row each)
    union into the report.
    """
    outs = []
    for det, dep in dependencies:
        per_key = (
            df.select(
                F.col(det).cast("string").alias("__k__"),
                F.coalesce(
                    F.col(dep).cast("string"), F.lit("\x00null")
                ).alias("__v__"),
            )
            .filter(F.col("__k__").isNotNull())
            .groupBy("__k__")
            .agg(F.count_distinct("__v__").alias("__nv__"))
        )
        outs.append(
            per_key.agg(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum((F.col("__nv__") > 1).cast("long"))
                .cast("long")
                .alias("n_violating_keys"),
                F.round(
                    F.sum((F.col("__nv__") > 1).cast("long")).cast("double")
                    / F.count(F.lit(1)),
                    digits,
                ).alias("violation_rate"),
                F.max("__nv__").cast("long").alias("max_variants"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def header_detail_check(
    headers: DataFrame,
    details: DataFrame,
    key_col: str,
    header_total_col: str,
    detail_amount,
    tolerance: float = 0.01,
    digits: int = 6,
) -> DataFrame:
    """Header/detail reconciliation — does each header's stated total
    match the sum of its detail lines (invoice vs line items, claim
    header vs service lines)? The row-level sibling of ``table_diff``
    (which compares two tables; this audits an invariant WITHIN one
    pair). One row per header:

        (key, header_total, detail_total, n_lines, abs_diff, balanced)

    ``detail_amount`` is a Column so callers express the line formula
    (e.g. price * (1 - discount)); sums are decimal-exact and
    headers with NO lines report detail_total 0 (not NULL — a missing
    detail set is exactly the discrepancy this finds).

    Scale shape: one detail-side groupBy on the key + one left join —
    both shuffle on the header key; the comparison is pure column
    arithmetic.
    """
    d = details.groupBy(F.col(key_col).alias("__k__")).agg(
        F.sum(detail_amount.cast("decimal(28,6)")).alias("__dt__"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    h = headers.select(
        F.col(key_col).alias("__k__"),
        F.col(header_total_col).cast("double").alias("header_total"),
    )
    dt = F.coalesce(F.col("__dt__").cast("double"), F.lit(0.0))
    diff = F.abs(F.round(F.col("header_total") - dt, digits))
    return h.join(d, on="__k__", how="left").select(
        F.col("__k__").alias(key_col),
        F.round("header_total", digits).alias("header_total"),
        F.round(dt, digits).alias("detail_total"),
        F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
        diff.alias("abs_diff"),
        (diff <= F.lit(float(tolerance))).alias("balanced"),
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    digits: int = 6,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) for
    an ORDERED sensitive attribute — the strictest rung of the
    k-anonymity / l-diversity ladder ``k_anonymity_report`` /
    ``l_diversity`` climb: an equivalence class can be k-anonymous and
    l-diverse yet still leak (all its salaries in the top decile).
    t is the Earth-Mover's Distance between the class's sensitive
    distribution P and the global distribution Q over the ordered
    value domain:

        t = (1/(v-1)) * sum_i |cumsum_i(P - Q)|

    with v the number of distinct sensitive values globally (the
    published normalization). Returns one row per equivalence class:
    (quasi..., class_size, t) — publish-gate by ``t <= threshold``.

    Scale shape: one groupBy to the (class x value) count grid and one
    to the bounded global value table; the grid is completed with a
    class-by-value cross join (the t-closeness cost model — grid size
    = classes x distinct values, NOT raw rows); the CDF walk is a
    window partitioned BY CLASS ordered by value (never a
    single-partition window), and per-class |diff| terms sum as
    round-12 decimals so t is partition-invariant.
    """
    q = list(quasi_cols)
    vals = F.col(sensitive_col)
    base = df.select(*q, vals.alias("__v__")).filter(F.col("__v__").isNotNull())
    # global distribution Q over the ordered domain (bounded table)
    gdist = base.groupBy("__v__").agg(F.count(F.lit(1)).alias("__gc__"))
    classes = base.groupBy(*q).agg(F.count(F.lit(1)).alias("__sz__"))
    cell = base.groupBy(*q, "__v__").agg(F.count(F.lit(1)).alias("__cc__"))
    # complete the grid so missing cells carry P = 0 (their Q mass
    # still moves the cumulative difference)
    grid = (
        classes.crossJoin(gdist)
        .join(cell, on=[*q, "__v__"], how="left")
        .select(
            *q,
            "__v__",
            "__sz__",
            "__gc__",
            F.coalesce(F.col("__cc__"), F.lit(0)).alias("__cc__"),
        )
    )
    n_tot = F.sum("__gc__").over(Window.partitionBy(*q))
    p = F.col("__cc__").cast("double") / F.col("__sz__").cast("double")
    qq = F.col("__gc__").cast("double") / n_tot.cast("double")
    diff = F.round(p - qq, 12)
    w = Window.partitionBy(*q).orderBy("__v__")
    walked = grid.select(
        *q,
        "__sz__",
        F.abs(F.sum(diff).over(w)).alias("__cum__"),
        F.count(F.lit(1)).over(Window.partitionBy(*q)).alias("__nv__"),
    )
    return (
        walked.groupBy(*q)
        .agg(
            F.max("__sz__").cast("long").alias("class_size"),
            F.sum(F.round(F.col("__cum__"), 12).cast("decimal(28,12)"))
            .alias("__s__"),
            F.max("__nv__").cast("long").alias("__v_n__"),
        )
        .select(
            *q,
            "class_size",
            (
                F.round(
                    F.when(
                        F.col("__v_n__") > 1,
                        F.col("__s__").cast("double")
                        / (F.col("__v_n__").cast("double") - 1.0),
                    ).otherwise(F.lit(0.0)),
                    digits,
                )
                + F.lit(0.0)
            ).alias("t"),
        )
    )


def fk_fanout_profile(
    facts: DataFrame,
    fk_col: str,
    digits: int = 6,
) -> DataFrame:
    """Join fan-out profile of a foreign key: the distribution of
    per-key row counts — THE pre-join diagnostic (``fk_orphans``
    answers "does every child have a parent?", this answers "how many
    children per parent?"): a p99 fan-out of 10^4 says the join output
    explodes and the hot keys need ``salted_join``; a flat profile
    says broadcast/bucketing wins.

    Returns ONE row: (n_keys, n_rows, min_fanout, p50, p90, p99,
    max_fanout, mean_fanout). Exact interpolated percentiles over the
    per-key count table (key-cardinality scale, not fact scale — the
    only fact-scale work is the first groupBy).
    """
    per_key = facts.groupBy(F.col(fk_col).alias("__k__")).agg(
        F.count(F.lit(1)).cast("long").alias("__c__")
    )
    c = F.col("__c__")
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(c).cast("long").alias("n_rows"),
        F.min(c).cast("long").alias("min_fanout"),
        F.round(F.percentile(c, F.lit(0.5)).cast("double"), digits).alias(
            "p50"
        ),
        F.round(F.percentile(c, F.lit(0.9)).cast("double"), digits).alias(
            "p90"
        ),
        F.round(F.percentile(c, F.lit(0.99)).cast("double"), digits).alias(
            "p99"
        ),
        F.max(c).cast("long").alias("max_fanout"),
    ).select(
        "n_keys",
        "n_rows",
        "min_fanout",
        (F.col("p50") + F.lit(0.0)).alias("p50"),
        (F.col("p90") + F.lit(0.0)).alias("p90"),
        (F.col("p99") + F.lit(0.0)).alias("p99"),
        "max_fanout",
        (
            F.round(
                F.col("n_rows").cast("double") / F.col("n_keys").cast("double"),
                digits,
            )
            + F.lit(0.0)
        ).alias("mean_fanout"),
    )
