"""Units for the r8 batch-9 operators: Theil-Sen slope and the A/B
test read-out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_data_lake_spark.ml.stats import ab_test
from clinical_data_lake_spark.operators.timeseries import theil_sen


def test_theil_sen_ignores_outlier_ols_would_chase(spark):
    # y = 2x except one wild point; median slope stays 2
    rows = [("s", float(x), 2.0 * x) for x in range(10)] + [("s", 10.0, 500.0)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    r = theil_sen(df, "k", "x", "y").collect()[0]
    assert r.slope == pytest.approx(2.0, abs=1e-6)
    assert r.n == 11


def test_theil_sen_degenerate_and_guard(spark):
    # constant x -> no pairs -> NULL slope
    const = spark.createDataFrame(
        [("c", 1.0, float(v)) for v in range(5)], "k string, x double, y double"
    )
    r = theil_sen(const, "k", "x", "y").collect()[0]
    assert r.slope is None and r.intercept is None
    # loud quadratic guard — now IN-PLAN: the call itself launches no
    # jobs (single-scan contract); the error fires at action time from
    # the same job that would run the pair join
    big = spark.range(50).select(
        F.lit("k").alias("k"), F.col("id").cast("double").alias("x"),
        F.col("id").cast("double").alias("y"),
    )
    spark.sparkContext.setJobGroup("theil_sen_guard_probe", "plan-lock")
    try:
        guarded = theil_sen(big, "k", "x", "y", max_points=10)
        tracker = spark.sparkContext.statusTracker()
        assert tracker.getJobIdsForGroup("theil_sen_guard_probe") == [], (
            "theil_sen ran an eager pre-flight job at call time"
        )
    finally:
        spark.sparkContext.setJobGroup("", "")
    with pytest.raises(Exception, match="quadratic"):
        guarded.collect()
    # mixed corpus: oversized key trips, even though small keys exist
    mixed = big.union(
        spark.createDataFrame(
            [("ok", 1.0, 1.0), ("ok", 2.0, 3.0)], "k string, x double, y double"
        )
    )
    with pytest.raises(Exception, match="offending key: k"):
        theil_sen(mixed, "k", "x", "y", max_points=10).collect()


def test_ab_test_closed_form(spark):
    # arm a: 100 users, 20 convert; arm b: 100 users, 30 convert
    rows = [("a", 1)] * 20 + [("a", 0)] * 80 + [("b", 1)] * 30 + [("b", 0)] * 70
    df = spark.createDataFrame(rows, "arm string, converted int")
    r = ab_test(df, "arm", "converted").collect()[0]
    assert (r.arm_a, r.arm_b, r.n_a, r.n_b) == ("a", "b", 100, 100)
    assert r.conv_a == 0.2 and r.conv_b == 0.3 and r.lift == pytest.approx(0.1)
    # pooled p=0.25, se=sqrt(.25*.75*.02), z = .1/se
    import math
    se = math.sqrt(0.25 * 0.75 * 0.02)
    assert r.z == pytest.approx(0.1 / se, abs=1e-4)
    assert r.wilson_lo_a < 0.2 < r.wilson_hi_a
    assert r.wilson_lo_b < 0.3 < r.wilson_hi_b
    with pytest.raises(ValueError, match=">= 3"):
        ab_test(
            spark.createDataFrame([("a", 1), ("b", 0), ("c", 1)],
                                  "arm string, converted int"),
            "arm", "converted",
        )


@pytest.mark.parametrize("name", ["theil_sen", "mann_kendall", "kendall_tau"])
def test_pair_join_floor_shuffles_its_input_once(spark, name):
    """Only the pair-join input is floored, so the executed plan runs
    at most one RoundRobin shuffle (its second leg reuses it); the
    floor on the whole series table ran one per consumer."""
    import re

    from conftest import SF_ORACLE

    from clinical_data_lake_spark.driver_queries import QUERIES

    df = QUERIES[name](spark, SF_ORACLE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    rr = re.findall(r"^[\s:+\-*()\d]*Exchange RoundRobinPartitioning", final, re.M)
    assert len(rr) <= 1, final
