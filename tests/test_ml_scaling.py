"""Units for z-score standardization and the PSI drift monitor."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from clinical_data_lake_spark.ml.featurize import standardize
from clinical_data_lake_spark.ml.stats import population_stability


def test_standardize_closed_form(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 10.0)],
        ["grp", "x"],
    )
    out = {(r.grp, r.x): r.x_z for r in standardize(df, ["x"], keys=["grp"]).collect()}
    # group a: mean 2, sd 1 -> z = -1, 0, 1
    assert out[("a", 1.0)] == -1.0
    assert out[("a", 2.0)] == 0.0
    assert out[("a", 3.0)] == 1.0
    # zero-variance group: NULL, not a crash
    assert out[("b", 10.0)] is None


def test_standardize_global_mean_zero_sd_one(spark):
    df = spark.range(1000).select((F.col("id") % 37).cast("double").alias("x"))
    out = standardize(df, ["x"])
    stats = out.agg(
        F.round(F.avg("x_z"), 4).alias("m"), F.round(F.stddev_samp("x_z"), 3).alias("s")
    ).head()
    assert stats.m == pytest.approx(0.0, abs=1e-3)
    assert stats.s == pytest.approx(1.0, abs=1e-2)


def test_psi_identical_distributions_near_zero(spark):
    df = spark.range(2000).select((F.col("id") % 100).cast("double").alias("v"))
    out = population_stability(df, df, "v", n_bins=10)
    psi = out.agg(F.sum("psi_term").alias("s")).head().s
    assert abs(psi) < 0.01
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.n_base == r.n_cur for r in rows)


def test_psi_detects_shift(spark):
    base = spark.range(2000).select((F.col("id") % 100).cast("double").alias("v"))
    cur = spark.range(2000).select(
        ((F.col("id") % 100) + 50).cast("double").alias("v")
    )
    psi = (
        population_stability(base, cur, "v", n_bins=10)
        .agg(F.sum("psi_term").alias("s"))
        .head()
        .s
    )
    assert psi > 0.25  # a +50% location shift is unambiguous drift


def test_psi_empty_bins_are_smoothed(spark):
    base = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    cur = spark.range(100).select(F.lit(1000.0).alias("v"))  # all past the top edge
    rows = population_stability(base, cur, "v", n_bins=5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.psi_term is not None and math.isfinite(r.psi_term)
    assert sum(r.n_cur for r in rows) == 100
    assert max(r.bin for r in rows if r.n_cur > 0) == 4


def _ref_auc(pairs):
    """Reference midrank AUC."""
    pos = sorted(s for s, y in pairs if y == 1)
    neg = sorted(s for s, y in pairs if y == 0)
    wins = ties = 0
    for p in pos:
        for n in neg:
            if p > n:
                wins += 1
            elif p == n:
                ties += 1
    return (wins + 0.5 * ties) / (len(pos) * len(neg))


def test_auc_exact_closed_forms(spark):
    from clinical_data_lake_spark.ml.train import auc_exact

    # perfect separation
    perfect = [(float(i), 1 if i >= 50 else 0) for i in range(100)]
    df = spark.createDataFrame(perfect, ["s", "y"])
    assert auc_exact(df, "s", "y").head().auc == 1.0

    # anti-separation
    assert auc_exact(
        spark.createDataFrame([(s, 1 - y) for s, y in perfect], ["s", "y"]), "s", "y"
    ).head().auc == 0.0

    # heavy ties: every score carries equal positives and negatives -> 0.5
    tied = [(float((i // 2) % 10), i % 2) for i in range(200)]
    assert auc_exact(
        spark.createDataFrame(tied, ["s", "y"]), "s", "y"
    ).head().auc == pytest.approx(0.5, abs=1e-6)


def test_auc_exact_matches_reference_and_mllib(spark):
    import random

    from pyspark.sql import functions as SF

    from clinical_data_lake_spark.ml.train import auc_exact

    rng = random.Random(11)
    pairs = [
        (round(rng.gauss(1.0 if rng.random() < 0.4 else 0.0, 1.0), 2),)
        for _ in range(400)
    ]
    # label correlated with score sign-ish: rebuild deterministically
    pairs = [
        (round(rng.gauss(0.8, 1.0), 2), 1) if i % 3 == 0
        else (round(rng.gauss(0.0, 1.0), 2), 0)
        for i in range(400)
    ]
    df = spark.createDataFrame(pairs, ["s", "y"])
    got = auc_exact(df, "s", "y").head()
    assert got.n_pos + got.n_neg == 400
    assert got.auc == pytest.approx(_ref_auc(pairs), abs=1e-6)

    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    bce = BinaryClassificationEvaluator(
        rawPredictionCol="s", labelCol="y", metricName="areaUnderROC"
    )
    mllib_auc = bce.evaluate(df.select(SF.col("s").cast("double"), SF.col("y").cast("double")))
    assert got.auc == pytest.approx(mllib_auc, abs=1e-3)


def test_auc_exact_degenerate_single_class(spark):
    from clinical_data_lake_spark.ml.train import auc_exact

    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], ["s", "y"])
    assert auc_exact(df, "s", "y").head().auc is None


def test_chisq_rc_matches_reference(spark):
    from clinical_data_lake_spark.ml.stats import chisq_rc

    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 15 + [("b", "y")] * 25
        + [("c", "x")] * 5 + [("c", "y")] * 15
    )
    df = spark.createDataFrame(rows, ["u", "v"])
    r = chisq_rc(df, "u", "v").head()
    # independent reference
    from collections import Counter

    obs = Counter(rows)
    ra = Counter(u for u, _ in rows)
    cb = Counter(v for _, v in rows)
    n = len(rows)
    chi2 = sum(
        (obs.get((u, v), 0) - ra[u] * cb[v] / n) ** 2 / (ra[u] * cb[v] / n)
        for u in ra for v in cb
    )
    assert r.n == 100 and r.r == 3 and r.c == 2 and r.dof == 2
    assert r.chi2 == pytest.approx(chi2, abs=1e-4)


def test_chisq_rc_2x2_agrees_with_closed_form(spark):
    """The r x c generalization must reproduce chisq_2x2 (yates=False)
    on a 2x2 table."""
    from clinical_data_lake_spark.ml.stats import chisq_2x2, chisq_rc

    ents = spark.createDataFrame([(i,) for i in range(100)], ["eid"])
    a_ids = spark.createDataFrame([(i,) for i in range(40)], ["eid"])
    b_ids = spark.createDataFrame([(i,) for i in range(20, 70)], ["eid"])
    want = chisq_2x2(ents, "eid", a_ids, b_ids).head().chi2
    flags = spark.createDataFrame(
        [(1 if i < 40 else 0, 1 if 20 <= i < 70 else 0) for i in range(100)],
        ["fa", "fb"],
    )
    got = chisq_rc(flags, "fa", "fb").head()
    assert got.dof == 1
    assert got.chi2 == pytest.approx(want, abs=1e-4)


def test_chisq_rc_independent_is_small(spark):
    from pyspark.sql import functions as F

    from clinical_data_lake_spark.ml.stats import chisq_rc

    df = spark.range(7000).select(
        (F.col("id") % 7).alias("u"), (F.col("id") % 5).alias("v")
    )
    r = chisq_rc(df, "u", "v").head()  # perfectly uniform grid
    assert r.chi2 == pytest.approx(0.0, abs=1e-3)


def test_calibration_curve_on_calibrated_scores(spark):
    """Scores constructed so that P(label=1 | score=s) == s exactly in
    each bin: every bin's frac_pos must track its mean_score."""
    from clinical_data_lake_spark.ml.train import calibration_curve

    rows = []
    for pct in range(5, 100, 10):          # scores 0.05, 0.15, ... 0.95
        s = pct / 100
        for i in range(100):
            rows.append((s, 1 if i < pct else 0))
    df = spark.createDataFrame(rows, ["score", "label"])
    out = sorted(calibration_curve(df, "score", "label", n_bins=10).collect())
    assert len(out) == 10
    for r in out:
        assert r.frac_pos == pytest.approx(r.mean_score, abs=1e-6)
    assert [r.n for r in out] == [100] * 10


def test_seasonal_profile_closed_form(spark):
    import datetime as dt

    from clinical_data_lake_spark.operators.timeseries import seasonal_profile

    mon = dt.datetime(2024, 1, 1)          # Monday
    rows = [(mon, 10.0), (mon, 20.0), (mon + dt.timedelta(days=1), 40.0)]
    df = spark.createDataFrame(rows, ["ts", "value"])
    out = {r.slot: r for r in seasonal_profile(df).collect()}
    assert out[0].n == 2 and out[0].avg_value == 15.0
    assert out[1].n == 1 and out[1].avg_value == 40.0
    overall = 70.0 / 3
    assert out[0].seasonal_index == pytest.approx(round(15.0 / overall, 6))
    assert out[1].seasonal_index == pytest.approx(round(40.0 / overall, 6))


def test_gini_closed_forms(spark):
    from clinical_data_lake_spark.operators.aggregates import gini_concentration

    # perfectly even -> 0
    even = spark.createDataFrame([(i, 10.0) for i in range(50)], ["id", "x"])
    assert gini_concentration(even, "x", "id").head().gini == 0.0

    # one entity holds everything -> (n-1)/n
    solo = spark.createDataFrame(
        [(0, 100.0)] + [(i, 0.0) for i in range(1, 10)], ["id", "x"]
    )
    r = gini_concentration(solo, "x", "id").head()
    assert r.gini == pytest.approx(9 / 10, abs=1e-6)

    # textbook example: x = [1,2,3,4] -> G = 0.25
    tb = spark.createDataFrame([(i, float(i)) for i in (1, 2, 3, 4)], ["id", "x"])
    assert gini_concentration(tb, "x", "id").head().gini == pytest.approx(0.25, abs=1e-6)


def test_gini_tie_order_invariant(spark):
    """Heavy ties under different partitionings: the statistic cannot
    depend on the arbitrary order among equal values."""
    from clinical_data_lake_spark.operators.aggregates import gini_concentration

    rows = [(i, float(i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "x"])
    g1 = gini_concentration(df, "x", "id").head().gini
    g2 = gini_concentration(df.repartition(13), "x", "id").head().gini
    want_sorted = sorted(x for _, x in rows)
    n, t = len(rows), sum(want_sorted)
    ref = 2 * sum((i + 1) * x for i, x in enumerate(want_sorted)) / (n * t) - (n + 1) / n
    assert g1 == g2 == pytest.approx(ref, abs=1e-6)


def test_gini_and_lorenz_ignore_null_values(spark):
    """NULL values drop before ranking, as SQL aggregates ignore them;
    unfiltered they landed in the last range tile and counted in n."""
    from clinical_data_lake_spark.operators.aggregates import (
        gini_concentration,
        lorenz_curve,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, None), (5, None)], "id int, x double"
    )
    r = gini_concentration(df, "x", "id").head()
    assert r.n == 3 and r.total == 6.0
    assert r.gini == pytest.approx(0.222222, abs=1e-9)
    pts = lorenz_curve(df, "x", "id", n_points=3).orderBy("point").collect()
    assert [p.n_entities for p in pts] == [3, 3, 3]
    assert [p.cum_value for p in pts] == [1.0, 3.0, 6.0]


def test_quantile_normalize_closed_form_and_plan(spark):
    from clinical_data_lake_spark.ml.featurize import quantile_normalize

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0), (5, 40.0)], ["id", "v"]
    )
    out = {r.id: r.pct for r in quantile_normalize(df, "v").collect()}
    # percent_rank: (min_rank-1)/(n-1); ties share the min rank
    assert out[1] == 0.0
    assert out[2] == out[3] == 0.25
    assert out[4] == 0.75
    assert out[5] == 1.0

    # plan: no row-scale SinglePartition window — the only global
    # pieces are the bounded bucket/total tables
    big = spark.range(20000).select(
        F.col("id").alias("rid"), (F.col("id") % 977).cast("double").alias("v")
    )
    plan = quantile_normalize(big, "v")._jdf.queryExecution().executedPlan().toString()
    assert "percent_rank" not in plan
    assert plan.count("Window [") <= 2  # offsets prefix + in-bucket below


def test_quantile_normalize_single_value(spark):
    from clinical_data_lake_spark.ml.featurize import quantile_normalize

    df = spark.createDataFrame([(1, 7.0), (2, 7.0)], ["id", "v"])
    out = quantile_normalize(df, "v").collect()
    assert all(r.pct == 0.0 for r in out)  # n distinct=1 -> everyone at 0


# ----------------------------------------------------- robust_scale

def test_robust_scale_closed_form(spark):
    from clinical_data_lake_spark.ml.featurize import robust_scale

    # group g: values 0..4 -> median 2, q1 1, q3 3, iqr 2
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(5)] + [("h", 9.0), ("h", 9.0)],
        ["grp", "x"],
    )
    out = {(r.grp, r.x): r.x_r for r in robust_scale(df, ["x"], keys=["grp"]).collect()}
    assert out[("g", 0.0)] == -1.0
    assert out[("g", 2.0)] == 0.0
    assert out[("g", 4.0)] == 1.0
    # zero IQR -> NULL, not a crash
    assert out[("h", 9.0)] is None


def test_robust_scale_global_and_outlier_resistance(spark):
    from clinical_data_lake_spark.ml.featurize import robust_scale

    vals = [float(v) for v in range(1, 100)] + [1e9]  # one wild outlier
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    out = {r.x: r.x_r for r in robust_scale(df, ["x"]).collect()}
    # median 50.5, iqr ~49.5: the bulk stays in a tight range
    assert abs(out[50.0]) < 0.05
    assert abs(out[99.0]) < 1.1  # outlier does not inflate the scale


# ----------------------------------------------------- target_encode

def test_target_encode_shrinks_rare_levels(spark):
    from clinical_data_lake_spark.ml.featurize import target_encode

    rows = [("a", 1.0)] * 100 + [("b", 0.0)] * 100 + [("rare", 1.0)]
    df = spark.createDataFrame(rows, ["cat", "y"])
    out = {r.cat: r.cat_enc for r in target_encode(df, "cat", "y", smoothing=10.0)
           .select("cat", "cat_enc").distinct().collect()}
    gm = (100 + 1) / 201  # ~0.5025
    # big levels sit near their own mean; the 1-row level shrinks to the prior
    assert abs(out["a"] - (100 + 10 * gm) / 110) < 1e-6
    assert abs(out["b"] - (0 + 10 * gm) / 110) < 1e-6
    assert abs(out["rare"] - (1 + 10 * gm) / 11) < 1e-6


def test_target_encode_null_category_is_its_own_level(spark):
    from clinical_data_lake_spark.ml.featurize import target_encode
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(cat=None, y=1.0), Row(cat=None, y=1.0), Row(cat="a", y=0.0)]
    )
    out = target_encode(df, "cat", "y", smoothing=0.0).collect()
    by_cat = {r.cat: r.cat_enc for r in out}
    assert by_cat[None] == 1.0 and by_cat["a"] == 0.0
    assert len(out) == 3  # no rows dropped by the NULL key


def test_impute_group_median_closed_form(spark):
    from pyspark.sql import Row

    from clinical_data_lake_spark.ml.featurize import impute_group_median

    df = spark.createDataFrame(
        [Row(g="a", x=1.0), Row(g="a", x=3.0), Row(g="a", x=None),
         Row(g="b", x=None), Row(g="b", x=None)]
    )
    out = impute_group_median(df, ["x"], keys=["g"]).collect()
    a = sorted((r.x, r.x_imputed) for r in out if r.g == "a")
    assert a == [(1.0, False), (2.0, True), (3.0, False)]  # median 2 fills
    # all-NULL group: stays NULL, flag true, no crash
    b = [(r.x, r.x_imputed) for r in out if r.g == "b"]
    assert all(x is None and f for x, f in b)


def test_iqr_filter_drops_planted_outlier(spark):
    from clinical_data_lake_spark.ml.featurize import iqr_filter

    vals = [float(v) for v in range(1, 101)] + [1e6]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    kept = [r.x for r in iqr_filter(df, "x").collect()]
    assert 1e6 not in kept
    assert len(kept) == 100  # the uniform bulk survives
