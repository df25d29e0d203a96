"""Model training / evaluation / tuning / lifecycle (M3, M4, M6-M8).

Reference parity:
- DecisionTreeClassifier fit (include/featurise.py:116-118) — M3;
- BinaryClassificationEvaluator areaUnderROC
  (include/featurise.py:123-125) — M4;
- hyperparameter search: the reference drives hyperopt TPE sequentially
  on the driver (02-patient-trajectory.py:237-259); rebuilt with
  ``TrainValidationSplit`` over the same space {impurity, maxDepth,
  maxBins} — pure Spark, trials parallelizable via ``parallelism`` — M6;
- model lifecycle behind a storage interface (M7): Spark-native
  save/load always works; MLflow is an optional extra gated on import
  (03-work with ML models.py:110-137);
- batch scoring + demographic breakdown
  (03-work with ML models.py:110-121) — M8.
"""

from __future__ import annotations

import logging

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import bucketed_prefix_sums, range_buckets


def train_decision_tree(
    train_df: DataFrame,
    impurity: str = "gini",
    max_depth: int = 5,
    max_bins: int = 32,
    features_col: str = "features",
    label_col: str = "label",
    seed: int = 42,
):
    """M3 — DecisionTreeClassifier fit (include/featurise.py:116-118),
    seeded."""
    from pyspark.ml.classification import DecisionTreeClassifier

    dt = DecisionTreeClassifier(
        impurity=impurity, maxDepth=max_depth, maxBins=max_bins,
        featuresCol=features_col, labelCol=label_col, seed=seed,
    )
    return dt.fit(train_df)


def evaluate_auc(model, test_df: DataFrame, label_col: str = "label") -> float:
    """M4 — areaUnderROC on the scored test set
    (include/featurise.py:123-125)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    bce = BinaryClassificationEvaluator(labelCol=label_col)
    return float(bce.evaluate(model.transform(test_df)))


def tune_decision_tree(
    train_df: DataFrame,
    max_depths: Sequence[int] = (3, 5, 10),
    max_binses: Sequence[int] = (8, 16, 32, 64),
    impurities: Sequence[str] = ("gini", "entropy"),
    train_ratio: float = 0.75,
    parallelism: int = 2,
    features_col: str = "features",
    label_col: str = "label",
    seed: int = 42,
):
    """M6 — grid search over the reference's hyperopt space
    (02-patient-trajectory.py:238-243: max_depth, max_bins in
    {8,16,32,64}, impurity in {gini, entropy}) with
    ``TrainValidationSplit`` — Spark-native, seeded, trials run with
    ``parallelism`` concurrent fits (the reference runs sequentially,
    02-patient-trajectory.py:248). Returns the fitted TVS model
    (``.bestModel`` for the winner)."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    dt = DecisionTreeClassifier(featuresCol=features_col, labelCol=label_col, seed=seed)
    grid = (
        ParamGridBuilder()
        .addGrid(dt.maxDepth, list(max_depths))
        .addGrid(dt.maxBins, list(max_binses))
        .addGrid(dt.impurity, list(impurities))
        .build()
    )
    tvs = TrainValidationSplit(
        estimator=dt,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol=label_col),
        trainRatio=train_ratio,
        parallelism=parallelism,
        seed=seed,
    )
    return tvs.fit(train_df)


class ModelStore:
    """M7 — model lifecycle behind a storage-agnostic interface.

    The reference binds to the MLflow registry
    (03-work with ML models.py:110-137). Spark-native ``save``/``load``
    is the always-available backend; if mlflow is importable the same
    interface logs there too — optional, never required.
    """

    def __init__(self, base_path: str):
        self.base_path = base_path.rstrip("/")

    def _path(self, name: str, version: int) -> str:
        return f"{self.base_path}/{name}/v{version}"

    def save(self, model, name: str, version: int) -> str:
        path = self._path(name, version)
        model.write().overwrite().save(path)
        try:  # optional MLflow mirror (extra, not a dependency)
            import mlflow.spark  # noqa: F401

            mlflow.spark.log_model(model, name)
        except ImportError:
            pass  # mlflow absent: the Spark-native save above is canonical
        except Exception:
            # mlflow present but misconfigured — surface it, don't hide it
            logging.getLogger(__name__).warning(
                "MLflow mirror of model %r failed", name, exc_info=True
            )
        return path

    def load(self, model_cls, name: str, version: int):
        return model_cls.load(self._path(name, version))


def score_with_breakdown(
    model,
    df: DataFrame,
    demo_cols: Sequence[str],
    prediction_value: float | None = 1.0,
) -> DataFrame:
    """M8 — batch-score and group-count predictions by demographics
    (03-work with ML models.py:119-121). ``prediction_value`` filters to
    one class (the reference's ``prediction = 1``); None keeps the full
    per-class breakdown."""
    scored = model.transform(df)
    if prediction_value is not None:
        scored = scored.filter(F.col("prediction") == prediction_value)
    return (
        scored.groupBy(*demo_cols, "prediction")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def fit_linear_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    x_cols: Sequence[str],
    y_col: str,
    reg: float = 0.0,
) -> DataFrame:
    """Grouped model fitting — one closed-form ridge/OLS model per group
    via the normal equations, inside Arrow-batched ``applyInPandas``.

    The "many small models" pattern the reference's single global tree
    (include/featurise.py:116-118) can't express: per-entity /
    per-segment models where each group's data fits in one task. The
    distributed shape is one shuffle on the group key; each task solves
    a (k+1)x(k+1) system — at 100 TB with millions of groups this
    parallelizes perfectly, while a driver loop over groups would never
    finish. Returns (groups..., n, intercept, coefs array<double>, r2);
    groups with fewer rows than k+2 or a singular system yield null
    coefs. ``reg`` > 0 adds L2 (never on the intercept) for
    ill-conditioned groups.
    """
    import pandas as pd

    gcols = list(group_cols)
    xcols = list(x_cols)
    out_schema = (
        ", ".join(f"{c} string" for c in gcols)
        + ", n long, intercept double, coefs array<double>, r2 double"
    )

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        base = {c: [str(k)] for c, k in zip(gcols, key)}
        n = len(pdf)
        k = len(xcols)
        if n < k + 2:
            return pd.DataFrame({**base, "n": [n], "intercept": [None],
                                 "coefs": [None], "r2": [None]})
        X = np.column_stack([np.ones(n)] + [pdf[c].to_numpy(dtype=np.float64) for c in xcols])
        y = pdf[y_col].to_numpy(dtype=np.float64)
        A = X.T @ X
        if reg > 0.0:
            ridge = np.eye(k + 1) * reg
            ridge[0, 0] = 0.0  # never regularize the intercept
            A = A + ridge
        try:
            beta = np.linalg.solve(A, X.T @ y)
        except np.linalg.LinAlgError:
            return pd.DataFrame({**base, "n": [n], "intercept": [None],
                                 "coefs": [None], "r2": [None]})
        resid = y - X @ beta
        ss_tot = float(((y - y.mean()) ** 2).sum())
        r2 = 1.0 - float((resid ** 2).sum()) / ss_tot if ss_tot > 0 else None
        return pd.DataFrame({**base, "n": [n], "intercept": [float(beta[0])],
                             "coefs": [[float(b) for b in beta[1:]]], "r2": [r2]})

    proj = df.select(
        *[F.col(c).cast("string").alias(c) for c in gcols],
        *[F.col(c).cast("double").alias(c) for c in xcols],
        F.col(y_col).cast("double").alias(y_col),
    )
    return proj.groupBy(*gcols).applyInPandas(fit, schema=out_schema)


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    num_buckets: int = 64,
    digits: int = 6,
) -> DataFrame:
    """Exact ROC AUC as the Mann-Whitney U statistic with midranks —
    the SQL-expressible twin that certifies what
    ``BinaryClassificationEvaluator`` (M4) reports:

        AUC = (sum over positives of midrank(score) - P(P+1)/2) / (P*N)

    where midranks average over score ties (exactly how tied ROC
    thresholds behave). Returns ONE row (n_pos, n_neg, auc).

    Scale shape: one groupBy collapses the data to the distinct-score
    table (cnt, n_pos per score); the count of rows at or below each
    score is ``windows.bucketed_prefix_sums`` of ``cnt`` over score
    range tiles — so no data-sized set ever crosses a SinglePartition
    exchange even when scores are near-unique (the degenerate case for
    a naive Window.orderBy(score) rank).
    """
    y = F.col(label_col).cast("long")
    scores = df.groupBy(score_col).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(y).alias("pos")
    )
    ranked = bucketed_prefix_sums(
        range_buckets(scores, F.col(score_col), num_buckets),
        [score_col],
        {"__le__": F.col("cnt")},
    ).withColumn(
        # midrank of every row tied at this score, exact in halves:
        # 2 * midrank = 2 * below + cnt + 1 with below = __le__ - cnt
        "midrank2", 2 * F.col("__le__") - F.col("cnt") + 1
    )
    agg = ranked.agg(
        F.sum("pos").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos")).alias("n_neg"),
        F.sum(F.col("pos") * F.col("midrank2")).alias("r2"),  # 2 * rank-sum
    )
    p, n = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    auc = (F.col("r2").cast("double") / 2 - p * (p + 1) / 2) / (p * n)
    return agg.select(
        "n_pos",
        "n_neg",
        F.when((p > 0) & (n > 0), F.round(auc, digits)).alias("auc"),
    )


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Reliability diagram — AUC (ranking) says nothing about whether
    a 0.8 score MEANS 80%: bin predictions into equal-population score
    deciles and compare each bin's mean score to its observed positive
    rate. Returns (bin, n, mean_score, frac_pos), bins 0..n_bins-1.

    Same plan skeleton as ``ml.stats.population_stability``: one 1-row
    exact-percentile edge aggregate broadcast back, binning as a pure
    array expression, one n_bins-cardinality aggregation. Mean scores
    sum pre-rounded decimals (merge-order-exact); the positive rate is
    an exact integer ratio.
    """
    from pyspark.sql import functions as SF

    fracs = [i / n_bins for i in range(1, n_bins)]
    edges = df.agg(
        SF.transform(
            SF.percentile(
                SF.col(score_col).cast("double"),
                SF.array(*[SF.lit(f) for f in fracs]),
            ),
            lambda e: SF.round(e, digits),
        ).alias("__edges__")
    )
    x = SF.col(score_col).cast("double")
    b = SF.size(SF.filter(SF.col("__edges__"), lambda e: x > e))
    dec = f"decimal(28,{digits})"
    return (
        df.crossJoin(SF.broadcast(edges))
        .select(
            b.alias("bin"),
            SF.round(x, digits).cast(dec).alias("__s__"),
            SF.col(label_col).cast("long").alias("__y__"),
        )
        .groupBy("bin")
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.round(
                SF.sum("__s__").cast("double") / SF.count(SF.lit(1)), digits
            ).alias("mean_score"),
            SF.round(
                SF.sum("__y__").cast("double") / SF.count(SF.lit(1)), digits
            ).alias("frac_pos"),
        )
    )


def calibrate_isotonic(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    out_col: str = "calibrated",
):
    """Isotonic (PAV) probability calibration — the monotone
    recalibration step after ``calibration_curve`` DIAGNOSES
    miscalibration: fit the isotonic regression of the observed label
    on the raw score and emit the calibrated probability.

    Returns (calibrated DataFrame, fitted model); apply the model to
    any later scored batch with ``model.transform``. spark.ml's
    IsotonicRegression runs distributed pool-adjacent-violators
    (per-partition PAV + merge), exact and deterministic, so the
    result is the textbook PAV solution (unit-locked on a closed-form
    case). Rows-only certification by nature — PAV has no SQL twin.
    """
    from pyspark.ml.regression import IsotonicRegression

    ir = IsotonicRegression(
        featuresCol=score_col, labelCol=label_col, predictionCol=out_col
    )
    model = ir.fit(scored)
    return model.transform(scored), model


def brier_ece(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    digits: int = 6,
) -> DataFrame:
    """Brier score + expected calibration error in ONE read-out — the
    proper-scoring-rule summary (Brier = mean squared probability
    error) and the reliability-diagram scalar (ECE = population-
    weighted |observed rate - mean score| over the same
    equal-population deciles ``calibration_curve`` plots). ONE row:

        (n, brier, ece)

    Brier decomposes into calibration + refinement; tracking both
    catches a model that ranks well (AUC) but drifts in probability
    scale.

    Scale shape: the Brier term is one decimal-summed aggregate over
    the scan; ECE folds ``calibration_curve``'s n_bins-row output
    (same edge broadcast, same binning expression) with rounded
    decimal terms — two scans total, both map-side combinable.
    """
    from pyspark.sql import functions as SF

    s = SF.col(score_col).cast("double")
    y = SF.col(label_col).cast("double")
    brier = df.agg(
        SF.count(SF.lit(1)).cast("long").alias("n"),
        SF.round(
            SF.sum(
                SF.round((s - y) * (s - y), 9).cast("decimal(28,9)")
            ).cast("double")
            / SF.count(SF.lit(1)),
            digits,
        ).alias("brier"),
    )
    bins = calibration_curve(df, score_col, label_col, n_bins, digits)
    term = SF.round(
        SF.col("n").cast("double")
        * SF.abs(SF.col("frac_pos") - SF.col("mean_score")),
        9,
    ).cast("decimal(28,9)")
    ece = bins.agg(
        (
            SF.sum(term).cast("double")
            / SF.sum(SF.col("n")).cast("double")
        ).alias("__e__")
    ).select(SF.round(SF.col("__e__"), digits).alias("ece"))
    return brier.crossJoin(SF.broadcast(ece))
