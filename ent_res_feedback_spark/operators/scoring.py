"""Pairwise match scoring (SURVEY.md §2.7).

The reference trains LightGBM driver-side and serves it per-batch
(model.py:744-876); the rebuild's north-star score is a logistic fusion
of the name/affiliation features. Training happens driver-side on a
collected labeled sample (numpy gradient descent — training sets are
small by design); inference is a pure column expression (JVM-side,
whole-stage codegen) with the weights inlined as literals — the Spark
analog of broadcasting a fitted model.

Distance semantics: distance = 1 - match_probability
(reference model.py:283-284); deterministic constraints override via
``coalesce(constraint_dist, 1 - score)`` (model.py:297-298).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.expr import once_per_context
from ent_res_feedback_spark.oracle import DEFAULT_WEIGHTS
from ent_res_feedback_spark.operators.features import FEATURE_COLS


def logistic_score_col(weights: dict | None = None) -> Column:
    """score = sigmoid(bias + sum_i w_i * f_i) as a column expression,
    built once per SparkContext and weight vector."""
    w = weights or DEFAULT_WEIGHTS
    return _logistic_score(
        float(w["bias"]), tuple((c, float(w[c])) for c in FEATURE_COLS)
    )


@once_per_context
def _logistic_score(bias: float, terms: tuple) -> Column:
    z = F.lit(bias)
    for c, wc in terms:
        z = z + F.lit(wc) * F.col(c)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_pairs(features_df: DataFrame, weights: dict | None = None) -> DataFrame:
    return features_df.withColumn("score", logistic_score_col(weights))


def fit_logistic(X: np.ndarray, y: np.ndarray, feature_cols=None) -> dict:
    """Driver-side logistic regression (batch gradient descent, numpy:
    400 steps of rate 0.5, L2 1e-3, seeded start).

    Used by the feedback loop to re-weight scoring from labeled pairs
    (SURVEY.md FB3: 'fold labels in, reweight logistic, re-cluster').
    Returns a weights dict in ``logistic_score_col`` format.
    """
    cols = list(feature_cols or FEATURE_COLS)
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    assert d == len(cols)
    rng = np.random.default_rng(42)
    w = rng.normal(0, 0.01, d)
    b = 0.0
    for _ in range(400):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        g = p - y
        gw = X.T @ g / n + 1e-3 * w
        gb = g.mean()
        w -= 0.5 * gw
        b -= 0.5 * gb
    out = {c: float(wi) for c, wi in zip(cols, w)}
    out["bias"] = float(b)
    return out


def collect_training_sample(
    features_df: DataFrame,
    label_col: str,
    feature_cols=None,
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded sample of at most ~100k labeled pairs -> numpy (X, y) on
    the driver. Mirrors the reference's 100k-pair training scale
    (preprocess_s2and_data.py:34-39)."""
    cols = list(feature_cols or FEATURE_COLS)
    labeled = features_df.where(F.col(label_col).isNotNull())
    n = labeled.count()
    frac = min(1.0, 100_000 / max(n, 1))
    pdf = (
        labeled.sample(fraction=frac, seed=42)
        .select(*cols, label_col)
        .toPandas()
    )
    X = pdf[cols].to_numpy(dtype=float)
    y = pdf[label_col].to_numpy(dtype=float)
    return X, y


# ---------------------------------------------------------------------------
# M2 — general N-way voting (reference VotingClassifier, model.py:879-981)
# ---------------------------------------------------------------------------

def vote_soft_col(score_cols: list[Column], weights: list[float] | None = None) -> Column:
    """Soft-voting P(match): the weighted average of the per-model match
    probabilities (reference predict_proba, model.py:936-952:
    np.average(probas, axis=0, weights=weights)). The soft class label
    is ``vote_soft_col(...) > 0.5``: np.argmax breaks the exact tie
    toward class 0 (model.py:919-920)."""
    if weights is None:
        weights = [1.0] * len(score_cols)
    if len(weights) != len(score_cols):
        raise ValueError("weights must match score_cols length")
    total = float(sum(weights))
    num = None
    for s, w in zip(score_cols, weights):
        term = F.lit(float(w)) * s
        num = term if num is None else num + term
    return num / F.lit(total)


def vote_hard_col(
    score_cols: list[Column], weights: list[float] | None = None
) -> Column:
    """Hard-voting class label: each model votes its thresholded label
    (sklearn predict = 1 iff P(1) > 0.5), argmax of the weighted vote
    bincount (model.py:921-926). np.argmax ties toward class 0, so the
    label is 1 iff the weighted vote mass for 1 strictly exceeds that
    for 0."""
    if weights is None:
        weights = [1.0] * len(score_cols)
    if len(weights) != len(score_cols):
        raise ValueError("weights must match score_cols length")
    w1 = None
    for s, w in zip(score_cols, weights):
        term = F.when(s > 0.5, F.lit(float(w))).otherwise(F.lit(0.0))
        w1 = term if w1 is None else w1 + term
    total = F.lit(float(sum(weights)))
    return (w1 > total - w1).cast("int")

