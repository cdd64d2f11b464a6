"""M2 N-way voting goldens: the column expressions must reproduce the
reference VotingClassifier (model.py:879-981) as replayed with numpy,
including argmax's tie-toward-class-0."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.scoring import (
    vote_hard_col,
    vote_soft_col,
)

# per-row model probabilities for 3 models, incl. exact-tie rows
ROWS = [
    (0.9, 0.8, 0.7),
    (0.2, 0.3, 0.1),
    (0.6, 0.4, 0.6),   # hard: 2-1 for class 1
    (0.4, 0.6, 0.4),   # hard: 2-1 for class 0
    (0.5, 0.5, 0.5),   # predict=0 everywhere (p1 not > 0.5)
    (0.7, 0.3, 0.5),   # soft avg 0.5 -> tie -> class 0
    (1.0, 0.0, 0.6),
]
WEIGHTS = [2.0, 1.0, 1.0]


def _reference(voting, weights):
    """numpy replay of VotingClassifier.predict / predict_proba."""
    probas = np.array(ROWS)  # [n, n_models] = P(class 1) per model
    stack = np.stack([np.stack([1 - probas, probas], axis=-1)[:, m, :]
                      for m in range(probas.shape[1])])  # [models, n, 2]
    if voting == "soft":
        avg = np.average(stack, axis=0, weights=weights)
        return avg[:, 1], np.argmax(avg, axis=1)
    preds = (probas > 0.5).astype(int)  # sklearn predict per model
    labels = np.apply_along_axis(
        lambda x: np.argmax(np.bincount(x, weights=weights, minlength=2)),
        axis=1, arr=preds,
    )
    return None, labels


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        ROWS, "s1 double, s2 double, s3 double"
    ).withColumn("rid", F.monotonically_increasing_id())


def _cols():
    return [F.col("s1"), F.col("s2"), F.col("s3")]


@pytest.mark.parametrize("weights", [None, WEIGHTS])
def test_soft_voting_matches_reference(spark, df, weights):
    w = weights or [1.0, 1.0, 1.0]
    want_p, want_y = _reference("soft", w)
    got = df.select(
        vote_soft_col(_cols(), weights).alias("p"),
        (vote_soft_col(_cols(), weights) > 0.5).cast("int").alias("y"),
    ).collect()
    for row, wp, wy in zip(got, want_p, want_y):
        assert row["p"] == pytest.approx(float(wp))
        assert row["y"] == int(wy)


@pytest.mark.parametrize("weights", [None, WEIGHTS])
def test_hard_voting_matches_reference(spark, df, weights):
    w = weights or [1.0, 1.0, 1.0]
    _, want_y = _reference("hard", w)
    got = df.select(vote_hard_col(_cols(), weights).alias("y")).collect()
    assert [r["y"] for r in got] == [int(y) for y in want_y]


def test_weight_length_mismatch_raises():
    with pytest.raises(ValueError):
        vote_soft_col([F.lit(0.5)], [1.0, 2.0])
    with pytest.raises(ValueError):
        vote_hard_col([F.lit(0.5)], [1.0, 2.0])
