"""A5 (AUROC/AP).

Goldens are computed independently in-test: a pure-Python replica of
sklearn's roc_auc_score / average_precision_score (pairwise counting +
step integral on ~10 rows)."""

import numpy as np
import pytest

from ent_res_feedback_spark.operators.metrics import auroc_ap


def _roc_auc_py(y, s):
    pos = [si for yi, si in zip(y, s) if yi == 1]
    neg = [si for yi, si in zip(y, s) if yi == 0]
    u = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
    return u / (len(pos) * len(neg))


def _ap_py(y, s):
    order = sorted(range(len(s)), key=lambda i: -s[i])
    thresholds = sorted(set(s), reverse=True)
    P = sum(y)
    ap, prev_r = 0.0, 0.0
    for t in thresholds:
        tp = sum(1 for i in order if s[i] >= t and y[i] == 1)
        fp = sum(1 for i in order if s[i] >= t and y[i] == 0)
        r = tp / P
        ap += (r - prev_r) * (tp / (tp + fp))
        prev_r = r
    return ap


@pytest.mark.parametrize("seed", [1, 2])
def test_auroc_ap_match_reference_impl(spark, seed):
    rng = np.random.default_rng(seed)
    y = [int(v) for v in rng.integers(0, 2, 12)]
    if sum(y) in (0, 12):
        y[0] = 1 - y[0]
    # include ties to exercise the tie-correction
    s = [round(float(v), 1) for v in rng.uniform(0, 1, 12)]
    df = spark.createDataFrame(
        list(zip(y, s)), "label int, score double"
    )
    got = auroc_ap(df)
    assert got["auroc"] == pytest.approx(_roc_auc_py(y, s))
    assert got["average_precision"] == pytest.approx(_ap_py(y, s))
