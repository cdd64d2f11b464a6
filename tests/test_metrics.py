"""Metric aggregations: B3 goldens ported from the reference
tests/test_eval.py:7-38 (its b3 returns 3-decimal-rounded values — we
round for comparison), pairwise-PRF sanity, v-measure bounds, the
per-block macro F1 and facet-bucketed B3."""

import pytest


def _clusters_df(spark, clusters: dict):
    rows = [(str(i), str(c)) for c, ids in clusters.items() for i in ids]
    return spark.createDataFrame(rows, "doc_id string, cluster_id string")


@pytest.mark.parametrize(
    "gold,pred,want",
    [
        (
            {"dark": [1, 2, 3, 4, 5], "light": [6, 7, 9, 12, 13, 14],
             "line": [8], "purple": [10], "spotted": [11]},
            {"1": [1, 2, 3, 4], "2": [5, 6, 7], "3": [8, 9, 10, 11, 12, 13, 14]},
            (0.599, 0.695, 0.643),
        ),
        (
            {"dark": [1, 2, 3, 4, 5], "light": [6, 7, 9, 12, 13, 14],
             "line": [8], "purple": [10], "spotted": [11]},
            {"1": [1, 2, 3, 4], "2": [5], "3": [6, 7], "4": [8, 9, 10, 11, 12, 13, 14]},
            (0.694, 0.695, 0.695),
        ),
        (
            {"dark": [1, 2, 3, 4, 5], "light": [6, 7], "line1": [8, 9],
             "line2": [10, 11], "line3": [12, 13]},
            {"1": [1, 2, 3, 4, 5], "2": [6], "3": [7], "4": [8], "5": [9],
             "6": [10], "7": [11], "8": [12], "9": [13]},
            (1.0, 0.692, 0.818),
        ),
        (
            {"dark": [1, 2, 3, 4, 5], "light": [6, 7], "line1": [8, 9],
             "line2": [10, 11], "line3": [12, 13]},
            {"1": [1, 2, 3, 4], "2": [5], "3": [6, 7], "4": [8, 9],
             "5": [10, 11], "6": [12, 13]},
            (1.0, 0.877, 0.934),
        ),
    ],
)
def test_b3_goldens(spark, gold, pred, want):
    from ent_res_feedback_spark.operators.metrics import b3

    got = b3(_clusters_df(spark, pred), _clusters_df(spark, gold))
    assert round(got["precision"], 3) == pytest.approx(want[0], abs=5e-4)
    assert round(got["recall"], 3) == pytest.approx(want[1], abs=5e-4)
    assert round(got["f1"], 3) == pytest.approx(want[2], abs=5e-4)


def test_pairwise_prf(spark):
    from ent_res_feedback_spark.operators.metrics import pairwise_prf

    assignments = _clusters_df(spark, {"a": [1, 2, 3], "b": [4, 5]})
    labeled = spark.createDataFrame(
        [("1", "2", 1), ("1", "4", 0), ("2", "4", 1), ("4", "5", 1), ("3", "5", 0)],
        "doc_id_1 string, doc_id_2 string, label int",
    )
    got = pairwise_prf(labeled, assignments)
    # predicted same: (1,2) tp, (1,4) diff tn? label0 & diff -> tn;
    # (2,4) label1 but diff -> fn; (4,5) tp; (3,5) label0 diff -> tn
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (2, 0, 1, 2)
    assert got["precision"] == 1.0
    assert got["recall"] == pytest.approx(2 / 3)


def test_pairwise_cluster_prf_identical_is_one(spark):
    from ent_res_feedback_spark.operators.metrics import pairwise_cluster_prf

    pred = _clusters_df(spark, {"a": [1, 2], "b": [3]})
    got = pairwise_cluster_prf(pred, pred)
    assert {k: got[k] for k in ("precision", "recall", "f1")} == {
        "precision": 1.0, "recall": 1.0, "f1": 1.0,
    }


def test_pairwise_cluster_prf_values_and_single_job(spark):
    """One-agg form: identical values to a brute-force pair count, and
    exactly one Spark job (the grouping-sets roll-up collect)."""
    from itertools import combinations

    from ent_res_feedback_spark.operators.metrics import pairwise_cluster_prf

    pred_map = {"a": [1, 2, 3], "b": [4, 5], "c": [6]}
    gold_map = {"x": [1, 2], "y": [3, 4, 5], "z": [6]}
    pred = _clusters_df(spark, pred_map)
    gold = _clusters_df(spark, gold_map)

    def pair_set(m):
        s = set()
        for _, ids in m.items():
            for i in ids:
                s.add((i, i))  # self-pair (singleton correction)
            for i, j in combinations(sorted(ids), 2):
                s.add((i, j))
        return s
    ps, gs = pair_set(pred_map), pair_set(gold_map)
    want_p = len(ps & gs) / len(ps)
    want_r = len(ps & gs) / len(gs)

    # force the input join lineage to materialize cheaply first so the
    # job count below measures only the metric itself. AQE splits one
    # action into one job per materialized stage, so turn it off to make
    # "one action = one job" measurable.
    pred.count(), gold.count()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc = spark.sparkContext
    try:
        # count jobs in a DEDICATED job group: counting the default
        # group makes the assertion racy against stray jobs from other
        # tests sharing the session (observed order-dependent flake)
        sc.setLocalProperty("spark.jobGroup.id", "prf-single-job-test")
        got = pairwise_cluster_prf(pred, gold)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    tracker = sc.statusTracker()
    n_jobs = len(tracker.getJobIdsForGroup("prf-single-job-test") or [])

    assert got["precision"] == pytest.approx(want_p)
    assert got["recall"] == pytest.approx(want_r)
    f1 = 2 * want_p * want_r / (want_p + want_r)
    assert got["f1"] == pytest.approx(f1)
    assert n_jobs == 1, f"expected 1 job, saw {n_jobs}"


def test_v_measure_identity_and_bounds(spark):
    from ent_res_feedback_spark.operators.metrics import v_measure

    gold = _clusters_df(spark, {"a": [1, 2, 3], "b": [4, 5]})
    assert v_measure(gold, gold) == pytest.approx(1.0)
    pred = _clusters_df(spark, {"x": [1, 2, 3, 4, 5]})
    v = v_measure(pred, gold)
    assert 0.0 <= v < 1.0


def test_cmacro_and_facets(spark):
    from ent_res_feedback_spark.operators.metrics import cmacro_pairwise_f1, facet_eval

    gold = _clusters_df(spark, {"g1": [1, 2], "g2": [3], "g3": [4, 5]})
    pred = _clusters_df(spark, {"p1": [1, 2], "p2": [3], "p3": [4], "p4": [5]})
    blocks = spark.createDataFrame(
        [(str(i), "blk1" if i <= 3 else "blk2") for i in range(1, 6)],
        "doc_id string, block_key string",
    )
    m = cmacro_pairwise_f1(pred, gold, blocks)
    # blk1 is perfectly clustered; blk2 splits a gold pair
    assert m["precision"] == pytest.approx(1.0)
    assert 0.5 < m["recall"] < 1.0
    facets = blocks.withColumnRenamed("block_key", "grp")
    fe = {r["facet"]: r for r in facet_eval(pred, gold, facets, "grp").collect()}
    assert fe["blk1"]["f1"] == pytest.approx(1.0)
    assert fe["blk2"]["f1"] < 1.0
