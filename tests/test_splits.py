"""KMeans-stratified train/val/test splits (reference
split_cluster_signatures, s2and/data.py:977-1040; split_blocks_helper
data.py:908-953): stratum assignment, exact per-stratum proportions,
and determinism."""

from ent_res_feedback_spark.operators.splits import (
    kmeans_strata_1d,
    split_blocks,
)


def _mentions(spark, sizes):
    """One block per entry of ``sizes``: block b<i> holds sizes[i] docs."""
    rows = [
        (f"d{i}_{j}", f"block{i:03d}")
        for i, n in enumerate(sizes)
        for j in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id string, block_key string")


def test_kmeans_strata_1d_separates_scales():
    # three obvious size regimes: 1-2, ~50, ~1000
    hist = [(1, 100), (2, 80), (50, 10), (55, 8), (1000, 2), (1100, 1)]
    strata = kmeans_strata_1d(hist, k=3)
    assert strata[1] == strata[2]
    assert strata[50] == strata[55]
    assert strata[1000] == strata[1100]
    assert len({strata[1], strata[50], strata[1000]}) == 3
    # deterministic
    assert strata == kmeans_strata_1d(hist, k=3)


def test_kmeans_strata_1d_degenerate():
    assert kmeans_strata_1d([], k=3) == {}
    assert kmeans_strata_1d([(5, 10)], k=3) == {5: 0}
    one = kmeans_strata_1d([(1, 5), (9, 5)], k=1)
    assert set(one.values()) == {0}


def test_split_blocks_exact_counts_and_determinism(spark):
    sizes = [1] * 40 + [2] * 30 + [10] * 20 + [100] * 10
    m = _mentions(spark, sizes)
    out = split_blocks(m, k=3, seed=1111).cache()
    rows = out.collect()
    assert len(rows) == len(sizes)  # one row per block, full cover
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # per-stratum exact thresholds: floor(n*0.8+0.5) / floor(n*0.9+0.5)
    import collections
    import math

    per = collections.defaultdict(collections.Counter)
    for r in rows:
        per[r["stratum"]][r["split"]] += 1
    for stratum, cnt in per.items():
        n = sum(cnt.values())
        t1 = math.floor(n * 0.8 + 0.5)
        t2 = math.floor(n * 0.9 + 0.5)
        assert cnt["train"] == t1, (stratum, dict(cnt))
        assert cnt["val"] == t2 - t1, (stratum, dict(cnt))
        assert cnt["test"] == n - t2, (stratum, dict(cnt))
    # seed-stable
    again = sorted(map(tuple, split_blocks(m, k=3, seed=1111).collect()))
    assert sorted(map(tuple, rows)) == again
    # a different seed moves blocks between splits (same counts)
    other = split_blocks(m, k=3, seed=2222).collect()
    moved = {
        (r["block_key"], r["split"]) for r in rows
    } ^ {(r["block_key"], r["split"]) for r in other}
    assert moved, "different seeds should shuffle membership"
    out.unpersist()


def test_split_blocks_strata_group_similar_sizes(spark):
    sizes = [1] * 40 + [100] * 10
    out = split_blocks(_mentions(spark, sizes), k=2, seed=7).collect()
    by_size = {}
    for r in out:
        by_size.setdefault(r["block_size"], set()).add(r["stratum"])
    assert by_size[1] != by_size[100]
    assert len(by_size[1]) == 1 and len(by_size[100]) == 1
