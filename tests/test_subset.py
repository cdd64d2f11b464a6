"""Mini-corpus subsetter (operators/subset.py) vs a pure-Python replay of
the reference script's semantics (scripts/make_s2and_mini_dataset.py:84-105):

    vc = Counter(blocks)
    blocks_to_keep = set([k for k, v in sorted(vc.items())
                          if v <= BIG_BLOCK_CUTOFF][:TOP_BLOCKS_TO_KEEP])
    ...clusters kept iff ALL members in kept blocks...
    ...signatures re-derived from kept clusters...
"""

import collections

from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.subset import kept_blocks, mini_corpus

# (doc_id, block, cluster) — block 'c' is over-cutoff, cluster 30
# straddles a dropped block, cluster 40's doc re-enters via containment
ROWS = [
    (1, "a", 10),
    (2, "a", 10),
    (3, "b", 20),
    (4, "b", 20),
    (5, "c", 30),   # block c has 3 docs -> dropped at cutoff 2
    (6, "c", 30),
    (7, "c", 20),   # cluster 20 straddles into dropped block c
    (8, "d", 40),
    (9, "e", 40),
    (10, "f", 50),  # singleton block + singleton cluster
]


def _reference_replay(rows, cutoff, top_n):
    vc = collections.Counter(b for _, b, _ in rows)
    keep_blocks = set(
        [k for k, v in sorted(vc.items()) if v <= cutoff][:top_n]
    )
    in_kept = {d for d, b, _ in rows if b in keep_blocks}
    clusters = collections.defaultdict(set)
    for d, _, c in rows:
        clusters[c].add(d)
    kept_clusters = {
        c for c, members in clusters.items() if members <= in_kept
    }
    return {d for d, _, c in rows if c in kept_clusters}


def _frames(spark, rows):
    docs = spark.createDataFrame(
        [(d, b) for d, b, _ in rows], "doc_id long, block_key string"
    )
    clusters = spark.createDataFrame(
        [(d, c) for d, _, c in rows], "doc_id long, cluster_id long"
    )
    return docs, clusters


def test_mini_corpus_matches_reference_replay(spark):
    docs, clusters = _frames(spark, ROWS)
    got = {
        r.doc_id
        for r in mini_corpus(
            docs, clusters, big_block_cutoff=2, top_blocks_to_keep=1000
        ).collect()
    }
    want = _reference_replay(ROWS, cutoff=2, top_n=1000)
    assert got == want
    # golden: c-block docs and the straddling cluster 20 are gone,
    # clusters 10/40/50 survive intact
    assert got == {1, 2, 8, 9, 10}


def test_top_n_is_name_order_not_size_order(spark):
    # reference takes the FIRST top_n eligible blocks sorted by NAME
    docs, clusters = _frames(spark, ROWS)
    kb = {
        r.block_key
        for r in kept_blocks(
            docs, big_block_cutoff=2, top_blocks_to_keep=3
        ).collect()
    }
    assert kb == {"a", "b", "d"}  # name order among eligible, not size
    got = {
        r.doc_id
        for r in mini_corpus(
            docs, clusters, big_block_cutoff=2, top_blocks_to_keep=3
        ).collect()
    }
    want = _reference_replay(ROWS, cutoff=2, top_n=3)
    assert got == want
    # cluster 40 needs blocks d AND e; e ranks 4th -> cluster dropped
    assert got == {1, 2}


def test_containment_readds_doc_outside_kept_blocks(spark):
    # the reference's "corrupted block name" case: a doc whose own
    # block is dropped survives because its WHOLE cluster is kept only
    # when all members are in kept blocks -- so build the converse:
    # all members in kept blocks, plus re-derivation returns exactly
    # the cluster's docs even when cluster membership is the authority.
    rows = [(1, "a", 10), (2, "g mller", 10), (3, "a", 99)]
    docs, clusters = _frames(spark, rows)
    got = {
        r.doc_id
        for r in mini_corpus(
            docs, clusters, big_block_cutoff=5, top_blocks_to_keep=1000
        ).collect()
    }
    assert got == _reference_replay(rows, 5, 1000) == {1, 2, 3}


def test_per_dataset_partitioning(spark):
    # cutoff applies PER dataset: block 'a' is big in ds1, small in ds2
    rows = [
        ("ds1", 1, "a", 1), ("ds1", 2, "a", 2), ("ds1", 3, "a", 3),
        ("ds2", 4, "a", 4),
    ]
    docs = spark.createDataFrame(
        [(s, d, b) for s, d, b, _ in rows],
        "source string, doc_id long, block_key string",
    )
    clusters = spark.createDataFrame(
        [(d, c) for _, d, _, c in rows], "doc_id long, cluster_id long"
    )
    got = {
        r.doc_id
        for r in mini_corpus(
            docs,
            clusters,
            big_block_cutoff=2,
            top_blocks_to_keep=10,
            dataset_col="source",
        ).collect()
    }
    assert got == {4}


def test_kept_blocks_plan_is_broadcastable(spark):
    # the doc-side filter must be a broadcast semi-join (kept blocks are
    # bounded by top_n) -- assert no sort-merge join on the big side
    docs, clusters = _frames(spark, ROWS)
    plan = mini_corpus(
        docs, clusters, big_block_cutoff=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
