"""Incremental assignment (I1): new docs of known entities join the
existing cluster; docs of brand-new entities become new clusters;
existing assignments never change, also when known docs are re-delivered;
a new doc averages its distance over the whole cluster."""

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus
from ent_res_feedback_spark.operators.incremental import assign_incremental
from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline

OLD_ENTITIES = {f"e{i}" for i in range(20)}


@pytest.fixture(scope="module")
def split(spark):
    """Docs of entities e0..e19 are "existing" (at most 2 per entity); the
    rest of their docs are "new"; entities e20+ are entirely new. Returns
    (documents, gold_map, old_docs, new_docs, old_df, base, base_map)."""
    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=25, seed=21))
    gold_map = dict(gold)
    old_docs, new_docs = [], []
    seen_of_entity = {}
    for d in documents:
        e = gold_map[d["doc_id"]]
        if e in OLD_ENTITIES and seen_of_entity.setdefault(e, 0) < 2:
            seen_of_entity[e] += 1
            old_docs.append(d)
        else:
            new_docs.append(d)
    old_df = corpus_to_spark(spark, old_docs)
    base = run_pipeline(old_df, ERConfig())["clusters"].select("doc_id", "cluster_id")
    base_map = {r["doc_id"]: r["cluster_id"] for r in base.collect()}
    return documents, gold_map, old_docs, new_docs, old_df, base, base_map


def test_incremental_assignment(spark, split):
    documents, gold_map, _, new_docs, old_df, base, base_map = split
    new_df = corpus_to_spark(spark, new_docs)

    out = assign_incremental(new_df, old_df, base, ERConfig())
    out_map = {r["doc_id"]: r["cluster_id"] for r in out.collect()}

    # every doc assigned exactly once
    assert len(out_map) == len(documents)
    # existing docs keep their cluster
    for doc_id, c in base_map.items():
        assert out_map[doc_id] == c

    # quality: most new docs of existing entities land in a cluster that
    # contains only docs of their entity
    cluster_entities = {}
    for doc_id, c in out_map.items():
        cluster_entities.setdefault(c, set()).add(gold_map[doc_id])
    pure = sum(1 for ents in cluster_entities.values() if len(ents) == 1)
    assert pure / len(cluster_entities) >= 0.9

    # brand-new entities must NOT be absorbed into old clusters
    old_clusters = set(base_map.values())
    for d in new_docs:
        e = gold_map[d["doc_id"]]
        if e not in OLD_ENTITIES:
            c = out_map[d["doc_id"]]
            if c in old_clusters:
                # allowed only if that old cluster is of the same entity
                members = [k for k, v in base_map.items() if v == c]
                assert all(gold_map[m] == e for m in members)


def test_redelivered_docs_keep_one_row_and_their_cluster(spark, split):
    """A known doc_id in ``new_docs`` pairs with its own member row; it must
    be ignored, not given a second (doc_id, cluster_id) row."""
    documents, _, old_docs, new_docs, old_df, base, base_map = split
    redelivered = old_docs[:3]
    new_df = corpus_to_spark(spark, new_docs + redelivered)

    out = assign_incremental(new_df, old_df, base, ERConfig())

    # counted as rows: a dict would hide a duplicate
    assert out.count() == len(documents)
    assert out.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0
    ids = [d["doc_id"] for d in redelivered]
    rows = out.where(F.col("doc_id").isin(ids)).collect()
    assert len(rows) == len(ids)
    for r in rows:
        assert r["cluster_id"] == base_map[r["doc_id"]]


def _doc(doc_id, name, affil):
    return {
        "doc_id": doc_id,
        "spans": [
            ("text", name, None, 0),
            ("text", affil, None, 1),
        ],
    }


AFFIL_X = "institute of alpha computing"
AFFIL_Y = "department of beta physics"


@pytest.fixture()
def claimed(spark):
    """Claimed cluster C = {'a smith'@X x2, 'alan smith'@Y} — the engine
    would split it (initial-only vs full first, disjoint affiliations),
    like the reference's A/Alan claimed profile."""
    old_docs = [
        _doc("c0", "a smith", AFFIL_X),
        _doc("c1", "a smith", AFFIL_X),
        _doc("c2", "alan smith", AFFIL_Y),
    ]
    old_df = corpus_to_spark(spark, old_docs)
    clusters = spark.createDataFrame(
        [("c0", "C"), ("c1", "C"), ("c2", "C")], "doc_id string, cluster_id string"
    )
    return old_df, clusters


def test_unaltered_path_unchanged(spark, claimed):
    # assignment works directly against the claimed clusters (I1):
    # 'alan smith'@Y averages its distances over ALL of C (incl. the two
    # disjoint-affiliation 'a smith'@X members), so the average misses
    # eps and the doc forms a new cluster.
    old_df, clusters = claimed
    new = corpus_to_spark(spark, [_doc("n2", "alan smith", AFFIL_Y)])
    out = assign_incremental(new, old_df, clusters, ERConfig())
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got["c1"] == "C" and got["c2"] == "C"
    assert got["n2"] != "C"
