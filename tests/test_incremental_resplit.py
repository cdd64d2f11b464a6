"""I2 — altered-cluster re-split + name-incompatibility gate.

Mirrors the reference behaviors pinned by
/root/reference/tests/test_cluster_incremental.py:43-60 and
/root/reference/tests/test_cluster_incremental_incompatible.py:
  1. an altered (claimed) cluster is re-clustered internally; new docs
     assign against the SUBclusters and the claimed id is restored on
     output;
  2. with prevent_new_incompatibilities, a doc whose first name is not a
     prefix of any existing multi-char first in the claimed cluster
     becomes a singleton instead (the "D Jones/David Jones/Donald Jones"
     guard); with the flag off it joins;
  3. a claimed cluster whose multi-char first-name set is empty admits
     anyone the distance model accepts.
"""

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.incremental import assign_incremental
from ent_res_feedback_spark.pipeline import ERConfig


def _doc(doc_id, name, affil):
    return {
        "doc_id": doc_id,
        "spans": [
            ("text", name, None, 0),
            ("text", affil, None, 1),
        ],
    }


def _docs_df(spark, docs):
    from ent_res_feedback_spark.corpus import corpus_to_spark

    return corpus_to_spark(spark, docs)


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
    old_df = _docs_df(spark, old_docs)
    clusters = spark.createDataFrame(
        [("c0", "C"), ("c1", "C"), ("c2", "C")], "doc_id string, cluster_id string"
    )
    altered = spark.createDataFrame([("C",)], "cluster_id string")
    return old_df, clusters, altered


def _assign(spark, claimed, new_docs, **kw):
    old_df, clusters, altered = claimed
    out = assign_incremental(
        _docs_df(spark, new_docs),
        old_df,
        clusters,
        ERConfig(),
        altered_clusters=altered,
        **kw,
    )
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_resplit_restores_claimed_profile_and_blocks_incompatible(spark, claimed):
    # n1 'alec smith'@X is nearest the 'a'-subcluster (prefix-compatible,
    # same affiliation) -> would map back to C, but 'alec' is not a prefix
    # of the existing full first 'alan' -> singleton (reference
    # test_cluster_incremental_incompatible expected {"0": [1,2,4], "1": [3]}).
    # n2 'alan smith'@Y joins the 'alan'-subcluster -> C (prefix match).
    new_docs = [
        _doc("n1", "alec smith", AFFIL_X),
        _doc("n2", "alan smith", AFFIL_Y),
    ]
    got = _assign(spark, claimed, new_docs)
    assert got["c1"] == "C" and got["c2"] == "C"  # claimed profile intact
    assert got["n2"] == "C"
    assert got["n1"] != "C"  # blocked -> its own new cluster


def test_no_prevention_admits_everyone(spark, claimed):
    new_docs = [
        _doc("n1", "alec smith", AFFIL_X),
        _doc("n2", "alan smith", AFFIL_Y),
    ]
    got = _assign(
        spark, claimed, new_docs, prevent_new_incompatibilities=False
    )
    assert got["n1"] == "C" and got["n2"] == "C"


def test_single_char_only_cluster_admits_any_name(spark):
    # claimed cluster D holds only initial-only firsts; after a re-split
    # the multi-char first set is empty -> the gate admits anyone
    # (reference test_cluster_incremental_incompatible, third scenario)
    old_docs = [
        _doc("d1", "a jones", AFFIL_X),
        _doc("d2", "a jones", AFFIL_Y),
    ]
    old_df = _docs_df(spark, old_docs)
    clusters = spark.createDataFrame(
        [("d1", "D"), ("d2", "D")], "doc_id string, cluster_id string"
    )
    altered = spark.createDataFrame([("D",)], "cluster_id string")
    new = _docs_df(spark, [_doc("n1", "alex jones", AFFIL_X)])
    out = assign_incremental(
        new, old_df, clusters, ERConfig(), altered_clusters=altered
    )
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got["n1"] == "D"


def test_unaltered_path_unchanged(spark, claimed):
    # without altered_clusters, assignment works directly against the
    # claimed clusters (I1): 'alan smith'@Y averages its distances over
    # ALL of C (incl. the two disjoint-affiliation 'a smith'@X members),
    # so the average misses eps and the doc forms a new cluster. The same
    # doc WITH re-split joins C (see above): the re-split is exactly what
    # makes claimed-profile growth possible.
    old_df, clusters, _ = claimed
    new = _docs_df(spark, [_doc("n2", "alan smith", AFFIL_Y)])
    out = assign_incremental(new, old_df, clusters, ERConfig())
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got["c1"] == "C" and got["c2"] == "C"
    assert got["n2"] != "C"
