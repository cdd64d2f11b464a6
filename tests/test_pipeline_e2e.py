"""End-to-end acceptance: the Spark pipeline's labeled-pair decisions must
match the pure-Python reference-semantics oracle with pairwise F1 >= 0.99
(BASELINE.json), on the synthetic interleaved corpus with a hot block.
Also: quality vs the planted gold entities, and the salted path must not
change results."""

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus
from ent_res_feedback_spark.operators.blocking import block_census
from ent_res_feedback_spark.operators.mentions import extract_mentions
from ent_res_feedback_spark.operators.metrics import b3, pairwise_prf
from ent_res_feedback_spark.oracle import cluster_documents_py, pairwise_f1_py
from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CorpusConfig(n_entities=50, seed=42))


@pytest.fixture(scope="module")
def spark_result(spark, corpus):
    documents, gold, labeled_pairs = corpus
    docs = corpus_to_spark(spark, documents)
    return run_pipeline(docs, ERConfig(salt_threshold=30, num_salt_buckets=4))


def test_f1_vs_oracle_at_least_99(spark, corpus, spark_result):
    documents, gold, labeled_pairs = corpus
    oracle_clusters = cluster_documents_py(documents)

    pred = {
        r["doc_id"]: r["cluster_id"]
        for r in spark_result["clusters"].select("doc_id", "cluster_id").collect()
    }
    # decision-level comparison on the labeled pairs (claims-eval shape)
    oracle_metrics = pairwise_f1_py(pred, dict(gold), [
        (d1, d2, int(oracle_clusters[d1] == oracle_clusters[d2]), bk)
        for d1, d2, _, bk in labeled_pairs
    ])
    assert oracle_metrics["f1"] >= 0.99, oracle_metrics


def test_spark_clusters_identical_to_oracle(corpus, spark_result):
    documents, _, _ = corpus
    oracle_clusters = cluster_documents_py(documents)
    pred = {
        r["doc_id"]: r["cluster_id"]
        for r in spark_result["clusters"].select("doc_id", "cluster_id").collect()
    }
    # both use min-doc_id cluster labels -> must be exactly equal
    assert pred == oracle_clusters


def test_quality_vs_gold(spark, corpus, spark_result):
    documents, gold, labeled_pairs = corpus
    gold_df = spark.createDataFrame(gold, "doc_id string, cluster_id string")
    labeled_df = spark.createDataFrame(
        [(a, b, l) for a, b, l, _ in labeled_pairs],
        "doc_id_1 string, doc_id_2 string, label int",
    )
    prf = pairwise_prf(labeled_df, spark_result["clusters"])
    assert prf["f1"] >= 0.95, prf
    b3m = b3(spark_result["clusters"], gold_df)
    assert b3m["f1"] >= 0.95, b3m


def test_census_bounded_cc_matches_star_loop(spark_result, monkeypatch):
    """run_pipeline finishes CC on the driver under its census bound; the
    clusters equal the star loop's (no bound, no early finish) over the
    same edges."""
    from ent_res_feedback_spark.operators import cc
    from ent_res_feedback_spark.operators.cc import (
        components_with_singletons,
        connected_components,
    )
    from ent_res_feedback_spark.pipeline import tau_edges

    monkeypatch.setattr(cc, "FINISH_EDGE_THRESHOLD", None)
    edges = tau_edges(spark_result["scored"], ERConfig().tau)
    clusters = spark_result["clusters"].select("doc_id", "cluster_id")
    star = components_with_singletons(
        connected_components(edges),
        clusters.select("doc_id"),
        "doc_id",
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in clusters.collect()}
    want = {(r["doc_id"], r["component"]) for r in star.collect()}
    assert got == want


def test_salting_does_not_change_results(spark, corpus):
    documents, _, _ = corpus
    docs = corpus_to_spark(spark, documents)
    plain = run_pipeline(docs, ERConfig(salt_threshold=None))
    salted = run_pipeline(docs, ERConfig(salt_threshold=10, num_salt_buckets=5))
    a = {(r["doc_id"], r["cluster_id"]) for r in plain["clusters"].collect()}
    b = {(r["doc_id"], r["cluster_id"]) for r in salted["clusters"].collect()}
    assert a == b


def test_lineage_marks_hot_block(spark_result):
    lin = {r["block_key"]: r for r in spark_result["lineage"].collect()}
    salted = [k for k, r in lin.items() if r["salted"]]
    assert len(salted) >= 1  # the planted hot block
    hot = max(lin.values(), key=lambda r: r["block_size"])
    assert hot["salted"]


def test_lineage_is_the_job_census(spark, corpus, spark_result):
    """The lineage is the job's one materialized census plus the salt
    flag: the same rows as a fresh census of the mentions, read without
    re-extracting mentions (no Python node, no aggregate in its plan)."""
    documents, _, _ = corpus
    docs = corpus_to_spark(spark, documents)
    lineage = spark_result["lineage"]
    expected = block_census(extract_mentions(docs)).withColumn(
        "salted", F.col("block_size") > 30
    )
    assert lineage.columns == expected.columns
    assert sorted(map(tuple, lineage.collect())) == sorted(
        map(tuple, expected.collect())
    )
    plan = lineage._jdf.queryExecution().toString()
    assert "EvalPython" not in plan
    assert "Aggregate" not in plan


def test_constraints_gate_before_udf(spark, corpus):
    """Disallowed pairs (different last name within a band) are never an
    edge; seeded require pairs always merge."""
    documents, _, _ = corpus
    docs = corpus_to_spark(spark, documents)
    # pick two docs in one block with label 0 from different entities
    res = run_pipeline(docs, ERConfig())
    scored = res["scored"]
    n_constrained = scored.where(F.col("constraint_dist").isNotNull()).count()
    assert n_constrained > 0
    # constrained pairs carry NULL score: they skipped the featurizer
    assert (
        scored.where(
            F.col("constraint_dist").isNotNull() & F.col("score").isNotNull()
        ).count()
        == 0
    )


def test_seed_constraints_override(spark, corpus):
    documents, _, labeled_pairs = corpus
    docs = corpus_to_spark(spark, documents)
    # force-disallow one positively-scored pair and require one negative
    base = run_pipeline(docs, ERConfig())
    pred = {
        r["doc_id"]: r["cluster_id"]
        for r in base["clusters"].select("doc_id", "cluster_id").collect()
    }
    same = [(a, b) for a, b, l, _ in labeled_pairs if pred[a] == pred[b]]
    diff = [(a, b) for a, b, l, _ in labeled_pairs if pred[a] != pred[b]]
    assert same and diff
    seeds = spark.createDataFrame(
        [(*same[0], "disallow"), (*diff[0], "require")],
        "doc_id_1 string, doc_id_2 string, kind string",
    )
    res = run_pipeline(docs, ERConfig(), seeds=seeds)
    pred2 = {
        r["doc_id"]: r["cluster_id"]
        for r in res["clusters"].select("doc_id", "cluster_id").collect()
    }
    ra, rb = diff[0]
    assert pred2[ra] == pred2[rb]  # require merged them
    # NOTE: disallow removes the direct edge; transitivity may still merge
    # the pair through other docs — same as the reference's behavior where
    # HAC can merge via other members. Check the direct edge is gone:
    scored = res["scored"]
    da, db = same[0]
    row = scored.where(
        (F.col("doc_id_1") == min(da, db)) & (F.col("doc_id_2") == max(da, db))
    ).collect()[0]
    assert row["dist"] >= 1e4
