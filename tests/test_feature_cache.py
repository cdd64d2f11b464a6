"""S6/FE3 — persistent pair-feature cache: a warm run featurizes ZERO
pairs and returns identical features (reference featurizer.py:585-628
cache + both-orientation lookup semantics)."""

from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.feature_cache import PairFeatureCache
from ent_res_feedback_spark.operators.features import (
    FEATURE_COLS,
    mention_pair_features,
)
from ent_res_feedback_spark.operators.pairs import canonicalize_pairs


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id_1 string, doc_id_2 string, "
        "first_1 string, first_2 string, middle_1 string, middle_2 string, "
        "affil_norm_1 string, affil_norm_2 string",
    )


ROWS = [
    ("a", "b", "alan", "alan", "k", "k", "inst alpha", "inst alpha"),
    ("a", "c", "alan", "alana", "k", "", "inst alpha", "inst beta"),
    ("b", "c", "alan", "alana", "k", "", "inst alpha", "inst beta"),
]


def _collect(df):
    return sorted(
        tuple(r) for r in df.select("doc_id_1", "doc_id_2", *FEATURE_COLS).collect()
    )


def test_warm_run_featurizes_zero_pairs(spark, tmp_path):
    cache = PairFeatureCache(spark, str(tmp_path / "cache"))
    pairs = _pairs(spark, ROWS)

    cold, n_cold = cache.featurize_with_cache(pairs, mention_pair_features)
    cold_rows = _collect(cold)
    assert n_cold == 3

    warm, n_warm = cache.featurize_with_cache(pairs, mention_pair_features)
    assert n_warm == 0  # the UDFs saw ZERO pairs on the warm run
    assert _collect(warm) == cold_rows


def test_partial_hit_featurizes_only_misses(spark, tmp_path):
    cache = PairFeatureCache(spark, str(tmp_path / "cache"))
    _, n0 = cache.featurize_with_cache(_pairs(spark, ROWS[:2]), mention_pair_features)
    assert n0 == 2
    out, n1 = cache.featurize_with_cache(_pairs(spark, ROWS), mention_pair_features)
    assert n1 == 1  # only the new (b, c) pair
    assert len(_collect(out)) == 3


def test_both_orientations_hit_via_canonical_key(spark, tmp_path):
    cache = PairFeatureCache(spark, str(tmp_path / "cache"))
    _, n0 = cache.featurize_with_cache(_pairs(spark, ROWS), mention_pair_features)
    assert n0 == 3
    flipped = _pairs(
        spark,
        [(r[1], r[0], r[3], r[2], r[5], r[4], r[7], r[6]) for r in ROWS],
    )
    out, n1 = cache.featurize_with_cache(
        canonicalize_pairs(flipped), mention_pair_features
    )
    assert n1 == 0  # the reversed orientation is the same cache key
    assert len(_collect(out)) == 3


def test_pipeline_uses_cache(spark, tmp_path):
    from ent_res_feedback_spark.corpus import (
        CorpusConfig,
        corpus_to_spark,
        generate_corpus,
    )
    from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline

    documents, _, _ = generate_corpus(CorpusConfig(n_entities=10, seed=5))
    docs = corpus_to_spark(spark, documents)
    cfg = ERConfig(feature_cache_dir=str(tmp_path / "pf_cache"))
    first = run_pipeline(docs, cfg)["clusters"].select("doc_id", "cluster_id")
    first_rows = sorted(tuple(r) for r in first.collect())

    # warm pipeline run: identical clusters, cache already populated
    cache = PairFeatureCache(spark, cfg.feature_cache_dir)
    n_cached = cache.read().count()
    assert n_cached > 0
    second = run_pipeline(docs, cfg)["clusters"].select("doc_id", "cluster_id")
    assert sorted(tuple(r) for r in second.collect()) == first_rows
    assert cache.read().dropDuplicates(["doc_id_1", "doc_id_2"]).count() == n_cached
