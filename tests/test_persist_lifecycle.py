"""Persist lifecycle of the ER chain: every frame a job persists is
released once its outputs are written, so repeated jobs and feedback
rounds do not pile up cached partitions for the driver lifetime."""

import pytest

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus
from ent_res_feedback_spark.operators.feedback import run_feedback_loop
from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline


def _persisted(spark) -> tuple[int, int]:
    """(cached RDDs, local checkpoints) among the persisted RDDs.

    ``localCheckpoint`` data is registered as persisted too, but Spark
    drops it only once the JVM collects the RDD — and the block census
    checkpoint is meant to outlive ``run_pipeline``, whose lineage is
    written after it returns. So the two kinds are counted apart."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    cached = ckpts = 0
    for key in rdds.keySet().toArray():
        rdd = rdds.get(key)
        if rdd is None:  # dropped since the key was read
            continue
        if rdd.rdd().isLocallyCheckpointed():
            ckpts += 1
        else:
            cached += 1
    return cached, ckpts


@pytest.fixture(scope="module")
def small_corpus(spark):
    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=12, seed=5))
    return corpus_to_spark(spark, documents), dict(gold)


def test_er_job_releases_cached_frames(spark, small_corpus, tmp_path):
    docs, _ = small_corpus
    cached, ckpts = _persisted(spark)
    res = run_pipeline(
        docs, ERConfig(salt_threshold=5, checkpoint_dir=str(tmp_path / "ckpt"))
    )
    res["clusters"].write.parquet(str(tmp_path / "clusters"))
    res["lineage"].write.parquet(str(tmp_path / "lineage"))
    after_cached, after_ckpts = _persisted(spark)
    assert after_cached == cached
    # the one local checkpoint the job keeps is the census its lineage reads
    assert after_ckpts <= ckpts + 1


def test_feedback_rounds_release_cached_frames(spark, small_corpus):
    docs, gold = small_corpus
    cached, _ = _persisted(spark)
    res = run_feedback_loop(
        docs, lambda a, b: int(gold[a] == gold[b]), ERConfig(),
        max_rounds=2, pairs_per_round=5,
    )
    assert res["state"].rounds == 2
    assert _persisted(spark)[0] == cached
