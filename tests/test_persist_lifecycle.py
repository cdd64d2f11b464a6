"""Persist lifecycle of the ER chain: every frame a job persists is
released once its outputs are written, so repeated jobs, feedback rounds
and incremental runs do not pile up cached partitions for the driver
lifetime."""

import pytest

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus
from ent_res_feedback_spark.operators.feedback import run_feedback_loop
from ent_res_feedback_spark.operators.incremental import assign_incremental
from ent_res_feedback_spark.pipeline import ERConfig, release_persisted, run_pipeline


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


def test_incremental_assignments_cached_once_and_released(spark, tmp_path):
    """The argmin assignments feed the leftover pipeline and the final
    union; they are cached once, and released with the result."""
    documents, _, _ = generate_corpus(CorpusConfig(n_entities=12, seed=5))
    prior = corpus_to_spark(spark, documents[::2])
    new = corpus_to_spark(spark, documents[1::2])
    base = run_pipeline(prior, ERConfig())["clusters"].select("doc_id", "cluster_id")
    cached, _ = _persisted(spark)
    out = assign_incremental(new, prior, base, ERConfig())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    out.write.parquet(str(tmp_path / "clusters"))
    release_persisted(out)
    assert _persisted(spark)[0] == cached
