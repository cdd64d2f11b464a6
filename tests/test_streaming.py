"""Streaming incremental assignment: micro-batches of documents arrive on
a file stream; the foreachBatch assigner must keep earlier assignments
stable, absorb known entities, and create clusters for new ones."""

import os

from ent_res_feedback_spark.corpus import (
    CorpusConfig,
    corpus_to_spark,
    generate_corpus,
)
from ent_res_feedback_spark.pipeline import ERConfig
from ent_res_feedback_spark.streaming.incremental_stream import IncrementalAssigner


def test_streaming_incremental_assigner(spark, tmp_path):
    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=15, seed=31))
    gold_map = dict(gold)
    half = len(documents) // 2
    batch1, batch2 = documents[:half], documents[half:]

    # stage both batches as parquet files in a streamed directory
    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)
    corpus_to_spark(spark, batch1).coalesce(1).write.mode("append").parquet(src_dir)

    assigner = IncrementalAssigner(spark, str(tmp_path / "state"), ERConfig())
    schema = spark.read.parquet(src_dir).schema

    def run_available():
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = assigner.attach(stream, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination()

    run_available()
    a1 = {r["doc_id"]: r["cluster_id"] for r in assigner.current_assignments().collect()}
    assert set(a1) == {d["doc_id"] for d in batch1}

    corpus_to_spark(spark, batch2).coalesce(1).write.mode("append").parquet(src_dir)
    run_available()
    a2 = {r["doc_id"]: r["cluster_id"] for r in assigner.current_assignments().collect()}
    assert set(a2) == {d["doc_id"] for d in documents}
    # earlier assignments unchanged
    for k, v in a1.items():
        assert a2[k] == v
    # quality: cluster purity vs gold stays high
    clusters = {}
    for doc_id, c in a2.items():
        clusters.setdefault(c, set()).add(gold_map[doc_id])
    pure = sum(1 for ents in clusters.values() if len(ents) == 1)
    assert pure / len(clusters) >= 0.85
