"""functions.expr.once_per_context — the ER chain's static expression
trees are built once per SparkContext and reused by every later job."""

from __future__ import annotations

from pyspark import SparkContext

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus
from ent_res_feedback_spark.functions.expr import once_per_context
from ent_res_feedback_spark.operators import mentions
from ent_res_feedback_spark.operators.mentions import extract_mentions


def test_extract_mentions_reuses_cached_columns(spark, monkeypatch):
    documents, _, _ = generate_corpus(CorpusConfig(n_entities=6, seed=3))
    docs = corpus_to_spark(spark, documents)
    builds = []
    text_spans = mentions._text_spans
    monkeypatch.setattr(
        mentions, "_text_spans", lambda c: builds.append(c) or text_spans(c)
    )
    mentions._mention_columns.cache_clear()
    first = extract_mentions(docs)
    second = extract_mentions(docs)
    assert len(builds) == 1
    assert mentions._mention_columns(False) is mentions._mention_columns(False)
    assert first.columns == second.columns
    assert sorted(map(tuple, first.drop("spans").collect())) == sorted(
        map(tuple, second.drop("spans").collect())
    )


def test_new_context_rebuilds(monkeypatch):
    built = []

    @once_per_context
    def tree(arg):
        built.append(arg)
        return object()

    first = tree(1)
    assert tree(1) is first
    assert tree(2) is not first
    assert built == [1, 2]
    monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    assert tree(1) is not first
    assert built == [1, 2, 1]
