"""Mention extraction from interleaved text+media documents.

Input shape (BASELINE.json input_hint):
    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset>>)

Document model: the first ``kind='text'`` span (by offset) is the
name-bearing span; the second is affiliation-like context; later text
spans are title/abstract-like context. ``media`` spans are opaque payload
that must survive untouched — this extractor only SELECTS from ``spans``,
never rewrites it, so span-sequence equality holds by construction
(tests/test_span_invariant.py asserts it end-to-end).

The derived fields mirror the reference signature preprocessing
(s2and/data.py:542-641): normalized name (with and without apostrophes),
honorific stripping (NAME_PREFIXES, s2and/text.py:243), first/middle/last
split, and the S2 blocking key (text.py:632-653).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.expr import let, once_per_context
from ent_res_feedback_spark.functions.text import (
    NAME_PREFIXES,
    compute_block_key,
    normalize_text,
    normalize_text_ascii,
)


def _text_spans(spans: Column) -> Column:
    return F.array_sort(
        F.filter(spans, lambda s: s["kind"] == F.lit("text")),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )


def _strip_honorifics(tokens: Column) -> Column:
    """Drop up to two leading honorific tokens while more than one token
    remains (reference normalizes prefixes via NAME_PREFIXES).

    Each round's input is let-bound (``expr.let``): the strip ``when``
    references its input 4x, so the unbound form re-evaluated the
    upstream split+normalize chain ~4^rounds times per row — with two
    rounds, ~16 copies of the regexp normalization in one expression
    tree. Bound, each round evaluates its input once (values
    unchanged)."""
    def strip_once(ts: Column) -> Column:
        return F.when(
            (F.size(ts) > 1) & F.element_at(ts, 1).isin(*sorted(NAME_PREFIXES)),
            F.slice(ts, 2, F.size(ts) - 1),
        ).otherwise(ts)

    out = tokens
    for _ in range(2):
        out = let(out, strip_once)
    return out


@once_per_context
def _mention_columns(ascii_fast_path: bool) -> tuple:
    """The extraction's static expression trees, in the order
    ``extract_mentions`` applies them: the sorted text spans, the three
    raw fields read from them, the name tokens, the five derived fields
    and the block key."""
    norm = normalize_text_ascii if ascii_fast_path else normalize_text
    ts = F.col("_ts")
    raw = (
        # try-semantics: media-only documents (no text span) yield NULL
        # name -> empty block key -> excluded from pairing (singletons)
        F.when(F.size(ts) > 0, F.element_at(ts, 1)["text"]).alias("name_raw"),
        F.when(F.size(ts) > 1, F.element_at(ts, 2)["text"]).alias("affil_raw"),
        F.when(
            F.size(ts) > 2,
            F.concat_ws(
                " ",
                F.transform(
                    F.slice(ts, 3, F.greatest(F.size(ts) - 2, F.lit(0))),
                    lambda s: s["text"],
                ),
            ),
        ).alias("context_raw"),
    )

    name_norm = norm(F.col("name_raw"), special_case_apostrophes=True)
    toks = _strip_honorifics(
        F.filter(F.split(name_norm, " "), lambda t: F.length(t) > 0)
    )
    t = F.col("_toks")
    fields = (
        F.concat_ws(" ", t).alias("name_norm"),
        F.when(F.size(t) > 0, F.element_at(t, 1))
        .otherwise(F.lit(""))
        .alias("first"),
        F.when(
            F.size(t) > 2,
            F.concat_ws(" ", F.slice(t, 2, F.size(t) - 2)),
        )
        .otherwise(F.lit(""))
        .alias("middle"),
        F.when(F.size(t) > 1, F.element_at(t, -1))
        .otherwise(F.lit(""))
        .alias("last"),
        norm(F.col("affil_raw")).alias("affil_norm"),
    )
    block_key = compute_block_key(F.col("name_norm"))
    return _text_spans(F.col("spans")), raw, toks, fields, block_key


def extract_mentions(docs: DataFrame, ascii_fast_path: bool = False) -> DataFrame:
    """documents -> mentions frame with derived name fields + block key.

    ``ascii_fast_path=True`` skips the unicode-fold pandas UDF (pure JVM
    plan) — used by oracle-checked queries and safe whenever the corpus is
    known-ASCII. The expression trees are built once per SparkContext
    (``_mention_columns``); only the DataFrame steps run per call.
    """
    ts, raw, toks, fields, block_key = _mention_columns(ascii_fast_path)
    df = docs.withColumn("_ts", ts)
    df = df.select("*", *raw).drop("_ts")
    df = df.withColumn("_toks", toks)
    df = df.select("*", *fields).drop("_toks")
    return df.withColumn("block_key", block_key)
