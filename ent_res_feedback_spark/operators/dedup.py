"""Deduplication operators over the ``documents`` table — the
training-data-pipeline layer: exact and MinHash-LSH near-dup. All
candidate generation is JVM-side (portable md5 hashes, see
functions/hashing.py); verification jaccard is a column expression over
token arrays.

At 100 TB scale the shape is: narrow fingerprint/signature projection ->
one shuffle per dedup key (groupBy or band-key self-join) -> verified
pairs / survivor table. No driver-side state anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions import hashing
from ent_res_feedback_spark.functions.text import normalize_text_ascii, set_jaccard
from ent_res_feedback_spark.operators.blocking import (
    add_minhash_band_keys,
    split_tokens,
    word_shingles_from_tokens,
)
from ent_res_feedback_spark.operators.pairs import within_block_pairs


def normalized_fingerprint(text_col: Column) -> Column:
    """Exact-dup key: md5 of the ASCII-normalized text."""
    return hashing.doc_fingerprint(normalize_text_ascii(text_col))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup of ``docs`` (doc_id, text) via hash-groupBy: one row
    per duplicate GROUP (size>1) with the survivor (min id) and the group
    size."""
    fp = docs.select(
        F.col("doc_id"), normalized_fingerprint(F.col("text")).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .where(F.col("group_size") > 1)
    )


def minhash_lsh_duplicates(
    docs: DataFrame,
    num_bands: int = 4,
    rows_per_band: int = 4,
    verify_threshold: float = 0.5,
    seed: int = 42,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup detection over ``docs`` (doc_id, text):
    word-shingle -> minhash -> band -> bucket self-join -> verify with
    true shingle jaccard. Emits verified pairs (doc_id_1, doc_id_2,
    jaccard). The band join is the only wide stage; LSH
    over n-gram shingles bounds candidate counts even on low-cardinality
    vocabularies where unigram token sets would all collide."""
    norm = normalize_text_ascii(F.col("text"))
    # two-step projection: tokens materialized before the shingle
    # transform (see word_shingles_from_tokens) — the inline form
    # re-evaluated the split per element and dominated this operator
    slim = docs.select(F.col("doc_id"), norm.alias("_norm")).select(
        F.col("doc_id"), "_norm", split_tokens(F.col("_norm")).alias("_toks")
    ).select(
        F.col("doc_id"),
        "_norm",
        word_shingles_from_tokens(F.col("_toks"), shingle_n).alias("tokens"),
    )
    banded = add_minhash_band_keys(
        slim, "_norm", num_bands=num_bands, rows_per_band=rows_per_band,
        seed=seed, shingle_n=shingle_n,
    )
    # Candidate dedup carries ONLY the id pair: a near-dup pair collides in
    # several bands, and a distinct over rows that drag both shingle arrays
    # would shuffle O(candidates x doc_len) bytes. Ids first (tiny shuffle),
    # then re-join each side's shingle set once for verification.
    cand_ids = (
        within_block_pairs(
            banded.select("band_key", "doc_id"), key="band_key"
        )
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    tokens = slim.select(F.col("doc_id"), "tokens")
    cands = cand_ids.join(
        tokens.select(
            F.col("doc_id").alias("doc_id_1"), F.col("tokens").alias("tokens_1")
        ),
        "doc_id_1",
    ).join(
        tokens.select(
            F.col("doc_id").alias("doc_id_2"), F.col("tokens").alias("tokens_2")
        ),
        "doc_id_2",
    )
    jac = set_jaccard(F.col("tokens_1"), F.col("tokens_2"))
    return (
        cands.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= verify_threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
    )

