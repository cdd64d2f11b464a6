"""Hashing primitives: portable 64/32-bit token hashes, MinHash, SimHash,
rolling document fingerprints.

The reference has no hashing layer (single-node dict lookups); the
rebuild's MinHash-LSH blocking (BASELINE.json north_star) and the
dedup operators need one. All hashes are md5-derived so the exact same
values are computable in DuckDB (oracle parity):

    Spark : conv(substring(md5(t), 1, 15), 16, 10) :: long
    DuckDB: ('0x' || substr(md5(t), 1, 15)) :: BIGINT

15 hex digits = 60 bits < 2^63, so the cast never overflows/signs.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ent_res_feedback_spark.functions.expr import let

# Mersenne prime 2^61-1: universal-hash modulus. Multipliers are < 2^31 and
# token hashes < 2^32, so a*h + b < 2^63 — no int64 overflow in either engine.
MERSENNE61 = (1 << 61) - 1
_MULT_BITS = 31

#: winnowing k-gram length and window, shared by the Spark expression and
#: its DuckDB replay
WINNOW_K, WINNOW_W = 5, 4


def token_hash32(col: Column) -> Column:
    """Portable 32-bit hash (first 8 md5 hex digits)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameters for the universal hash family
    h_i(x) = (a_i * x + b_i) mod (2^61 - 1)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << _MULT_BITS), rng.randrange(0, 1 << _MULT_BITS))
        for _ in range(num_hashes)
    ]


def sql_minhash_expr(tokens_sql: str, num_hashes: int, seed: int = 42) -> str:
    """DuckDB SQL fragment computing the identical MinHash signature over a
    list-of-varchar expression — the oracle side of
    ``blocking.minhash_signatures_df``."""
    h = (
        f"list_transform(list_distinct({tokens_sql}), "
        "t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)"
    )
    mins = [
        f"list_min(list_transform({h}, x -> ({a}::BIGINT * x + {b}) % {MERSENNE61}))"
        for a, b in minhash_params(num_hashes, seed)
    ]
    return "[" + ", ".join(mins) + "]"


def lsh_band_key_cols(sig: Column, num_bands: int, rows_per_band: int) -> list[Column]:
    """One band-key column per band: 'b<i>:' + md5 of that band's slice of
    the signature. Explode these to get candidate buckets."""
    keys = []
    for i in range(num_bands):
        parts = [
            F.element_at(sig, i * rows_per_band + j + 1).cast("string")
            for j in range(rows_per_band)
        ]
        keys.append(F.concat(F.lit(f"b{i}:"), F.md5(F.concat_ws("_", *parts))))
    return keys


def simhash_kernel(token_lists: pd.Series) -> pd.Series:
    """64-bit SimHash over token arrays (Arrow-batched numpy kernel):
    per-token md5-derived bit vectors, summed as +-1 votes, sign ->
    fingerprint."""
    import hashlib

    out = []
    masks = np.array([1 << i for i in range(64)], dtype=np.uint64)
    for toks in token_lists:
        if toks is None or len(toks) == 0:
            out.append(None)
            continue
        votes = np.zeros(64, dtype=np.int64)
        for t in set(toks):
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            bitsvec = (np.uint64(h) & masks) != 0
            votes += np.where(bitsvec, 1, -1)
        fp = int(((votes > 0).astype(np.uint64) * masks).sum(dtype=np.uint64))
        # store as signed 64-bit
        out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
    return pd.Series(out, dtype="object")


@pandas_udf(LongType())
def simhash64(tokens: pd.Series) -> pd.Series:
    return simhash_kernel(tokens)


def doc_fingerprint(text_col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Portable to DuckDB (same md5 hex)."""
    return F.md5(text_col)


def winnowing_fingerprints(text_col: Column) -> Column:
    """Rolling-hash document fingerprints by winnowing (Schleimer, Wilkerson
    & Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): hash every char k-gram (k = ``WINNOW_K``), slide a window
    of ``WINNOW_W`` hashes, select each window's minimum, return the sorted
    distinct selections.
    Edit-robust: a local change perturbs only nearby windows, so most
    fingerprints survive — unlike ``doc_fingerprint``'s all-or-nothing md5.

    Pure JVM expression (transform/slice/array_min over a sequence — no
    UDF, scan-speed); hashes are the portable md5-derived 32-bit family so
    DuckDB replays the result exactly. Texts shorter than k+w-1 chars
    fingerprint as the single min over whatever k-grams exist (or empty).
    Selecting min VALUES (not positions) makes tie-handling trivially
    deterministic; position-aware robust winnowing adds nothing when only
    the fingerprint set is compared.

    BOTH the text and the gram array are let-bound (``expr.let``): the
    caller passes a normalization chain, and referencing it inside the
    per-gram lambda re-ran the whole chain per k-gram (O(n) regexp
    passes per row — measured 53s for 5k docs at sf0.1); the gram array
    likewise must not be re-hashed per window. Round-6: 53s -> sub-second,
    values unchanged."""
    k, w = WINNOW_K, WINNOW_W
    empty = F.array().cast("array<long>")

    def select_mins(g):
        nw = F.size(g) - (w - 1)
        return F.when(
            nw >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(nw, F.lit(1))),
                lambda j: F.array_min(F.slice(g, j, w)),
            ),
        ).otherwise(
            F.when(F.size(g) >= 1, F.array(F.array_min(g))).otherwise(empty)
        )

    def fingerprints_of(t):
        n_grams = F.length(t) - (k - 1)
        gram_hashes = F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                lambda i: F.conv(
                    F.substring(F.md5(t.substr(i, F.lit(k))), 1, 8), 16, 10
                ).cast("long"),
            ),
        ).otherwise(empty)
        selected = let(gram_hashes, select_mins)
        return F.array_sort(F.array_distinct(selected))

    return let(text_col, fingerprints_of)


def sql_winnowing_query(text_sql: str) -> str:
    """DuckDB replay of ``winnowing_fingerprints`` over a varchar SQL
    expression on ``documents``: same md5-derived hashes, same window-min
    selection. A full
    query (CTE) rather than one expression so the gram list is computed
    ONCE per row — inlining it into the per-window lambda would redo every
    k-gram md5 per window."""
    k, w = WINNOW_K, WINNOW_W
    return f"""
WITH d AS (SELECT doc_id, {text_sql} AS t FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - {k - 1}, 0) + 1),
                        i -> ('0x' || substr(md5(substr(t, i::INT, {k})), 1, 8))::BIGINT)
           AS grams
  FROM d
),
s AS (
  SELECT doc_id,
         CASE WHEN len(grams) - {w - 1} >= 1 THEN
           list_transform(range(1, len(grams) - {w - 1} + 1),
                          j -> list_min(grams[j:j+{w - 1}]))
         WHEN len(grams) >= 1 THEN [list_min(grams)]
         ELSE [] END AS sel
  FROM g
)
SELECT doc_id, unnest(list_sort(list_distinct(sel)))::BIGINT AS fp FROM s
"""
