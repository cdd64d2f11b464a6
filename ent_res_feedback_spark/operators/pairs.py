"""Within-block pair generation (SURVEY.md §2.4, P1-P5) — the skew-prone
self-join at the heart of the pipeline.

Reference semantics: for every block, all i<j signature pairs
(s2and/data.py:1346-1484, inference all-pairs data.py:1310-1324). The
reference enumerates them in a Python loop; here it is an equi-self-join
on the block key with the canonical ``sid1 < sid2`` predicate.

Scale design
------------
A hot key of size n yields n(n-1)/2 pairs in ONE post-shuffle partition —
the classic skew bottleneck at 10^12 docs. Two defenses, both explicit
(north rule) on top of AQE's skew-join splitting:

1. *Bucketed salting* (``within_block_pairs(salt_threshold=...)``): rows of
   hot blocks are hashed into ``s`` buckets; the left side replicates each
   row to bucket-pairs (b, q>=b) and the right side to (p<=b, b), so every
   unordered row pair meets in exactly one (key, p, q) task. A block of n
   becomes s(s+1)/2 tasks of ~(n/s)^2 work instead of one n^2 task. The
   salted join is built only when the block census (materialized once,
   ``blocking.materialize_census``) has a block above the threshold; with
   no hot block the plain equi-join runs.
2. *Pair-cap policy* (optional ``max_block_size``): drop blocks whose pair
   count would exceed the budget — the reference's own giant-block policy
   (data.py:149-173, make_s2and_mini_dataset.py big_block_cutoff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.blocking import (
    BlockCensus,
    block_census,
    hot_blocks,
    materialize_census,
)


def _suffix(df: DataFrame, suffix: str, key: str, extra: list[str] | None = None) -> DataFrame:
    keep = [key] + (extra or [])
    return df.select(
        *[F.col(c).alias(c if c in keep else c + suffix) for c in df.columns]
    )


def canonicalize_pairs(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Ensure sid1 < sid2 for every pair (the reference's condensed
    upper-triangular layout, data.py:190-194, reduced to an ordering
    convention in long format). One projection: each ``<c>_1``/``<c>_2``
    column takes its partner's value when the ids are out of order;
    column order is unchanged."""
    swap = F.col(id_col + "_1") > F.col(id_col + "_2")
    partner = {"_1": "_2", "_2": "_1"}

    def pick(c: str):
        base, side = c[:-2], c[-2:]
        if side not in partner or base + partner[side] not in pairs.columns:
            return F.col(c)
        return F.when(swap, F.col(base + partner[side])).otherwise(
            F.col(c)
        ).alias(c)

    return pairs.select(*[pick(c) for c in pairs.columns])


def within_block_pairs(
    df: DataFrame,
    key: str = "block_key",
    id_col: str = "doc_id",
    salt_threshold: int | None = None,
    num_salt_buckets: int = 8,
    max_block_size: int | None = None,
    census: BlockCensus | None = None,
) -> DataFrame:
    """P1 — all unordered within-block pairs, columns suffixed _1/_2.

    Plain path: equi-join on ``key`` + ``id_1 < id_2`` theta filter.
    With ``salt_threshold``: if the census has a block above it, the
    bucketed-salt path; otherwise the plain path. Both paths return the
    same rows in the same columns.

    ``census``: the materialized census of ``df``'s blocks (it may also
    cover keys ``df`` lacks). Without it, a ``salt_threshold`` costs one
    eager census action here (``materialize_census``).
    """
    if census is None and salt_threshold is not None:
        census = materialize_census(df, key)
    sizes = census.frame if census is not None else block_census(df, key)
    if max_block_size is not None:
        sizes = sizes.where(F.col("block_size") <= max_block_size)
        df = df.join(F.broadcast(sizes.select(key)), key, "inner")

    # The hot decision reads the census maximum, taken before the cap:
    # when a capped-out block is the only one above the threshold the
    # salted path runs needlessly, with the same result.
    if salt_threshold is None or census.max_block <= salt_threshold:
        left = _suffix(df, "_1", key)
        right = _suffix(df, "_2", key)
        return left.join(right, key).where(
            F.col(id_col + "_1") < F.col(id_col + "_2")
        )

    # Salted path, taken only when some block is hot. Cold blocks are hot
    # blocks with ONE salt bucket, so both take the same exploded
    # self-join — a cold row sits in bucket 0 and covers only bucket-pair
    # (0, 0), where the (_p != _q) | (id1 < id2) predicate degenerates to
    # the plain-path id1 < id2. Both join sides broadcast-join the hot
    # keys of the materialized census, so the pair plan aggregates no
    # census of its own.
    s = num_salt_buckets
    hot_keys = hot_blocks(sizes, salt_threshold, key).select(
        key, F.lit(True).alias("_hot")
    )
    flagged = df.join(F.broadcast(hot_keys), key, "left")
    is_hot = F.col("_hot").isNotNull()
    bucket = F.when(
        is_hot, F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)).cast("int")
    ).otherwise(F.lit(0))
    hb = flagged.withColumn("_b", bucket).withColumn(
        "_hi", F.when(is_hot, F.lit(s - 1)).otherwise(F.lit(0))
    ).drop("_hot")
    # Left role: row in bucket b covers bucket-pairs (p=b, q=b.._hi).
    left = _suffix(
        hb.select(
            "*", F.explode(F.sequence(F.col("_b"), F.col("_hi"))).alias("_q")
        )
        .withColumnRenamed("_b", "_p")
        .drop("_hi"),
        "_1",
        key,
        extra=["_p", "_q"],
    )
    # Right role: row in bucket b covers bucket-pairs (p=0..b, q=b).
    right = _suffix(
        hb.select(
            "*", F.explode(F.sequence(F.lit(0), F.col("_b"))).alias("_p")
        )
        .withColumnRenamed("_b", "_q")
        .drop("_hi"),
        "_2",
        key,
        extra=["_p", "_q"],
    )
    pairs = (
        left.join(right, [key, "_p", "_q"])
        .where(
            # same bucket: dedupe with id order; cross bucket: each
            # unordered pair meets exactly once (left bucket < right bucket)
            (F.col("_p") != F.col("_q"))
            | (F.col(id_col + "_1") < F.col(id_col + "_2"))
        )
        .drop("_p", "_q")
    )
    # Cross-bucket pairs may arrive id-unordered; canonicalize (a no-op
    # for same-bucket and cold pairs, which are id-ordered already).
    pairs = canonicalize_pairs(pairs, id_col)
    # ids are unique so self-pairs cannot occur; keep a cheap guard
    return pairs.where(F.col(id_col + "_1") != F.col(id_col + "_2"))
