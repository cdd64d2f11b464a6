"""Blocking operators (SURVEY.md §2.3, B1-B4).

The reference materializes ``Dict[block_key -> List[signature_id]]``
(s2and/data.py:727-774); in Spark a block is just a key column — grouping
is implicit and never materialized. This module adds:

- the S2 first-initial+last-name key (B1, via functions.text.compute_block_key)
- block census / min-size filter (B3, reference model.py:115-142)
- MinHash-LSH band keys over span text (B4, the north-star blocking key)
- the block-size census that drives skew salting in operators/pairs.py
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions import hashing
from ent_res_feedback_spark.functions.text import compute_block_key  # noqa: F401


def block_census(df: DataFrame, key: str = "block_key") -> DataFrame:
    """B3/A9 — per-block sizes and implied pair counts
    (reference e2e_scripts/preprocess_s2and_data.py:54-67). One shuffle;
    the result is small (one row per distinct key) and broadcastable."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("block_size"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2).cast("long").alias("n_pairs"),
    )


@dataclass(frozen=True)
class BlockCensus:
    """A block census computed once and kept: ``frame`` has the
    ``block_census`` columns, ``max_block`` is its largest block and
    ``pairs`` the total within-block pair count of its blocks — an upper
    bound on the pairs (and so on the edges) a within-block join of the
    counted blocks can produce."""

    frame: DataFrame
    max_block: int
    pairs: int


def materialize_census(
    df: DataFrame, key: str = "block_key", counted: Column | None = None
) -> BlockCensus:
    """The census of ``df`` as ONE eager action, with the largest block
    and the total pair count riding that action as an Observation (no
    collect of the census).

    Consumers — the pair join's hot-key decision and broadcast, the
    lineage table, the CC edge bound — read the materialized frame or
    the observed figures instead of aggregating ``df`` again.
    ``counted`` (a predicate over the census row) limits which blocks
    ``max_block`` and ``pairs`` consider, e.g. only blocks that pair.

    Materialized with ``localCheckpoint``: local-only like the other
    ``localCheckpoint`` sites (``cc.py``, ``similarity.py``) — a lost
    executor loses it — and independent of any cache the caller later
    unpersists, so the frame stays readable after the job's intermediate
    frames are released."""

    def only_counted(c: Column) -> Column:
        return c if counted is None else F.when(counted, c)

    obs = Observation()
    observed = block_census(df, key).observe(
        obs,
        F.max(only_counted(F.col("block_size"))).alias("max"),
        # decimal: a long sum of pair counts overflows under ANSI first
        F.sum(only_counted(F.col("n_pairs")).cast("decimal(38,0)")).alias(
            "pairs"
        ),
    )
    frame = observed.localCheckpoint()
    vals = obs.get
    return BlockCensus(frame, int(vals["max"] or 0), int(vals["pairs"] or 0))


def tokenize(col):
    """Distinct non-empty whitespace tokens of a text column (JVM-side)."""
    return F.array_distinct(
        F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0)
    )


def word_shingles_from_tokens(toks, n: int = 3):
    """Distinct word n-gram shingles over an ALREADY-MATERIALIZED token
    array column. ``toks`` must be a bound attribute (the output of a
    prior projection), not an inline expression: the shingle transform
    references it ~3x per output element, and Catalyst inlines (and
    re-evaluates) non-attribute subtrees at every reference — measured
    43s -> 0.7s on 5k docs when the split/filter moved behind a Project
    boundary (CollapseProject keeps multi-referenced non-cheap aliases
    un-collapsed, so the two-step projection is load-bearing)."""
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    fallback = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(
        F.when(F.size(toks) >= n, shingles).otherwise(fallback)
    )


def split_tokens(col):
    """Non-empty whitespace tokens (order/duplicates preserved) — the
    shared pre-projection for ``word_shingles_from_tokens``."""
    return F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0)


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles (JVM-side). Shingling is what keeps
    MinHash discriminative on low-cardinality vocabularies: unigram token
    sets collide massively when the vocab is small, n-gram shingle space
    is vocab^n. Texts shorter than n words yield their full token string
    as a single shingle.

    PERFORMANCE: only use over a column that is *already* a cheap
    attribute; for anything derived (normalized text expressions),
    project ``split_tokens`` first and call
    ``word_shingles_from_tokens`` — see that function's docstring."""
    return word_shingles_from_tokens(split_tokens(col), n)


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    units_col,
    num_hashes: int,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures (``minhash_sig``) via explode + hash-once +
    groupBy(min x k).

    The naive nested column expression (array of k transform/array_min
    passes over an md5-hashed token array) re-evaluates the token hashing
    per hash function — measured minutes-per-partition at 5k docs. This
    form hashes each (id, unit) row exactly ONCE and computes the k
    minima as ordinary aggregates with map-side partial aggregation: one
    shuffle keyed by id, linear work, scales to arbitrary corpus size.
    Values are identical to the DuckDB mirror
    (hashing.sql_minhash_expr).
    """
    params = hashing.minhash_params(num_hashes, seed)
    ex = df.select(F.col(id_col), F.explode(F.array_distinct(units_col)).alias("_u"))
    hashed = ex.select(id_col, hashing.token_hash32(F.col("_u")).alias("_h"))
    aggs = [
        F.min(
            F.pmod(F.lit(a) * F.col("_h") + F.lit(b), F.lit(hashing.MERSENNE61))
        ).alias(f"_mh{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = hashed.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col,
        F.array(*[F.col(f"_mh{i}") for i in range(num_hashes)]).alias("minhash_sig"),
    )


def add_minhash_band_keys(
    df: DataFrame,
    text_col: str,
    num_bands: int = 4,
    rows_per_band: int = 4,
    seed: int = 42,
    shingle_n: int | None = None,
) -> DataFrame:
    """B4 — MinHash-LSH blocking keys (north-star blocking).

    word-shingles (or tokens) -> portable md5 minhash signature via the
    explode+agg path (see minhash_signatures_df) -> ``num_bands`` band
    keys (``band_key``) -> explode so each doc (``doc_id``) lands in one
    candidate bucket per band.
    Downstream all-pairs within a band key is the LSH candidate set;
    dedup across bands with the canonical (sid1<sid2) + distinct.
    """
    if shingle_n:
        # two-step projection: materialize the token array BEFORE the
        # shingle transform (word_shingles_from_tokens docstring — the
        # inline form re-evaluates the split per element access)
        units_df = df.select(
            "doc_id", split_tokens(F.col(text_col)).alias("_toks")
        ).select(
            "doc_id",
            word_shingles_from_tokens(F.col("_toks"), shingle_n).alias(
                "_units"
            ),
        )
    else:
        units_df = df.select(
            "doc_id", tokenize(F.col(text_col)).alias("_units")
        )
    sigs = minhash_signatures_df(
        units_df,
        "doc_id",
        F.col("_units"),
        num_bands * rows_per_band,
        seed,
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *hashing.lsh_band_key_cols(
                    F.col("minhash_sig"), num_bands, rows_per_band
                )
            )
        ).alias("band_key"),
    )
    return df.join(bands, "doc_id")


def hot_blocks(
    census: DataFrame, salt_threshold: int, key: str = "block_key"
) -> DataFrame:
    """Blocks whose size exceeds the salting threshold. Small by
    construction (there are few hot keys); always broadcastable."""
    return census.where(F.col("block_size") > salt_threshold).select(
        key, "block_size"
    )
