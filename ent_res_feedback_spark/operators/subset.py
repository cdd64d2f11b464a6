"""Mini-corpus subsetter (reference preprocessing lifecycle).

The reference ships ``scripts/make_s2and_mini_dataset.py`` — a speed-
oriented corpus subsetter every reference user replays before local
experiments. Its semantics (make_s2and_mini_dataset.py:25-26, 84-105):

1. census the blocking key over the signatures;
2. keep blocks with ``count <= BIG_BLOCK_CUTOFF`` (500), then the FIRST
   ``TOP_BLOCKS_TO_KEEP`` (1000) of those **in block-name sort order**
   (the script iterates ``sorted(vc.items())`` — name order, not size);
3. keep only clusters whose signatures ALL fall in kept blocks (a
   cluster straddling a dropped block is dropped whole, so gold
   partitions stay intact);
4. re-derive the signature set from the kept clusters — this re-adds
   the odd signature whose own block name is corrupted ("g miller" vs
   "g mller") but whose cluster survived;
5. filter the side tables (papers / SPECTER embeddings) to the kept ids.

Spark-first restatement: the census is one aggregate (tiny vs the doc
table), the top-N selection is a window over that census only, and every
"keep" is a semi-join — nothing quadratic, nothing collected. When the
reference processes several datasets it applies the cutoff per dataset;
pass ``dataset_col`` to reproduce that (census and rank partition by it).

Step 5 is left to the caller: keeping a side table's rows for the kept
docs is one ``left_semi`` join on the id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kept_blocks(
    docs: DataFrame,
    *,
    big_block_cutoff: int = 500,
    top_blocks_to_keep: int = 1000,
    dataset_col: str | None = None,
) -> DataFrame:
    """Blocks (``block_key``) surviving the cutoff + top-N-by-name rule
    (steps 1-2).

    One shuffle (the census groupBy); the window runs over the census —
    one row per distinct block — not over the documents, so it holds at
    100 TB of docs as long as the distinct-block count is table-like.
    """
    keys = [dataset_col, "block_key"] if dataset_col else ["block_key"]
    census = docs.groupBy(*keys).agg(F.count(F.lit(1)).alias("block_size"))
    eligible = census.where(F.col("block_size") <= big_block_cutoff)
    w = Window.partitionBy(
        *( [dataset_col] if dataset_col else [F.lit(1)] )
    ).orderBy("block_key")
    return (
        eligible.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_blocks_to_keep)
        .drop("rk", "block_size")
    )


def mini_corpus(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    big_block_cutoff: int = 500,
    top_blocks_to_keep: int = 1000,
    dataset_col: str | None = None,
) -> DataFrame:
    """Docs of the mini corpus: reference steps 1-4 as joins.

    ``docs`` carry ``doc_id`` and ``block_key``; ``clusters`` maps
    ``doc_id -> cluster_id`` (the gold partition).
    Returns the kept docs (all input columns) — the signature set
    re-derived from fully-contained clusters, so a doc whose own block
    was dropped still survives if every member of its cluster sits in
    kept blocks. Docs without a cluster row are dropped, matching the
    reference (signatures outside every cluster never enter
    ``signature_keys_to_keep``).
    """
    blocks = kept_blocks(
        docs,
        big_block_cutoff=big_block_cutoff,
        top_blocks_to_keep=top_blocks_to_keep,
        dataset_col=dataset_col,
    )
    join_keys = [dataset_col, "block_key"] if dataset_col else ["block_key"]
    # top_blocks_to_keep bounds the kept-block table -> broadcastable
    in_kept_block = docs.join(
        F.broadcast(blocks), join_keys, "left_semi"
    ).select("doc_id")

    # cluster kept iff member count == kept-member count (step 3);
    # both sides aggregate to one row per cluster before comparing.
    membership = clusters.join(
        in_kept_block.withColumn("_kept", F.lit(1)), "doc_id", "left"
    )
    full_clusters = (
        membership.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count("_kept").alias("_n_kept"),
        )
        .where(F.col("_n") == F.col("_n_kept"))
        .select("cluster_id")
    )
    # step 4: ids re-derived from the surviving clusters
    kept_ids = clusters.join(full_clusters, "cluster_id", "left_semi").select(
        "doc_id"
    )
    return docs.join(kept_ids, "doc_id", "left_semi")

