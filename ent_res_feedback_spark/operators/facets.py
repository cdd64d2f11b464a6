"""Reference-computed facet columns (A6 input, s2and/eval.py:196-427).

The reference's ``facet_eval`` does not just consume facets — it derives
them: per-signature block size, gold-cluster size and within-block
homonymity / synonymity fractions. The repo's ``metrics.facet_eval``
buckets B3 by any facet column; this module produces those columns.

The reference derives homonymity/synonymity with an O(n^2) loop over all
signature pairs (eval.py:264-287). The counts only depend on group
sizes, so the Spark restatement needs no pair enumeration at all — for a
signature in block b with name n and gold cluster c:

    denominator = |b| - 1                       (same-block co-signatures)
    homonymity_count = |b, n| - |b, n, c|       (same name, other cluster)
    synonymity_count = |b, c| - |b, n, c|       (other name, same cluster)

i.e. three grouped counts joined back on their keys — linear, map-side
combinable, and every join key is prefixed by the block key. The
fraction buckets use ``F.bround`` (half-even) to match the reference's
``np.round(x, 2)`` exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def derive_facets(
    signatures: DataFrame,
    id_col: str = "sig_id",
    block_col: str = "block_key",
    name_col: str = "full_name",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Adds the reference's structural facet columns to ``signatures``:

    - ``block_size``: number of signatures sharing the block
      (eval.py:246-253, block_len_dict)
    - ``cluster_size``: number of signatures in the gold cluster
      (eval.py:257-260, cluster_len_dict)
    - ``homonymity_count`` / ``synonymity_count`` / ``pair_denominator``:
      the raw within-block pair counts (eval.py:264-287)
    - ``homonymity`` / ``synonymity``: the reference's bucketed fractions
      — np.round(count/denominator, 2) when count > 0, else 0
      (eval.py:388-397)
    """
    from pyspark.sql import Window

    sig = signatures.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_b"),
        F.col(name_col).alias("_n"),
        F.col(cluster_col).alias("_c"),
    )

    def frac(count: Column, denom: Column) -> Column:
        # reference: bucket only when the count is positive, else literal 0
        return F.when(
            count > 0, F.bround(count.cast("double") / denom, 2)
        ).otherwise(F.lit(0.0))

    # Window counts instead of five groupBys + five join-backs: the
    # former shape referenced ``sig`` six times, re-running the whole
    # upstream pipeline (block/cluster derivation) per reference. Counts
    # over whole-partition windows are the identical integers from ONE
    # evaluation of ``sig`` in two exchanges: hash(_b) clusters every
    # _b-prefixed key set — (_b), (_b,_n), (_b,_c), (_b,_n,_c) — so all
    # four share the first; (_c) takes the second.
    cnt = lambda *cols: F.count(F.lit(1)).over(  # noqa: E731
        Window.partitionBy(*cols)
    )
    out = sig.select(
        "*",
        cnt("_b").alias("block_size"),
        cnt("_b", "_n").alias("_cnt_bn"),
        cnt("_b", "_c").alias("_cnt_bc"),
        cnt("_b", "_n", "_c").alias("_cnt_bnc"),
        cnt("_c").alias("cluster_size"),
    )
    h_cnt = F.col("_cnt_bn") - F.col("_cnt_bnc")
    s_cnt = F.col("_cnt_bc") - F.col("_cnt_bnc")
    denom = F.col("block_size") - 1
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_b").alias(block_col),
        F.col("_n").alias(name_col),
        F.col("_c").alias(cluster_col),
        "block_size",
        "cluster_size",
        h_cnt.alias("homonymity_count"),
        s_cnt.alias("synonymity_count"),
        denom.alias("pair_denominator"),
        frac(h_cnt, denom).alias("homonymity"),
        frac(s_cnt, denom).alias("synonymity"),
    )

