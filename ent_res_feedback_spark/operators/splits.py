"""Train/val/test splitting of blocks — the reference's §3.1 step-5
lifecycle operator (`split_cluster_signatures`, s2and/data.py:977-1040)
in its 'blocks' mode (`split_blocks_helper`, data.py:908-953),
re-expressed Spark-first.

`split_blocks` KMeans-stratifies blocks by SIZE, then splits blocks
within each stratum by seeded rank, so train/val/test keep the same
block-size mix. The reference runs sklearn KMeans + sklearn
train_test_split; the restatement keeps the same shape with a
deterministic, engine-portable core: an exact-integer 1-D Lloyd over the
(distinct size, block count) histogram on the driver (the histogram is
bounded by the largest block size, never by corpus size), and an
md5-rank split within strata executed distributed.

Every rule is replayable in ANSI SQL (md5 ranks, floor thresholds,
exact-integer centroid rationals), so the driver oracle checks it
hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: fixed Lloyd iteration budget — the SQL oracle unrolls exactly this
#: many iterations; extra iterations after convergence are no-ops, so
#: the Python side may early-exit on a fixpoint without divergence
KMEANS_ITERS = 10


def kmeans_strata_1d(weighted_sizes: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Exact-arithmetic 1-D Lloyd (``KMEANS_ITERS`` iterations at most)
    over a (size, count) histogram -> {size: 0-based stratum}.

    Centroids are kept as integer rationals (S, W) = (sum of weighted
    sizes, sum of weights); the only floating-point op is the per-element
    distance ``abs(size - S/W)`` — a single IEEE division and
    subtraction that any engine reproduces bit-exactly, so the SQL
    replay cannot drift. Exactness bound: this holds while S = sum(w*s)
    and W = sum(w) each stay below 2^53 — beyond that the SQL side's
    S::DOUBLE / W::DOUBLE (two roundings) can diverge from Python's
    correctly-rounded big-int division. W < 2^53 is ~9e15 documents
    (above the 1e12 design point) and S < 2^53 allows e.g. 1e12 docs at
    average block size 9000, so the bound is not binding at target
    scale; for corpora beyond it, downscale the histogram weights
    before the Lloyd loop. Init: k evenly-rank-spaced distinct sizes
    (deterministic); ties in assignment break toward the smaller
    centroid index; empty centroids keep their previous value.
    """
    ss = sorted(s for s, _ in weighted_sizes)
    w = dict(weighted_sizes)
    m = len(ss)
    if m == 0:
        return {}
    k = max(1, k)
    cents: list[tuple[int, int]] = []
    for j in range(k):
        idx = (j * (m - 1)) // max(k - 1, 1)
        cents.append((ss[idx], 1))

    def nearest(s: int) -> int:
        return min(range(k), key=lambda j: (abs(s - cents[j][0] / cents[j][1]), j))

    assign: dict[int, int] = {}
    for _ in range(KMEANS_ITERS):
        assign = {s: nearest(s) for s in ss}
        new: list[tuple[int, int]] = []
        for j in range(k):
            mine = [s for s in ss if assign[s] == j]
            if mine:
                new.append(
                    (sum(w[s] * s for s in mine), sum(w[s] for s in mine))
                )
            else:
                new.append(cents[j])
        if new == cents:
            break  # fixpoint: the SQL's remaining iterations are no-ops
        cents = new
    assign = {s: nearest(s) for s in ss}
    return assign


def _split_col(rn, cnt, ratios: tuple[float, float, float]):
    """rank -> split label with floor(n*ratio + 0.5) thresholds — plain
    IEEE double products, identical in Spark and any SQL engine."""
    tr, va, _te = ratios
    t1 = F.floor(cnt * F.lit(tr) + F.lit(0.5))
    t2 = F.floor(cnt * F.lit(tr + va) + F.lit(0.5))
    return (
        F.when(rn <= t1, F.lit("train"))
        .when(rn <= t2, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_blocks(
    mentions: DataFrame,
    k: int = 1,
    seed: int = 1111,
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1),
) -> DataFrame:
    """Reference `split_blocks_helper` (data.py:908-953) -> one row per
    block: (block_key, block_size, stratum, split).

    Shuffle shape: one groupBy on the block key (sizes), a collect of
    the DISTINCT-size histogram (bounded by max block size, not corpus
    size), a broadcast join of the size->stratum map, and one window
    rank within strata, which reproduces the reference's exact
    per-stratum counts (k partitions carry the sort). Nothing quadratic,
    nothing keyed on doc ids.
    """
    spark = mentions.sparkSession
    bs = mentions.groupBy("block_key").agg(F.count("*").alias("block_size"))
    hist = (
        bs.groupBy("block_size")
        .agg(F.count("*").alias("cnt"))
        .collect()  # bounded: one row per distinct block SIZE
    )
    strata = kmeans_strata_1d([(r["block_size"], r["cnt"]) for r in hist], k)
    map_df = spark.createDataFrame(
        [(int(s), int(j)) for s, j in strata.items()],
        "block_size bigint, stratum int",
    )
    sized = bs.join(F.broadcast(map_df), "block_size")
    order_key = F.md5(
        F.concat_ws("|", F.lit(str(seed)), F.col("block_key"))
    )
    w_rank = Window.partitionBy("stratum").orderBy(order_key, F.col("block_key"))
    w_cnt = Window.partitionBy("stratum")
    ranked = sized.select(
        F.col("block_key"),
        F.col("block_size"),
        F.col("stratum"),
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_cnt).alias("cnt"),
    )
    return ranked.select(
        F.col("block_key"),
        F.col("block_size"),
        F.col("stratum").cast("bigint").alias("stratum"),
        _split_col(F.col("rn"), F.col("cnt"), ratios).alias("split"),
    )
