"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline, JVM-side dot products for
  oracle parity
- LSH-bucketed ANN (random-hyperplane signatures): the scale path — at
  10^9+ vectors the cross join is infeasible; hyperplane buckets bound
  candidates, then exact cosine re-ranks.

The embedding column is the SPECTER analog (reference s2and/data.py:703-
725); cosine semantics follow s2and/text.py:374-394.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.vectors import cosine_sim


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact k-NN join of the table to itself: (id, neighbor_id, cosine),
    top-k per id. Quadratic — the correctness baseline and the small-dim
    case (broadcast one side when it fits)."""
    a = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb")
    )
    joined = a.crossJoin(b)
    if exclude_self:
        joined = joined.where(F.col("id") != F.col("neighbor_id"))
    scored = joined.select(
        "id",
        "neighbor_id",
        cosine_sim(F.col("va"), F.col("vb")).alias("cosine"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_lsh_buckets(
    embeddings: DataFrame,
    num_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    out: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket id per vector: sign pattern of
    ``num_planes`` fixed random projections, as a JVM column expression
    (dot products via zip_with/aggregate — no UDF)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, dim))
    bucket = F.lit(0).cast("long")
    vec = F.col(vec_col)
    for i in range(num_planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in planes[i]]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return embeddings.withColumn(out, bucket)


def ann_topk_lsh(
    embeddings: DataFrame,
    k: int = 5,
    num_planes: int = 2,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN via MULTI-TABLE hyperplane LSH: ``num_tables``
    independent sign-hash tables of ``num_planes`` planes each; candidate
    pairs are the union of same-bucket pairs across tables (deduped),
    re-ranked by exact cosine.

    Recall@1 ~ 1 - (1 - p^planes)^tables with p = 1 - angle/pi — the knob
    the caller tunes per corpus: more planes = smaller buckets (cheaper
    join), more tables = recovered recall. The per-table bucket join is
    the only wide stage; candidates stay ~linear instead of the cross
    join's quadratic."""
    cands = _lsh_candidate_ids(
        embeddings, num_planes, num_tables, dim, seed, id_col, vec_col
    )
    # Score each UNORDERED candidate pair once, then mirror: cosine is
    # bitwise-symmetric (IEEE multiply commutes; the fold order over the
    # zipped products is position-determined), so emitting the mirrored
    # orientation from the scored half is bit-identical to scoring both
    # orientations — at half the distinct shuffle, half the vector-join
    # probe and half the Python-boundary bytes. localCheckpoint stops the
    # union's two branches re-running the join+kernel subtree (its cost
    # is O(candidate pairs) — the same order the top-k window shuffles
    # next, so it adds no asymptotic state at scale).
    half = _join_vectors_and_score(
        cands, embeddings, id_col, vec_col
    ).localCheckpoint()
    scored = half.union(
        half.select(
            F.col("neighbor_id").alias("id"),
            F.col("id").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "neighbor_id", "cosine", "rank")
    )


def _lsh_candidate_ids(
    embeddings: DataFrame,
    num_planes: int,
    num_tables: int,
    dim: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Distinct UNORDERED LSH candidate id pairs (id < neighbor_id).
    The dedup shuffles ONLY the id pair — a pair that collides in several
    tables must not drag two embedding arrays through the distinct
    (O(candidates x dim) bytes); vectors re-join once afterwards.
    Canonicalizing (least, greatest) BEFORE the distinct halves its
    input cardinality; callers needing both orientations mirror after
    scoring (see ann_topk_lsh)."""
    b = embeddings
    table_cols = []
    for t in range(num_tables):
        col = f"_lsh_t{t}"
        b = hyperplane_lsh_buckets(b, num_planes, dim, seed + 1000 * t, vec_col, out=col)
        table_cols.append(col)
    buckets = b.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(t)), F.col(c).cast("string"))
                    for t, c in enumerate(table_cols)
                ]
            )
        ).alias("lsh_key"),
    )
    left = buckets.select("lsh_key", F.col(id_col).alias("id"))
    right = buckets.select("lsh_key", F.col(id_col).alias("neighbor_id"))
    return (
        left.join(right, "lsh_key")
        .where(F.col("id") < F.col("neighbor_id"))
        .select("id", "neighbor_id")
        .distinct()
    )


def _join_vectors_and_score(
    cands: DataFrame, embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    emb = embeddings.select(F.col(id_col), F.col(vec_col))
    scored = cands.join(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("va")), "id"
    ).join(
        emb.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb")
        ),
        "neighbor_id",
    )
    return _cosine_batch(scored, "id", "neighbor_id", "va", "vb")


def _cosine_batch(
    pairs: DataFrame, id1: str, id2: str, v1: str, v2: str,
    out: str = "cosine",
) -> DataFrame:
    """Arrow-batched cosine over joined vector pairs — ONE numpy matrix
    op per batch instead of the interpreted zip_with/aggregate fold per
    row (guide §4.2; measured ~10s of the LSH re-rank at 1M candidates).

    BIT-EXACT with functions.vectors.cosine_sim: float32 -> float64 cast
    then elementwise product are identical IEEE ops, and ``np.cumsum``
    accumulates strictly left-to-right — the same evaluation order as the
    JVM fold — so every double matches the column expression bit-for-bit
    (probed exhaustively on the 250k-pair sf0.01 cross join). Zero-norm
    inputs yield 0.0, as in cosine_sim."""
    import numpy as np
    import pandas as pd

    fields = {f.name: f.dataType.simpleString() for f in pairs.schema.fields}
    out_schema = f"{id1} {fields[id1]}, {id2} {fields[id2]}, {out} double"

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf[v1].to_numpy()).astype(np.float64)
            B = np.stack(pdf[v2].to_numpy()).astype(np.float64)
            dots = np.cumsum(A * B, axis=1)[:, -1]
            na = np.cumsum(A * A, axis=1)[:, -1]
            nb = np.cumsum(B * B, axis=1)[:, -1]
            denom = np.sqrt(na) * np.sqrt(nb)
            cos = np.where(
                denom == 0.0, 0.0, dots / np.where(denom == 0.0, 1.0, denom)
            )
            yield pd.DataFrame({id1: pdf[id1], id2: pdf[id2], out: cos})

    return pairs.select(id1, id2, v1, v2).mapInPandas(kernel, out_schema)


def embedding_cosine_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 2,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table hyperplane-LSH
    candidates (the scale path — no cross join), exact-cosine verified
    against ``threshold``, canonical ``id_1 < id_2``. The near-dup analog
    of ``ann_topk_lsh``: same recall knobs (planes/tables), one wide
    bucket join, O(candidates) verify."""
    # _lsh_candidate_ids is already canonical (id < neighbor_id)
    cands = _lsh_candidate_ids(
        embeddings, num_planes, num_tables, dim, seed, id_col, vec_col
    )
    scored = _join_vectors_and_score(cands, embeddings, id_col, vec_col)
    return scored.where(F.col("cosine") >= threshold).select(
        F.col("id").alias(id_col + "_1"),
        F.col("neighbor_id").alias(id_col + "_2"),
        "cosine",
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cell-probe scale path
# ---------------------------------------------------------------------------

def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse-quantizer codebook: the vectors of the
    ``n_centroids`` ids with the smallest ``md5(id)`` (a seedless,
    engine-portable 'random' sample — DuckDB replays the same pick).
    Production would run k-means here; the IVF *structure* (cell assign,
    probe join) is identical either way. The codebook is a tiny
    driver-side model (like the logistic weights), collected once and
    inlined as literals."""
    rows = (
        embeddings.select(
            F.md5(F.col(id_col).cast("string")).alias("_h"), F.col(vec_col)
        )
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _centroid_ranking(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of centroid indices ordered by cosine desc (ties: index asc),
    as one JVM expression (struct sort, no UDF)."""
    scored = F.array(
        *[
            F.struct(
                (-cosine_sim(vec, F.array(*[F.lit(x) for x in c]))).alias("negcos"),
                F.lit(i).alias("idx"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.transform(F.sort_array(scored), lambda s: s["idx"])


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate k-NN: every vector lives in its nearest-centroid
    cell (the inverted file); every query probes its ``n_probe`` nearest
    cells; candidates = index vectors whose home cell is probed. One
    equi-join on cell id — candidates ~ n * n_probe / n_centroids per
    query instead of the cross join's n. Exact cosine re-ranks.

    -> (id, neighbor_id, cosine, rank), rank 1..k per id.
    """
    cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    ranked = _centroid_ranking(F.col(vec_col), cents)
    base = embeddings.select(F.col(id_col), F.col(vec_col), ranked.alias("_cells"))
    index_side = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_cells")[0].alias("_cell"),
    )
    probe_side = base.select(
        F.col(id_col).alias("id"),
        F.explode(F.slice("_cells", 1, n_probe)).alias("_cell"),
    )
    cands = (
        probe_side.join(index_side, "_cell")
        .where(F.col("id") != F.col("neighbor_id"))
        .select("id", "neighbor_id")
        .distinct()
    )
    scored = _join_vectors_and_score(cands, embeddings, id_col, vec_col)
    w = Window.partitionBy("id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "neighbor_id", "cosine", "rank")
    )
