"""Incremental cluster assignment (SURVEY.md §2.11, I1).

Reference: ``Clusterer.predict_incremental`` (s2and/model.py:533-741) —
new signatures are assigned to existing clusters by the AVERAGE distance
over all (new, member) pairs, to the argmin cluster if below eps;
leftovers re-cluster among themselves as new clusters.

Spark restatement: block-scoped join of new docs x cluster members ->
score -> groupBy(new_id, cluster).avg(dist) -> rank-1 window + eps
filter; the leftovers run the batch pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.constraints import apply_constraints
from ent_res_feedback_spark.operators.mentions import extract_mentions
from ent_res_feedback_spark.pipeline import (
    ERConfig,
    MENTION_COLS,
    gated_scores,
    run_pipeline,
)


def argmin_assign(cross_dists: DataFrame, eps: float) -> DataFrame:
    """The assignment core shared by every incremental mode (reference
    model.py:651-672): average distance per (new doc, cluster), argmin
    cluster per doc (ties -> smaller cluster id), keep when avg < eps.
    The average is rounded to 6 decimals before the comparison so the
    result is independent of floating summation order (cross-engine /
    cross-partitioning determinism).

    cross_dists: (doc_id_1, cluster_id, dist) one row per scored (new,
    member) pair. Returns (doc_id, cluster_id).
    """
    avg = cross_dists.groupBy("doc_id_1", "cluster_id").agg(
        F.round(F.avg("dist"), 6).alias("avg_dist")
    )
    w = Window.partitionBy("doc_id_1").orderBy(
        F.col("avg_dist").asc(), F.col("cluster_id").asc()
    )
    return (
        avg.withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") == 1) & (F.col("avg_dist") < eps))
        .select(F.col("doc_id_1").alias("doc_id"), "cluster_id")
    )


def _score_cross_pairs(new_m: DataFrame, member_m: DataFrame, cfg: ERConfig) -> DataFrame:
    """Score (new x member) pairs within shared blocks — the batch
    pipeline's constraint gate and scorer (``gated_scores``), over a
    two-sided join instead of a self-join."""
    left = new_m.select(
        *[F.col(c).alias(c + "_1") for c in MENTION_COLS if c != "block_key"],
        "block_key",
    )
    right = member_m.select(
        *[F.col(c).alias(c + "_2") for c in MENTION_COLS if c != "block_key"],
        "block_key",
        F.col("cluster_id"),
    )
    pairs = apply_constraints(left.join(right, "block_key"), seeds=None)
    return gated_scores(pairs, cfg.weights).select("doc_id_1", "cluster_id", "dist")


def assign_incremental(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    existing_clusters: DataFrame,  # (doc_id, cluster_id)
    config: ERConfig | None = None,
) -> DataFrame:
    """Returns (doc_id, cluster_id) for ALL docs, one row each: existing
    keep their cluster; new docs join the argmin-average-distance cluster
    when that average < 1 - tau (reference model.py:533-741); the rest form
    new clusters via the batch pipeline among themselves. A doc of
    ``new_docs`` that ``existing_clusters`` already assigns is a
    re-delivery and is ignored (it would pair with its own member row).

    The argmin assignments are built eagerly and persisted on the
    result's behalf: call ``release_persisted`` on it once it is written.
    """
    cfg = config or ERConfig()
    new_docs = new_docs.join(existing_clusters, "doc_id", "left_anti")

    new_m = extract_mentions(new_docs, ascii_fast_path=cfg.ascii_fast_path).select(
        *MENTION_COLS
    )
    member_m = (
        extract_mentions(existing_docs, ascii_fast_path=cfg.ascii_fast_path)
        .select(*MENTION_COLS)
        .join(existing_clusters, "doc_id")
    )

    # Every consumer below (the leftover pipeline's mention persist,
    # census and join-back, and the final union) reads the assignments,
    # so they are cached and the cross-pair scoring runs once; lost cache
    # blocks recompute from lineage. AQE does not coalesce a cached plan,
    # so the assignments (one row per assigned doc) are coalesced to the
    # cluster's parallelism before caching; counting them builds the
    # cache and gives the planner their real size, so the leftover
    # anti-join can broadcast them instead of shuffling the new docs.
    parallelism = new_docs.sparkSession.sparkContext.defaultParallelism
    best = (
        argmin_assign(_score_cross_pairs(new_m, member_m, cfg), 1.0 - cfg.tau)
        .coalesce(parallelism)
        .persist()
    )
    best.count()

    leftovers = new_docs.join(best, "doc_id", "left_anti")
    leftover_clusters = run_pipeline(leftovers, cfg)["clusters"].select(
        "doc_id", "cluster_id"
    )
    out = (
        existing_clusters.select("doc_id", "cluster_id")
        .unionByName(best)
        .unionByName(leftover_clusters)
    )
    out._persisted_deps = [best]  # type: ignore[attr-defined]
    return out
