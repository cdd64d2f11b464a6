"""Incremental cluster assignment (SURVEY.md §2.11, I1 + I2).

Reference: ``Clusterer.predict_incremental`` (s2and/model.py:533-741) —
new signatures are assigned to existing clusters by the AVERAGE distance
over all (new, member) pairs, to the argmin cluster if below eps;
leftovers re-cluster among themselves as new clusters.

I2 (altered-cluster re-split, model.py:570-599): clusters flagged as
*altered* (claimed/corrected profiles) are first re-clustered internally
WITHOUT seeds; new docs assign against the resulting SUBclusters, then
the winning subcluster is mapped back to the claimed cluster id. With
``prevent_new_incompatibilities`` (model.py:684-717), a doc whose first
name is not a prefix-match of ANY multi-char first name already in the
claimed cluster becomes a singleton instead — the "D Jones + David Jones
+ Donald Jones" guard.

Spark restatement: block-scoped join of new docs x cluster members ->
score -> groupBy(new_id, cluster).avg(dist) -> rank-1 window + eps
filter; the re-split is the batch stack restricted to same-cluster pairs
(CC over within-cluster edges); the name gate is a collect_set of
cluster firsts + an exists() over the (small) winner set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.constraints import apply_constraints
from ent_res_feedback_spark.operators.mentions import extract_mentions
from ent_res_feedback_spark.pipeline import (
    ERConfig,
    MENTION_COLS,
    clusters_from_edges,
    gated_scores,
    release_persisted,
    run_pipeline,
    scored_pair_distances,
)


def argmin_assign(
    cross_dists: DataFrame,
    eps: float,
    new_id_col: str = "doc_id_1",
    cluster_col: str = "cluster_id",
    dist_col: str = "dist",
) -> DataFrame:
    """The assignment core shared by every incremental mode (reference
    model.py:651-672): average distance per (new doc, cluster), argmin
    cluster per doc (ties -> smaller cluster id), keep when avg < eps.
    The average is rounded to 6 decimals before the comparison so the
    result is independent of floating summation order (cross-engine /
    cross-partitioning determinism).

    cross_dists: (new_id, cluster, dist) one row per scored (new, member)
    pair. Returns (doc_id, cluster_id).
    """
    avg = cross_dists.groupBy(new_id_col, cluster_col).agg(
        F.round(F.avg(dist_col), 6).alias("avg_dist")
    )
    w = Window.partitionBy(new_id_col).orderBy(
        F.col("avg_dist").asc(), F.col(cluster_col).asc()
    )
    return (
        avg.withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") == 1) & (F.col("avg_dist") < eps))
        .select(F.col(new_id_col).alias("doc_id"), F.col(cluster_col).alias("cluster_id"))
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


def resplit_altered_clusters(
    existing_docs: DataFrame,
    existing_clusters: DataFrame,
    altered_clusters: DataFrame,
    config: ERConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """I2 pre-clustering step (reference model.py:570-599): re-cluster each
    altered cluster's members among themselves (no seeds), mirroring how
    the batch engine WOULD split the claimed profile.

    Returns (seed_clusters, recluster_map):
      seed_clusters: (doc_id, cluster_id STRING) — like existing_clusters
        but with each altered cluster that splits into >1 parts replaced
        by subcluster ids ``<orig>__<component-min>``; clusters that stay
        whole keep their original id, stringified (the whole seed space is
        cast to string so subcluster and original ids can share a column;
        the caller maps winners back to native ids). Reference: remap only
        when ``len(reclustered_output) > 1``.
      recluster_map: (cluster_id STRING, orig_cluster_id native) rows ONLY
        for remapped subclusters.
    """
    cfg = config or ERConfig()
    altered = altered_clusters.select("cluster_id").distinct()
    members = existing_clusters.join(F.broadcast(altered), "cluster_id").select(
        "doc_id", F.col("cluster_id").alias("orig_cluster_id")
    )
    member_docs = existing_docs.join(members, "doc_id", "left_semi")

    # batch scoring stack over altered members only; pairs restricted to
    # the SAME original cluster (the reference re-clusters per cluster —
    # cross-cluster pairs must not merge two altered clusters here)
    scored = scored_pair_distances(member_docs, cfg, seeds=None)
    m1 = members.select(
        F.col("doc_id").alias("doc_id_1"), F.col("orig_cluster_id").alias("oc1")
    )
    m2 = members.select(
        F.col("doc_id").alias("doc_id_2"), F.col("orig_cluster_id").alias("oc2")
    )
    edges = (
        scored.where(F.col("dist") <= (1.0 - cfg.tau))
        .join(m1, "doc_id_1")
        .join(m2, "doc_id_2")
        .where(F.col("oc1") == F.col("oc2"))
        .select(F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst"))
    )
    sub = clusters_from_edges(edges, members.select("doc_id")).withColumnRenamed(
        "cluster_id", "sub_id"
    )
    release_persisted(scored)  # CC materialized the edges
    sub = sub.join(members, "doc_id")

    n_parts = sub.groupBy("orig_cluster_id").agg(
        F.countDistinct("sub_id").alias("n_parts")
    )
    sub = sub.join(F.broadcast(n_parts), "orig_cluster_id").withColumn(
        "cluster_id",
        F.when(
            F.col("n_parts") > 1,
            F.concat_ws("__", F.col("orig_cluster_id").cast("string"),
                        F.col("sub_id").cast("string")),
        ).otherwise(F.col("orig_cluster_id").cast("string")),
    )
    recluster_map = (
        sub.where(F.col("n_parts") > 1)
        .select("cluster_id", "orig_cluster_id")
        .distinct()
    )
    seed_clusters = (
        existing_clusters.join(F.broadcast(altered), "cluster_id", "left_anti")
        .select("doc_id", F.col("cluster_id").cast("string").alias("cluster_id"))
        .unionByName(sub.select("doc_id", "cluster_id"))
    )
    return seed_clusters, recluster_map


def _incompatibility_gate(
    best: DataFrame, new_m: DataFrame, member_m_orig: DataFrame
) -> DataFrame:
    """Reference model.py:684-717 — drop winners whose first name is not
    a prefix-match of any EXISTING multi-char first name in the claimed
    cluster (clusters with only initials admit anyone). ``best`` must
    carry ``was_resplit`` (the gate only applies to docs that joined via
    a re-split subcluster). Returns the gated best."""
    firsts = (
        member_m_orig.where(F.length("first") > 1)
        .groupBy("cluster_id")
        .agg(F.collect_set("first").alias("cluster_firsts"))
    )
    cand = (
        best.join(new_m.select("doc_id", F.col("first").alias("new_first")), "doc_id")
        .join(F.broadcast(firsts), "cluster_id", "left")
    )
    prefix_ok = F.exists(
        F.col("cluster_firsts"),
        lambda f: f.startswith(F.col("new_first")) | F.col("new_first").startswith(f),
    )
    allowed = (
        ~F.col("was_resplit")
        | F.col("cluster_firsts").isNull()
        | (F.size("cluster_firsts") == 0)
        | prefix_ok
    )
    return cand.where(allowed).select("doc_id", "cluster_id")


def assign_incremental(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    existing_clusters: DataFrame,  # (doc_id, cluster_id)
    config: ERConfig | None = None,
    eps: float | None = None,
    altered_clusters: DataFrame | None = None,
    prevent_new_incompatibilities: bool = True,
) -> DataFrame:
    """Returns (doc_id, cluster_id) for ALL docs, one row each: existing
    keep their cluster; new docs join the argmin-average-distance cluster
    when that average < eps (reference model.py:533-741); the rest form
    new clusters via the batch pipeline among themselves. A doc of
    ``new_docs`` that ``existing_clusters`` already assigns is a
    re-delivery and is ignored (it would pair with its own member row).

    With ``altered_clusters`` (a (cluster_id) frame), those clusters are
    re-split first (I2) and assignment runs against the subclusters; the
    claimed profile is restored on output, subject to the name-
    incompatibility gate.

    The argmin assignments are built eagerly and persisted on the
    result's behalf: call ``release_persisted`` on it once it is written.
    """
    cfg = config or ERConfig()
    eps = (1.0 - cfg.tau) if eps is None else eps
    new_docs = new_docs.join(existing_clusters, "doc_id", "left_anti")

    new_m = extract_mentions(new_docs, ascii_fast_path=cfg.ascii_fast_path).select(
        *MENTION_COLS
    )
    recluster_map = None
    if altered_clusters is not None:
        seed_clusters, recluster_map = resplit_altered_clusters(
            existing_docs, existing_clusters, altered_clusters, cfg
        )
    else:
        seed_clusters = existing_clusters

    member_m = (
        extract_mentions(existing_docs, ascii_fast_path=cfg.ascii_fast_path)
        .select(*MENTION_COLS)
        .join(seed_clusters, "doc_id")
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
    best = assigned = (
        argmin_assign(_score_cross_pairs(new_m, member_m, cfg), eps)
        .coalesce(parallelism)
        .persist()
    )
    assigned.count()

    if recluster_map is not None:
        # undo the re-clustering: subcluster winners map back to the
        # claimed cluster id (reference model.py:676-681). Seed ids are
        # strings; the map back to NATIVE ids is identity rows for every
        # original cluster plus the re-split rows (was_resplit=True). A
        # plain shuffle join — the cluster-id set is not broadcastable at
        # scale.
        identity = existing_clusters.select("cluster_id").distinct().select(
            F.col("cluster_id").cast("string").alias("seed_cluster_id"),
            F.col("cluster_id").alias("orig_cluster_id"),
            F.lit(False).alias("was_resplit"),
        )
        remap = recluster_map.select(
            F.col("cluster_id").alias("seed_cluster_id"),
            "orig_cluster_id",
            F.lit(True).alias("was_resplit"),
        )
        best = (
            best.withColumnRenamed("cluster_id", "seed_cluster_id")
            .join(identity.unionByName(remap), "seed_cluster_id")
            .select(
                "doc_id",
                F.col("orig_cluster_id").alias("cluster_id"),
                "was_resplit",
            )
        )
        if prevent_new_incompatibilities:
            member_m_orig = (
                extract_mentions(existing_docs, ascii_fast_path=cfg.ascii_fast_path)
                .select(*MENTION_COLS)
                .join(existing_clusters, "doc_id")
            )
            best = _incompatibility_gate(best, new_m, member_m_orig)
        else:
            best = best.select("doc_id", "cluster_id")

    leftovers = new_docs.join(best, "doc_id", "left_anti")
    leftover_clusters = run_pipeline(leftovers, cfg)["clusters"].select(
        "doc_id", "cluster_id"
    )
    out = (
        existing_clusters.select("doc_id", "cluster_id")
        .unionByName(best.select("doc_id", "cluster_id"))
        .unionByName(leftover_clusters)
    )
    out._persisted_deps = [assigned]  # type: ignore[attr-defined]
    return out
