"""End-to-end entity-resolution pipeline (the flagship job).

documents(doc_id, spans) ->
  mentions (normalize + blocking key, narrow) ->
  within-block pairs (skew-salted self-join, shuffle) ->
  constraint gate (cheap column chain BEFORE the UDFs — C2) ->
  featurize unconstrained pairs (Arrow-batched UDF + JVM exprs) ->
  logistic score -> dist = coalesce(constraint, 1-score) ->
  tau-filter edges -> connected components (driver finish when the
  census bounds the edges, else checkpointed star rounds) ->
  clusters joined back onto source rows (spans carried untouched).

Physical shape (SURVEY.md §3.1 restatement): the wide shuffles are the
block census aggregate, the pair join (block repartition implied by the
join) and the singleton join-back of the clusters, plus the CC star
rounds only when the census does not bound the edges; everything else is
narrow. Constraint evaluation precedes the pandas UDFs so disallowed
pairs never pay for featurization. The mention frame is extracted once
and persisted; ONE eager action (``blocking.materialize_census``)
aggregates its block census and observes the largest block and the total
within-block pair count. That census decides the pair path — the plain
equi-join unless a block exceeds ``salt_threshold``, then the salted
self-join with the census's hot keys broadcast — and is the lineage
table, so neither the pair plan nor the lineage write aggregates the
census again or re-extracts mentions. Its pair count bounds the edges:
at or below ``cc.FINISH_EDGE_THRESHOLD`` (5M) the edge plan runs once,
as a ``toArrow()`` collect into the driver-side union-find, and the
assignments come back as local data — no edge checkpoint, no ``distinct``
shuffle, and no Python task in the clusters write. Only a job whose
census allows more edges writes the CC checkpoint store and runs the
star-round shuffles.

Emits a per-block *lineage* table (block -> sizes, pair counts, salt
decision) — the partition-level lineage metadata the feedback loop uses
to recompute only affected blocks — plus run metrics.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.blocking import BlockCensus, materialize_census
from ent_res_feedback_spark.operators.cc import (
    components_with_singletons,
    connected_components,
)
from ent_res_feedback_spark.operators.constraints import apply_constraints
from ent_res_feedback_spark.operators.features import mention_pair_features
from ent_res_feedback_spark.operators.mentions import extract_mentions
from ent_res_feedback_spark.operators.pairs import within_block_pairs
from ent_res_feedback_spark.operators.scoring import score_pairs
from ent_res_feedback_spark.oracle import DEFAULT_TAU, DEFAULT_WEIGHTS

MENTION_COLS = ["doc_id", "block_key", "first", "middle", "last", "affil_norm"]


@dataclass
class ERConfig:
    tau: float = DEFAULT_TAU
    weights: dict = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    salt_threshold: int | None = 2000
    num_salt_buckets: int = 8
    max_block_size: int | None = None
    checkpoint_dir: str | None = None
    ascii_fast_path: bool = False


def _mentions_and_census(
    docs: DataFrame, cfg: ERConfig
) -> tuple[DataFrame, BlockCensus]:
    """The persisted mention frame (``MENTION_COLS``) and its block
    census, materialized by one eager action that also fills the cache.
    Persist: the frame feeds the census and both join sides — without it
    the unicode-fold UDF subtree re-executes for every consumer (measured
    2-3x pipeline wall). The caller releases it (``release_persisted``)."""
    mentions = extract_mentions(
        docs, ascii_fast_path=cfg.ascii_fast_path
    ).select(*MENTION_COLS).persist()
    # nameless documents share block "": it is in the census (and the
    # lineage) but never pairs, so it does not count toward the hot
    # decision
    census = materialize_census(
        mentions, "block_key", counted=F.length("block_key") > 0
    )
    return mentions, census


def scored_pair_distances(
    docs: DataFrame,
    config: ERConfig | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """documents -> (doc_id_1, doc_id_2, block_key, score, constraint_dist,
    dist). The reusable first half of the pipeline (feedback re-scores it
    per affected block). Eager: the block census is materialized here."""
    cfg = config or ERConfig()
    mentions, census = _mentions_and_census(docs, cfg)
    return _scored(mentions, census, cfg, seeds)


def _scored(
    mentions: DataFrame,
    census: BlockCensus,
    cfg: ERConfig,
    seeds: DataFrame | None,
) -> DataFrame:
    # nameless (e.g. media-only) documents carry no match evidence: exclude
    # from pairing — they'd otherwise all collide in block "" (quadratic).
    slim = mentions.where(F.length("block_key") > 0)
    pairs = within_block_pairs(
        slim,
        key="block_key",
        id_col="doc_id",
        salt_threshold=cfg.salt_threshold,
        num_salt_buckets=cfg.num_salt_buckets,
        max_block_size=cfg.max_block_size,
        census=census,
    )
    out = gated_scores(apply_constraints(pairs, seeds), cfg.weights).select(
        "doc_id_1", "doc_id_2", "block_key", "score", "constraint_dist", "dist"
    )
    # persist lifecycle: the caller owns it — after materializing the
    # scored frame (checkpoint / sink write), call release_persisted(out)
    # so iterating callers (the feedback loop) don't accumulate cached
    # partitions for the driver lifetime.
    out._persisted_deps = [mentions]  # type: ignore[attr-defined]
    return out


def gated_scores(pairs: DataFrame, weights: dict) -> DataFrame:
    """The C2 gate over a pair frame that carries ``constraint_dist``
    (``apply_constraints``): unconstrained pairs are featurized and
    scored (``dist = 1 - score``); constrained pairs skip the UDFs and
    take ``dist = constraint_dist`` with a NULL score. Returns the pair
    columns plus ``score`` and ``dist``; callers select what they keep,
    and the optimizer prunes the rest in both branches. Without seeds no
    constraint distance passes the tau filter, so an edge plan built on
    this keeps one pair join and no ``Union``."""
    cols = pairs.columns
    unconstrained = pairs.where(F.col("constraint_dist").isNull())
    scored_u = score_pairs(mention_pair_features(unconstrained), weights).select(
        *cols, "score", (1.0 - F.col("score")).alias("dist")
    )
    scored_c = pairs.where(F.col("constraint_dist").isNotNull()).select(
        *cols,
        F.lit(None).cast("double").alias("score"),
        F.col("constraint_dist").alias("dist"),
    )
    return scored_u.unionByName(scored_c)


def tau_edges(scored: DataFrame, tau: float) -> DataFrame:
    """The CC input of a scored pair frame: pairs within distance
    ``1 - tau`` as ``(src, dst)``."""
    return scored.where(F.col("dist") <= (1.0 - tau)).select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    )


def release_persisted(df: DataFrame) -> None:
    """Unpersist the intermediate frames a pipeline function persisted on
    behalf of ``df`` (recorded in ``_persisted_deps``). Call once ``df``
    has been materialized (checkpointed or written); later re-use of the
    lazy frame stays correct, it just recomputes."""
    for dep in getattr(df, "_persisted_deps", []):
        dep.unpersist()


def clusters_from_edges(
    edges: DataFrame,
    nodes: DataFrame,
    edge_bound: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The clustering tail of every ER chain: connected components of
    ``edges`` (``src``, ``dst``), joined back onto ``nodes`` (keyed by
    ``doc_id``; edge-less nodes become singletons) with the component as
    ``cluster_id``. ``nodes`` keeps its other columns. CC is eager (see
    ``connected_components``); the join-back is lazy."""
    assignments = connected_components(
        edges, checkpoint_dir=checkpoint_dir, edge_bound=edge_bound
    )
    return components_with_singletons(
        assignments, nodes, "doc_id"
    ).withColumnRenamed("component", "cluster_id")


def run_pipeline(
    docs: DataFrame,
    config: ERConfig | None = None,
    seeds: DataFrame | None = None,
) -> dict:
    """Full pipeline. Returns dict with:

    clusters: (doc_id, cluster_id, spans) — spans are the SOURCE column,
              selected not rebuilt (span-sequence equality by construction).
              CC is eager: when the census pair count is at or below
              ``cc.FINISH_EDGE_THRESHOLD`` the edges are collected and solved
              on the driver and the assignments are local data, so the
              clusters plan is the docs joined to them (no Python node)
              and ``checkpoint_dir`` is left untouched; otherwise CC
              writes and resumes from the checkpoint store.
    scored:   the pair-distance frame
    lineage:  per-block lineage/metrics table: the job's one block census
              (materialized eagerly, ``localCheckpoint``) plus the salt
              flag. Writing it reads that census only — no mention
              re-extraction, no Python — and it stays readable after the
              job's persisted frames are released.
    metrics:  driver-side dict: ``wall_sec`` and ``tau``. No row or
              cluster counts: each would be a full extra job, and a
              mandatory stage barrier per run is exactly the fixed cost
              that caps scaling efficiency — callers count from the sink
              write instead.
    """
    cfg = config or ERConfig()
    t0 = time.time()

    # scored is consumed ONCE on the main path (edge filter) — persisting it
    # would spill the full pair frame (O(pairs) bytes) for no reuse; callers
    # that iterate (the feedback loop) checkpoint it themselves.
    mentions, census = _mentions_and_census(docs, cfg)
    scored = _scored(mentions, census, cfg, seeds)
    # every edge is a within-block pair of a counted block, so the census
    # pair count bounds the edge count before any edge is computed
    clusters = clusters_from_edges(
        tau_edges(scored, cfg.tau),
        docs,
        edge_bound=census.pairs,
        checkpoint_dir=cfg.checkpoint_dir,
    )
    # connected_components materialized the edge set (collected for the
    # driver finish, or checkpointed), so the persisted mentions frame has
    # served its purpose — release it now rather than leaking cached
    # partitions for the driver lifetime.
    release_persisted(scored)

    lineage = census.frame.withColumn(
        "salted",
        (F.col("block_size") > cfg.salt_threshold)
        if cfg.salt_threshold is not None
        else F.lit(False),
    )

    return {
        "clusters": clusters,
        "scored": scored,
        "lineage": lineage,
        "metrics": {"wall_sec": time.time() - t0, "tau": cfg.tau},
    }
