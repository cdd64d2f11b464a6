"""The traced run: each layer of the ER chain called through its public
function, its output materialized, and the Spark jobs it launched tagged.

``traced_er_job`` composes the same calls as ``pipeline.run_pipeline``
plus the sink writes of ``jobs/run_er_job.py``, but persists and counts
at every layer cut so each layer's time and row counts are its own. The
cuts break whole-stage fusion, so these times add up to more than an
untraced job; end-to-end figures come from untraced runs only.

``traced_feedback_loop`` runs ``operators.feedback.run_feedback_loop``
unchanged and splits each round at its public callbacks: the labeler
(first call ends candidate selection) and ``metric_fn`` (start ends the
re-score and re-cluster step).
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.blocking import block_census
from ent_res_feedback_spark.operators.cc import (
    components_with_singletons,
    connected_components,
)
from ent_res_feedback_spark.operators.constraints import apply_constraints
from ent_res_feedback_spark.operators.features import mention_pair_features
from ent_res_feedback_spark.operators.feedback import run_feedback_loop
from ent_res_feedback_spark.operators.mentions import extract_mentions
from ent_res_feedback_spark.operators.pairs import within_block_pairs
from ent_res_feedback_spark.operators.scoring import score_pairs
from ent_res_feedback_spark.pipeline import MENTION_COLS


def _layer(out: dict, tracer, name: str, fn):
    """Run ``fn`` in a span named after the layer; record ``<name>.s``."""
    with tracer.span(name) as rec:
        result = fn()
    out[f"{name}.s"] = rec["end"] - rec["start"]
    return result


def traced_er_job(spark, tracer, docs_path, cfg, out_dir, n_docs) -> dict:
    """One ER job, layer by layer. Returns per-layer metrics; writes the
    clusters and lineage under ``out_dir`` like the untraced job."""
    m: dict = {}
    persisted = []

    def keep(df):
        persisted.append(df.persist())
        return df

    docs = spark.read.parquet(docs_path)

    def mentions_layer():
        df = keep(extract_mentions(docs, ascii_fast_path=cfg.ascii_fast_path))
        return df, df.count()

    mentions, m["mentions.rows"] = _layer(m, tracer, "mentions", mentions_layer)

    census = block_census(mentions.select(*MENTION_COLS))
    thr = cfg.salt_threshold

    def blocking_layer():
        return keep(census).agg(
            F.count(F.lit(1)).alias("blocks"),
            F.max("block_size").alias("max_block"),
            F.sum((F.col("block_size") > thr).cast("int")).alias("salted"),
        ).first()

    row = _layer(m, tracer, "blocking", blocking_layer)
    m["blocking.blocks"] = row["blocks"]
    m["blocking.max_block"] = row["max_block"]
    m["pairs.salted_blocks"] = row["salted"]

    def pairs_layer():
        slim = keep(
            mentions.select(*MENTION_COLS).where(F.length("block_key") > 0)
        )
        df = keep(within_block_pairs(
            slim,
            key="block_key",
            id_col="doc_id",
            salt_threshold=cfg.salt_threshold,
            num_salt_buckets=cfg.num_salt_buckets,
            max_block_size=cfg.max_block_size,
        ))
        return df, df.count()

    pairs, n_pairs = _layer(m, tracer, "pairs", pairs_layer)
    m["pairs.rows"] = n_pairs
    m["pairs.per_doc"] = n_pairs / max(n_docs, 1)

    def constraints_layer():
        df = keep(apply_constraints(pairs, None))
        return df, df.agg(F.count("constraint_dist")).first()[0]

    constrained, decided = _layer(m, tracer, "constraints", constraints_layer)
    m["constraints.decided_frac"] = decided / max(n_pairs, 1)

    def features_layer():
        df = keep(mention_pair_features(
            constrained.where(F.col("constraint_dist").isNull())
        ))
        return df, df.count()

    feats, m["features.rows"] = _layer(m, tracer, "features", features_layer)
    m["features.rows_per_s"] = m["features.rows"] / max(m["features.s"], 1e-9)

    def scoring_layer():
        df = keep(score_pairs(feats, cfg.weights))
        df.count()
        return df

    featurized = _layer(m, tracer, "scoring", scoring_layer)

    # the rest of scored_pair_distances + run_pipeline, same expressions
    scored = featurized.select(
        "doc_id_1", "doc_id_2", "block_key", F.col("score"),
        F.col("constraint_dist"), (1.0 - F.col("score")).alias("dist"),
    ).unionByName(
        constrained.where(F.col("constraint_dist").isNotNull()).select(
            "doc_id_1", "doc_id_2", "block_key",
            F.lit(None).cast("double").alias("score"),
            F.col("constraint_dist"), F.col("constraint_dist").alias("dist"),
        )
    )

    def cc_layer():
        edges = keep(scored.where(F.col("dist") <= (1.0 - cfg.tau)).select(
            F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
        ))
        n_edges = edges.count()
        assignments = connected_components(edges, checkpoint_dir=cfg.checkpoint_dir)
        clusters = keep(components_with_singletons(
            assignments, docs, "doc_id"
        ).withColumnRenamed("component", "cluster_id"))
        sizes = clusters.groupBy("cluster_id").count().agg(
            F.count(F.lit(1)), F.max("count")
        ).first()
        return clusters, n_edges, sizes

    clusters, n_edges, sizes = _layer(m, tracer, "cc", cc_layer)
    m["cc.edges"] = n_edges
    m["cc.edge_yield"] = n_edges / max(n_pairs, 1)
    m["cc.clusters"] = sizes[0]
    m["cc.largest_cluster"] = sizes[1]

    def sink_layer():
        clusters.write.mode("overwrite").parquet(f"{out_dir}/clusters")
        census.withColumn("salted", F.col("block_size") > thr).write.mode(
            "overwrite").parquet(f"{out_dir}/lineage")

    _layer(m, tracer, "sink", sink_layer)
    for df in persisted:
        df.unpersist()
    return m


def traced_feedback_loop(tracer, docs, labeler, metric_fn, cfg, rounds, per_round):
    """Run the shipped feedback loop; split every round at the callbacks.

    Round r runs from the end of round r-1's ``metric_fn`` to the end of
    its own. Within it, ``select`` ends at the round's first labeler call
    and ``rescore`` runs from the last labeler return to ``metric_fn``.
    """
    marks: list[dict] = []
    cur: dict = {"first_label": None, "last_label": None}

    def wrapped_labeler(a, b):
        now = time.perf_counter()
        if cur["first_label"] is None:
            cur["first_label"] = now
            cur["select_group"] = cur["group"]
            cur["group"] = tracer.new_group(f"feedback.rescore{len(marks)}")
        try:
            return labeler(a, b)
        finally:
            cur["last_label"] = time.perf_counter()

    def wrapped_metric(clusters_df):
        start = time.perf_counter()
        rescore_group = cur["group"]
        metric_group = tracer.new_group(f"feedback.metric{len(marks)}")
        value = metric_fn(clusters_df)
        end = time.perf_counter()
        marks.append({
            "t0": cur["t0"], "first_label": cur["first_label"],
            "last_label": cur["last_label"], "metric_start": start, "end": end,
            "select_group": cur.get("select_group"),
            "rescore_group": rescore_group, "metric_group": metric_group,
        })
        cur.update({
            "t0": end, "first_label": None, "last_label": None,
            "select_group": None,
            "group": tracer.new_group(f"feedback.select{len(marks)}"),
        })
        return value

    with tracer.span("feedback"):
        cur["group"] = tracer.new_group("feedback.round0")
        cur["t0"] = time.perf_counter()
        res = run_feedback_loop(
            docs, wrapped_labeler, cfg, max_rounds=rounds,
            pairs_per_round=per_round, metric_fn=wrapped_metric,
        )
        for i, mk in enumerate(marks):
            if i == 0:
                tracer.mark("feedback.round0", mk["t0"], mk["metric_start"],
                            mk["rescore_group"])
            else:
                tracer.mark("feedback.select", mk["t0"], mk["first_label"],
                            mk["select_group"])
                tracer.mark("feedback.rescore", mk["last_label"],
                            mk["metric_start"], mk["rescore_group"])
            tracer.mark("feedback.metric", mk["metric_start"], mk["end"],
                        mk["metric_group"])
    return res, marks


def feedback_metrics(tracer, res, marks) -> dict:
    """Per-round figures from the callback marks (after ``tracer.finish``)."""
    spans = {s["group"]: s for s in tracer.spans}
    later = marks[1:]
    groups = ("select_group", "rescore_group", "metric_group")

    def per_round(key):
        return statistics.median(
            sum(spans[mk[g]][key] for g in groups) for mk in later)

    rounds = [mk["end"] - mk["t0"] for mk in later]
    hist = res["state"].history
    return {
        "feedback.round0_s": marks[0]["end"] - marks[0]["t0"],
        "feedback.select_s": statistics.median(
            mk["first_label"] - mk["t0"] for mk in later),
        "feedback.rescore_s": statistics.median(
            mk["metric_start"] - mk["last_label"] for mk in later),
        "feedback.jobs_per_round": per_round("jobs"),
        "feedback.tasks_per_round": per_round("tasks"),
        "feedback.round_growth": rounds[-1] / rounds[0],
        "feedback.touched_blocks": len(res["state"].touched_blocks),
        "feedback.f1_gain": hist[-1]["metric"] - hist[0]["metric"],
    }
