#!/usr/bin/env python
"""Cluster-evaluation job — the reference's eval surface
(s2and/eval.py: B3, per-signature facets, pairwise F1, v-measure) as a
spark-submit CLI:

    zip -r pkg.zip ent_res_feedback_spark
    spark-submit --master <cluster> --py-files pkg.zip jobs/run_eval_job.py \
        --pred <clusters parquet: doc_id, cluster_id> \
        --gold <clusters parquet: doc_id, cluster_id> \
        --output <dir> \
        [--blocks <parquet: doc_id, block_key>] \
        [--labeled <parquet: doc_id_1, doc_id_2, label>] \
        [--signatures <parquet: doc_id, block_key, full_name>]

Writes:
  <output>/summary.json   B3 P/R/F1, pairwise cluster P/R/F1 (+ macro F1
                          when --blocks given, AUROC/AP when --labeled
                          has a score column), v-measure
  <output>/b3_per_item    per-item B3 rows
  <output>/facets         derived structural facets (when --signatures
                          given)
  <output>/facet_b3       B3 per facet bucket (facet, precision, recall,
                          f1, n), facet "<column>=<value>" for block_size,
                          cluster_size, homonymity and synonymity (when
                          --signatures given)

Every metric is the distributed formulation — nothing but final scalars
reaches the driver.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

#: derived facet columns that ``facet_b3`` buckets B3 by
FACET_COLS = ("block_size", "cluster_size", "homonymity", "synonymity")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--pred", required=True)
    p.add_argument("--gold", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--blocks")
    p.add_argument("--signatures")
    p.add_argument("--labeled")
    args = p.parse_args()

    from ent_res_feedback_spark.operators.facets import derive_facets
    from ent_res_feedback_spark.operators.metrics import (
        auroc_ap,
        b3,
        b3_per_item,
        cmacro_pairwise_f1,
        facet_eval,
        pairwise_cluster_prf,
        pairwise_prf,
        v_measure,
    )
    from ent_res_feedback_spark.session import write_text

    spark = SparkSession.builder.appName("ent-res-eval").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    pred = spark.read.parquet(args.pred).select("doc_id", "cluster_id")
    gold = spark.read.parquet(args.gold).select("doc_id", "cluster_id")

    summary: dict = {
        "b3": b3(pred, gold),
        "pairwise_cluster": pairwise_cluster_prf(pred, gold),
        "v_measure": v_measure(pred, gold),
    }

    per_item = b3_per_item(pred, gold)
    per_item.write.mode("overwrite").parquet(
        os.path.join(args.output, "b3_per_item")
    )

    if args.blocks:
        blocks = spark.read.parquet(args.blocks).select("doc_id", "block_key")
        summary["cmacro_pairwise_f1"] = cmacro_pairwise_f1(pred, gold, blocks)

    if args.signatures:
        # (doc_id, block_key, full_name): derive the reference's
        # structural facets against the GOLD partition (eval.py derives
        # homonymity/synonymity from gold cluster membership)
        sig = spark.read.parquet(args.signatures).select(
            "doc_id", "block_key", "full_name"
        ).join(gold, "doc_id")
        facets = derive_facets(
            sig, id_col="doc_id", block_col="block_key",
            name_col="full_name", cluster_col="cluster_id",
        )
        facets.write.mode("overwrite").parquet(
            os.path.join(args.output, "facets")
        )
        # one (doc_id, "<col>=<value>") row per facet column, so a single
        # facet_eval call computes per-item B3 once for every facet
        buckets = facets.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
                    for c in FACET_COLS
                ])
            ).alias("facet"),
        )
        facet_eval(pred, gold, buckets, "facet").write.mode("overwrite").parquet(
            os.path.join(args.output, "facet_b3")
        )

    if args.labeled:
        labeled = spark.read.parquet(args.labeled)
        summary["pairwise_labeled"] = pairwise_prf(labeled, pred)
        if "score" in labeled.columns:
            summary["auroc_ap"] = auroc_ap(labeled)

    write_text(
        spark,
        os.path.join(args.output, "summary.json"),
        json.dumps(summary, indent=2, default=float),
    )
    print("SUMMARY " + json.dumps(summary, default=float))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
