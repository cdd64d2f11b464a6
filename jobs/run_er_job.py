#!/usr/bin/env python
"""Production ER job — ships as:

    zip -r pkg.zip ent_res_feedback_spark
    spark-submit --master <cluster> --py-files pkg.zip jobs/run_er_job.py \
        --input  <documents parquet/Iceberg path> \
        --output <clusters path> \
        --checkpoint-dir <CC checkpoint path> \
        --metrics-dir <lineage+metrics path> \
        [--tau 0.5] [--salt-threshold 2000] [--salt-buckets 8]

Reads documents(doc_id, spans), writes:
  <output>/clusters       (doc_id, cluster_id, spans)  — spans untouched
  <metrics-dir>/lineage   per-block lineage (block_key, sizes, salt flag)
  <metrics-dir>/metrics.json  throughput + run config

Connected components checkpoints to --checkpoint-dir only when the block
census allows more edges than its driver-finish threshold (5M); then a
re-run with the same --checkpoint-dir resumes from the last completed
iteration (exact resume). A job under that bound finishes CC on the
driver without writing the directory, and a re-run recomputes it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--metrics-dir", required=True)
    p.add_argument("--tau", type=float, default=0.5)
    p.add_argument("--salt-threshold", type=int, default=2000)
    p.add_argument("--salt-buckets", type=int, default=8)
    p.add_argument("--max-block-size", type=int, default=None)
    p.add_argument("--seeds", default=None, help="optional seed-constraints parquet")
    p.add_argument(
        "--sink-buckets",
        type=int,
        default=0,
        help="if >0, write clusters partitioned by pmod(xxhash64(cluster_id), N) "
        "— co-locates each cluster's rows in one folder for downstream "
        "cluster-scoped reads without a shuffle (partitioning by raw "
        "cluster_id would create one dir per cluster: 10^9+ dirs at scale)",
    )
    args = p.parse_args()

    from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline
    from ent_res_feedback_spark.session import write_text

    spark = SparkSession.builder.appName("ent-res-er").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.input)
    seeds = spark.read.parquet(args.seeds) if args.seeds else None
    cfg = ERConfig(
        tau=args.tau,
        salt_threshold=args.salt_threshold,
        num_salt_buckets=args.salt_buckets,
        max_block_size=args.max_block_size,
        checkpoint_dir=args.checkpoint_dir,
    )
    t0 = time.time()
    res = run_pipeline(docs, cfg, seeds=seeds)
    clusters = res["clusters"]
    writer = clusters.write.mode("overwrite")
    if args.sink_buckets > 0:
        from pyspark.sql import functions as F

        clusters = clusters.withColumn(
            "cluster_bucket",
            F.pmod(F.xxhash64("cluster_id"), F.lit(args.sink_buckets)).cast("int"),
        )
        writer = clusters.write.mode("overwrite").partitionBy("cluster_bucket")
    writer.parquet(os.path.join(args.output, "clusters"))
    res["lineage"].write.mode("overwrite").parquet(
        os.path.join(args.metrics_dir, "lineage")
    )
    metrics = dict(res["metrics"])
    metrics.update(
        {
            "total_wall_sec": round(time.time() - t0, 3),
            "input": args.input,
            "tau": args.tau,
            "salt_threshold": args.salt_threshold,
            "salt_buckets": args.salt_buckets,
        }
    )
    write_text(
        spark,
        os.path.join(args.metrics_dir, "metrics.json"),
        json.dumps(metrics, indent=2),
    )
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
