#!/usr/bin/env python
"""Incremental ER job — the reference's incremental mode
(``Clusterer.predict_incremental``, s2and/model.py:533-741) as a
spark-submit CLI:

    zip -r pkg.zip ent_res_feedback_spark
    spark-submit --master <cluster> --py-files pkg.zip jobs/run_incremental_job.py \
        --input  <new documents parquet: doc_id, spans> \
        --prior  <output dir of an earlier run_er_job / run_incremental_job run> \
        --output <dir> \
        [--tau 0.5] [--salt-threshold 2000] [--salt-buckets 8]

Reads <prior>/clusters (doc_id, cluster_id, spans), which holds both the
existing documents and their assignments, and writes <output>/clusters in
the same layout (spans selected from the source rows), so runs chain:
each output can be the next run's --prior. Existing docs keep their
cluster, and a doc_id already in the prior is ignored (a re-delivery).
A new doc joins the cluster whose average distance to it is below
1 - tau; the rest are clustered among themselves as new clusters.

A run never writes under --prior, so a crash leaves the prior state
intact; --output equal to or inside --prior is rejected.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _qualified(spark: SparkSession, path: str) -> str:
    """``path`` as a fully qualified URI (scheme, authority, no trailing
    slash), so ``/x``, ``/x/`` and ``file:///x`` compare equal."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return hpath.getFileSystem(conf).makeQualified(hpath).toString()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--prior", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--tau", type=float, default=0.5)
    p.add_argument("--salt-threshold", type=int, default=2000)
    p.add_argument("--salt-buckets", type=int, default=8)
    args = p.parse_args()

    from ent_res_feedback_spark.operators.incremental import assign_incremental
    from ent_res_feedback_spark.pipeline import ERConfig, release_persisted

    spark = SparkSession.builder.appName("ent-res-incremental").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    prior_uri, output_uri = _qualified(spark, args.prior), _qualified(spark, args.output)
    if output_uri == prior_uri or output_uri.startswith(prior_uri + "/"):
        p.error("--output must not be --prior or inside it")

    prior = spark.read.parquet(os.path.join(args.prior, "clusters"))
    prior_docs = prior.select("doc_id", "spans")
    new_docs = spark.read.parquet(args.input).select("doc_id", "spans")
    cfg = ERConfig(
        tau=args.tau,
        salt_threshold=args.salt_threshold,
        num_salt_buckets=args.salt_buckets,
    )
    t0 = time.time()
    assigned = assign_incremental(
        new_docs, prior_docs, prior.select("doc_id", "cluster_id"), cfg
    )
    # spans of every assigned doc: a re-delivered doc keeps its prior row
    spans = prior_docs.unionByName(new_docs.join(prior_docs, "doc_id", "left_anti"))
    assigned.join(spans, "doc_id").select("doc_id", "cluster_id", "spans").write.mode(
        "overwrite"
    ).parquet(os.path.join(args.output, "clusters"))
    release_persisted(assigned)
    print(
        json.dumps(
            {
                "total_wall_sec": round(time.time() - t0, 3),
                "input": args.input,
                "prior": args.prior,
                "tau": args.tau,
                "salt_threshold": args.salt_threshold,
                "salt_buckets": args.salt_buckets,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
