#!/usr/bin/env python
"""Feedback / active-learning simulation job (reference ecc.py:783-897
re-expressed per SURVEY.md §2.10) — ships like run_er_job:

    spark-submit --master <cluster> --py-files pkg.zip jobs/run_feedback_job.py \
        --input <documents parquet> \
        --labels <labeled_pairs parquet: doc_id_1, doc_id_2, label> \
        --output <dir> [--rounds 5] [--pairs-per-round 20] [--tau 0.5]

Per round: approxQuantile uncertainty sampling near tau, gold labels
folded in as require/disallow seed constraints, and ONLY the touched
blocks re-scored (partition lineage). Writes final clusters parquet plus
a per-round metric history JSON (pairwise F1 vs the labeled pairs — the
acceptance-metric shape, s2and/eval.py:871-1061).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--labels", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--rounds", type=int, default=5)
    p.add_argument("--pairs-per-round", type=int, default=20)
    p.add_argument("--tau", type=float, default=0.5)
    p.add_argument("--salt-threshold", type=int, default=2000)
    p.add_argument("--refit-every", type=int, default=None,
                   help="refit logistic weights every k rounds (FB1)")
    args = p.parse_args()

    from ent_res_feedback_spark.operators.feedback import run_feedback_loop
    from ent_res_feedback_spark.operators.metrics import pairwise_prf
    from ent_res_feedback_spark.pipeline import ERConfig
    from ent_res_feedback_spark.session import write_text

    spark = SparkSession.builder.appName("ent-res-feedback-loop").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.input)
    labeled = spark.read.parquet(args.labels)

    # The simulation oracle: the labeled-pair budget is small by design
    # (it stands in for a human), so a driver-side dict is the right shape
    # — the reference's simulate() does the same (ecc.py:845-860).
    gold = {
        (r["doc_id_1"], r["doc_id_2"]): int(r["label"])
        for r in labeled.select("doc_id_1", "doc_id_2", "label").collect()
    }

    def labeler(a: str, b: str) -> int | None:
        # None (= abstain) for pairs the gold file doesn't cover:
        # defaulting to 0 would silently inject gold-negative 'disallow'
        # constraints for genuinely unlabeled pairs
        return gold.get((a, b), gold.get((b, a)))

    def metric_fn(clusters_df):
        assignments = clusters_df.select("doc_id", "cluster_id")
        return pairwise_prf(labeled, assignments)["f1"]

    cfg = ERConfig(tau=args.tau, salt_threshold=args.salt_threshold)
    res = run_feedback_loop(
        docs,
        labeler,
        cfg,
        max_rounds=args.rounds,
        pairs_per_round=args.pairs_per_round,
        metric_fn=metric_fn,
        refit_every=args.refit_every,
    )
    res["clusters"].select("doc_id", "cluster_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(args.output, "clusters"))
    history = res["state"].history
    write_text(
        spark,
        os.path.join(args.output, "history.json"),
        json.dumps(history, indent=2),
    )
    print(json.dumps({"rounds": res["state"].rounds, "history": history}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
