#!/usr/bin/env python
"""Round-6 optimization probes (bench.py is frozen for measurement; this
file carries the guide-§1.4 noop-sink isolation probes and config A/Bs
cited in OPTIMIZATION_r06.md).

Usage:
  python bench_extra.py queries q1 [q2 ...]   # noop-sink time per query
  python bench_extra.py pieces                # piecewise probes of the
                                              # slow queries
Env:
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS       # same contract as bench.py
  BENCH_EXTRA_CONF="k=v,k=v"                  # extra session conf (A/B)
  BENCH_EXTRA_REPEATS=N                       # default 3 (first = warm-up)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))


def _spark():
    from ent_res_feedback_spark.session import get_spark

    extra = {}
    for kv in os.environ.get("BENCH_EXTRA_CONF", "").split(","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    return get_spark("bench-extra", cores=CPUS, extra_conf=extra)


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def _timed(spark, name, make):
    """First run is warm-up (reported), then REPEATS-1 repeats; median of
    the repeats (query construction included — same as bench.py)."""
    walls = []
    for i in range(REPEATS):
        spark.sparkContext.setJobDescription(f"{name}#{i}")
        t0 = time.time()
        df = make()
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    rest = sorted(walls[1:]) or walls
    return {"cold": walls[0], "median_warm": rest[len(rest) // 2],
            "all": walls}


def run_queries(names):
    import __spark_entry__ as entry

    spark = _spark()
    qs = entry.queries()
    out = {}
    for n in names:
        out[n] = _timed(spark, n, lambda n=n: qs[n](spark, SF_DIR))
    print(json.dumps(out))


def run_pieces():
    """Piecewise probes of the expensive queries (noop sink each)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from ent_res_feedback_spark.functions.text import normalize_text_ascii
    from ent_res_feedback_spark.operators.blocking import (
        add_minhash_band_keys,
        word_shingles,
    )
    from ent_res_feedback_spark.operators.pairs import within_block_pairs
    from ent_res_feedback_spark.operators.similarity import (
        _lsh_candidate_ids,
    )

    spark = _spark()
    out = {}

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out["n_docs"] = docs.count()
    out["n_emb"] = emb.count()

    # --- dedup_near_jaccard pieces ---
    norm = normalize_text_ascii(F.col("text"))
    slim = docs.select(F.col("doc_id"), norm.alias("_norm")).withColumn(
        "tokens", word_shingles(F.col("_norm"), 3)
    )
    out["dnj_shingles"] = _timed(
        spark, "dnj_shingles", lambda: slim
    )
    banded = add_minhash_band_keys(
        slim, "_norm", num_bands=4, rows_per_band=4, seed=42, shingle_n=3
    )
    out["dnj_banded"] = _timed(
        spark, "dnj_banded", lambda: banded.select("band_key", "doc_id")
    )
    cand = (
        within_block_pairs(
            banded.select("band_key", "doc_id"), key="band_key",
            id_col="doc_id",
        )
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    out["dnj_cand_ids"] = _timed(spark, "dnj_cand_ids", lambda: cand)
    out["dnj_n_cands"] = cand.count()

    # --- ann_topk_lsh pieces ---
    cands = _lsh_candidate_ids(emb, 4, 4, 64, 42, "vec_id", "embedding")
    out["lsh_cand_ids"] = _timed(spark, "lsh_cand_ids", lambda: cands)
    out["lsh_n_cands"] = cands.count()

    # --- er pair path pieces ---
    d = entry._doc_feats(spark, SF_DIR)
    out["er_doc_feats"] = _timed(spark, "er_doc_feats", lambda: d)
    pairs = within_block_pairs(
        d, key="block_key", id_col="doc_id", salt_threshold=500,
        num_salt_buckets=4,
    )
    out["er_pairs_only"] = _timed(
        spark, "er_pairs_only",
        lambda: pairs.select("doc_id_1", "doc_id_2", "block_key"),
    )
    out["er_n_pairs"] = pairs.count()
    out["er_pair_features"] = _timed(
        spark, "er_pair_features",
        lambda: entry._er_pair_features(entry._doc_feats(spark, SF_DIR)),
    )
    out["er_pair_scores"] = _timed(
        spark, "er_pair_scores",
        lambda: entry._er_pair_scores(entry._doc_feats(spark, SF_DIR)),
    )
    edges = entry._er_pair_scores(entry._doc_feats(spark, SF_DIR)).where(
        F.col("score") >= entry.TAU
    )
    out["er_n_edges"] = edges.count()
    out["er_clusters"] = _timed(
        spark, "er_clusters",
        lambda: entry._er_clusters(entry._doc_feats(spark, SF_DIR)),
    )
    print(json.dumps(out))


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "pieces"
    if mode == "queries":
        run_queries(sys.argv[2:])
    else:
        run_pieces()


if __name__ == "__main__":
    main()
