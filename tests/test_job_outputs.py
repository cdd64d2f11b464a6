"""The spark-submit jobs, run in-process on ``file://`` URIs: the ER job
writes its JSON report on the filesystem of its output URI (not in a
local ``file:/...`` tree under the working directory), the incremental
job chains on an ER job's output, and the eval job writes per-facet B3."""

import importlib.util
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus

JOBS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


def _load_job(name):
    path = os.path.join(JOBS, f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_er_job_report_follows_the_output_uri(spark, tmp_path, monkeypatch):
    documents, _, _ = generate_corpus(CorpusConfig(n_entities=6, seed=5))
    docs_path = str(tmp_path / "docs")
    corpus_to_spark(spark, documents).write.parquet(docs_path)
    out, metrics = tmp_path / "out", tmp_path / "metrics"
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    monkeypatch.setattr(sys, "argv", [
        "run_er_job.py",
        "--input", docs_path,
        "--output", f"file://{out}",
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--metrics-dir", f"file://{metrics}",
    ])
    assert _load_job("run_er_job").main() == 0

    assert (out / "clusters").is_dir()
    assert (metrics / "lineage").is_dir()
    assert (metrics / "metrics.json").is_file()
    assert os.listdir(cwd) == []


def test_incremental_job_chains_on_the_er_job_output(spark, tmp_path, monkeypatch):
    from ent_res_feedback_spark.operators.incremental import assign_incremental
    from ent_res_feedback_spark.pipeline import ERConfig

    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=15, seed=31))
    gold_map = dict(gold)
    half = len(documents) // 2
    batch1, batch2 = documents[:half], documents[half:]
    redelivered = batch1[:3]
    path1, path2 = str(tmp_path / "batch1"), str(tmp_path / "batch2")
    corpus_to_spark(spark, batch1).write.parquet(path1)
    corpus_to_spark(spark, batch2 + redelivered).write.parquet(path2)
    run1, run2 = tmp_path / "run1", tmp_path / "run2"

    monkeypatch.setattr(sys, "argv", [
        "run_er_job.py",
        "--input", path1,
        "--output", f"file://{run1}",
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--metrics-dir", f"file://{tmp_path / 'metrics'}",
    ])
    assert _load_job("run_er_job").main() == 0
    incremental = _load_job("run_incremental_job")
    monkeypatch.setattr(sys, "argv", [
        "run_incremental_job.py",
        "--input", path2,
        "--prior", f"file://{run1}",
        "--output", f"file://{run2}",
    ])
    assert incremental.main() == 0

    prior = spark.read.parquet(str(run1 / "clusters"))
    out = spark.read.parquet(str(run2 / "clusters"))
    # every doc exactly once, counted as rows
    assert out.count() == len(documents)
    assert out.select("doc_id").distinct().count() == len(documents)
    # earlier assignments and every doc's spans are unchanged
    assert prior.select(out.columns).exceptAll(out).count() == 0
    source = corpus_to_spark(spark, documents)
    assert out.select("doc_id", "spans").exceptAll(source).count() == 0
    # quality: cluster purity vs gold stays high
    clusters = {}
    for r in out.select("doc_id", "cluster_id").collect():
        clusters.setdefault(r["cluster_id"], set()).add(gold_map[r["doc_id"]])
    pure = sum(1 for ents in clusters.values() if len(ents) == 1)
    assert pure / len(clusters) >= 0.85
    # the job is the operator over the same inputs
    want = assign_incremental(
        spark.read.parquet(path2),
        prior.select("doc_id", "spans"),
        prior.select("doc_id", "cluster_id"),
        ERConfig(),
    )
    assert {tuple(r) for r in want.collect()} == {
        tuple(r) for r in out.select("doc_id", "cluster_id").collect()
    }

    # a run never writes to its prior: the same directory, however
    # spelled, is rejected before anything is read
    for output in (f"{run1}/", f"file://{run1}/clusters"):
        monkeypatch.setattr(sys, "argv", [
            "run_incremental_job.py",
            "--input", path2,
            "--prior", str(run1),
            "--output", output,
        ])
        with pytest.raises(SystemExit):
            incremental.main()


def test_eval_job_perfect_prediction_scores_one(spark, tmp_path, monkeypatch):
    from ent_res_feedback_spark.operators.mentions import extract_mentions

    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=6, seed=5))
    gold_path, blocks_path, sig_path = (
        str(tmp_path / n) for n in ("gold", "blocks", "signatures")
    )
    spark.createDataFrame(gold, "doc_id string, cluster_id string").write.parquet(gold_path)
    mentions = extract_mentions(corpus_to_spark(spark, documents))
    mentions.select("doc_id", "block_key").write.parquet(blocks_path)
    mentions.select(
        "doc_id", "block_key",
        F.concat_ws(" ", "first", "middle", "last").alias("full_name"),
    ).write.parquet(sig_path)
    out = tmp_path / "eval"
    monkeypatch.setattr(sys, "argv", [
        "run_eval_job.py",
        "--pred", gold_path,
        "--gold", gold_path,
        "--output", f"file://{out}",
        "--blocks", blocks_path,
        "--signatures", sig_path,
    ])
    assert _load_job("run_eval_job").main() == 0

    summary = json.loads((out / "summary.json").read_text())
    assert summary["b3"]["f1"] == 1.0
    facet_b3 = spark.read.parquet(str(out / "facet_b3"))
    assert facet_b3.columns == ["facet", "precision", "recall", "f1", "n"]
    rows = facet_b3.collect()
    assert {r["facet"].split("=")[0] for r in rows} == {
        "block_size", "cluster_size", "homonymity", "synonymity",
    }
    assert all(r["f1"] == 1.0 for r in rows)
    # every doc is counted once per facet column
    assert sum(r["n"] for r in rows) == 4 * len(documents)
