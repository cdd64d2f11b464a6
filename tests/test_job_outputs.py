"""The ER job writes its JSON report on the filesystem of its output URI,
beside the parquet outputs, not in a local ``file:/...`` tree under the
working directory."""

import importlib.util
import os
import sys

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
