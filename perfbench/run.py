#!/usr/bin/env python3
"""End-to-end benchmark of the ER engine, with a traced per-layer run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--cores N] [--size full|toy]

Run it from the repository root. Each run builds one local Spark session
(``session.get_spark`` at ``local[N]``), generates its corpus from the
seed with ``corpus.spark_corpus`` and writes it to parquet; the timed
path reads only that parquet. The operation is one ER job exactly as
``jobs/run_er_job.py`` runs it, in a closed loop with one client: the
next job starts when the last has returned.

Workloads (README.md has the layer map):

- ``resolve_batch``: ~8k docs in small blocks; every pair takes the
  single-bucket path and no block is salted.
- ``resolve_hot_block``: ~5.5k docs with one homonym block ~1.75x the
  job's ``--salt-threshold``, so its pairs take the salted self-join and
  its homonyms merge into oversized clusters.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs one
untraced and one layer-by-layer job, then a short traced feedback loop
(``run_feedback_loop`` as ``jobs/run_feedback_job.py`` runs it), and
prints the per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a failed output check
makes the exit code 1. Work files live under ``.perfbench/work/`` in the
current directory and are removed at the end; the result and span files
stay under ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

ROOT = os.getcwd()
PKG = os.path.join(ROOT, "ent_res_feedback_spark")

# Sizes: a run must fit the benchmark's time budget of about a minute,
# session start and warm-up included. The corpora are a few thousand
# documents; steadiness comes from warm-up jobs and medians.
WORKLOADS = {
    "resolve_batch": {
        "n_entities": 1500,
        "hot_block_entities": 0,
        "salt_threshold": 2000,
    },
    "resolve_hot_block": {
        "n_entities": 1000,
        "hot_block_entities": 64,
        "salt_threshold": 200,
    },
}
# Job times keep falling over the first jobs of a JVM while the JIT
# compiles the driver's planning code; the later a job, the less its time
# varies from run to run.
WARMUP_JOBS = 3
MIN_TIMED_JOBS = 2
FEEDBACK_PAIRS = 50
TOY = {"resolve_batch": {"n_entities": 60},
       "resolve_hot_block": {"n_entities": 60, "hot_block_entities": 16,
                             "salt_threshold": 40}}
TRACE_ROUNDS = 2
ORACLE_MIN_F1 = 0.99

END_TO_END = {
    "setup_s": ("s", "lower"),
    "docs_per_s": ("docs/s", "higher"),
    "pairwise_f1": ("ratio", "higher"),
    "b3_f1": ("ratio", "higher"),
}
LAYERS = ["session", "corpus", "pipeline", "mentions", "blocking", "pairs",
          "constraints", "features", "scoring", "cc", "sink", "metrics",
          "feedback"]
# (unit, direction). Work counts read "lower": less work for the same
# clusters is the win an optimisation would claim.
PER_LAYER = {
    "session.start_s": ("s", "lower"), "corpus.gen_s": ("s", "lower"),
    "pipeline.cold_s": ("s", "lower"), "pipeline.warm2_s": ("s", "lower"),
    "mentions.s": ("s", "lower"), "mentions.rows": ("count", "lower"),
    "blocking.blocks": ("count", "higher"),
    "blocking.max_block": ("count", "lower"),
    "pairs.salted_blocks": ("count", "lower"),
    "pairs.s": ("s", "lower"), "pairs.rows": ("count", "lower"),
    "pairs.per_doc": ("ratio", "lower"),
    "constraints.s": ("s", "lower"),
    "constraints.decided_frac": ("ratio", "higher"),
    "features.s": ("s", "lower"), "features.rows": ("count", "lower"),
    "features.rows_per_s": ("rows/s", "higher"),
    "scoring.s": ("s", "lower"),
    "cc.s": ("s", "lower"), "cc.edges": ("count", "lower"),
    "cc.edge_yield": ("ratio", "lower"), "cc.clusters": ("count", "higher"),
    "cc.largest_cluster": ("count", "lower"),
    "sink.s": ("s", "lower"), "metrics.eval_s": ("s", "lower"),
    "feedback.round0_s": ("s", "lower"), "feedback.select_s": ("s", "lower"),
    "feedback.rescore_s": ("s", "lower"),
    "feedback.jobs_per_round": ("count", "lower"),
    "feedback.tasks_per_round": ("count", "lower"),
    "feedback.round_growth": ("ratio", "lower"),
    "feedback.touched_blocks": ("count", "lower"),
    "feedback.f1_gain": ("ratio", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
    "host.steal_frac": ("ratio", "lower"),
    **{f"{layer}.{k}": ("count", "lower")
       for layer in LAYERS for k in ("jobs", "tasks")},
}


class Run:
    """Operation and check accounting for one benchmark run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return bool(ok)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(ok for _, ok, _ in self.checks)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def source_context() -> dict:
    """Git commit when there is one, and a digest of the engine source."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(PKG):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def read_assignment(path: str) -> list[tuple[str, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "cluster_id"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("cluster_id").to_pylist()))


def assignment_hash(rows) -> str:
    h = hashlib.sha256()
    for d, c in sorted(rows):
        h.update(f"{d}\t{c}\n".encode())
    return h.hexdigest()


def check_clusters(run: Run, label: str, rows, doc_ids: set) -> bool:
    counts = Counter(d for d, _ in rows)
    dup = sum(1 for c in counts.values() if c > 1)
    missing = len(doc_ids - counts.keys())
    extra = len(counts.keys() - doc_ids)
    return run.check(
        f"{label}: every doc exactly once", not (dup or missing or extra),
        f"dup={dup} missing={missing} extra={extra}",
    )


def load_docs(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "spans"]).to_pydict()
    return [
        {"doc_id": d, "spans": [(s["kind"], s["text"], s["media_ref"], s["offset"])
                                for s in spans]}
        for d, spans in zip(t["doc_id"], t["spans"])
    ]


def block_pairs(docs: list[dict]) -> tuple[list[tuple[str, str, str]], dict]:
    """All within-block pairs under the oracle's block key, and the
    input shape they imply."""
    from ent_res_feedback_spark.oracle import extract_mention_py

    by_block: dict[str, list[str]] = {}
    for d in docs:
        bk = extract_mention_py(d)["block"]
        if bk:
            by_block.setdefault(bk, []).append(d["doc_id"])
    out = []
    for bk, ids in sorted(by_block.items()):
        ids.sort()
        out.extend((a, b, bk) for i, a in enumerate(ids) for b in ids[i + 1:])
    shape = {"docs": len(docs), "blocks": len(by_block),
             "largest_block": max(map(len, by_block.values()), default=0),
             "pairs": len(out)}
    return out, shape


def oracle_check(run: Run, docs, pairs, rows, tau) -> float:
    """Pairwise F1 of the engine's co-membership against the reference
    clustering (``oracle.cluster_documents_py``) on all within-block pairs."""
    from ent_res_feedback_spark.oracle import cluster_documents_py, pairwise_f1_py

    oracle = cluster_documents_py(docs, tau=tau)
    labeled = [(a, b, int(oracle[a] == oracle[b]), bk) for a, b, bk in pairs]
    f1 = pairwise_f1_py(dict(rows), oracle, labeled)["f1"]
    run.check("agrees with oracle.cluster_documents_py", f1 >= ORACLE_MIN_F1,
              f"pairwise f1={f1:.4f}")
    return f1


class Bench:
    def __init__(self, args):
        self.args = args
        spec = dict(WORKLOADS[args.workload])
        if args.size == "toy":
            spec.update(TOY[args.workload])
        self.spec = spec
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tag = tag
        self.work = os.path.join(ROOT, ".perfbench", "work", tag)
        self.results = os.path.join(ROOT, ".perfbench", "results")
        self.run = Run()
        self.n_ops = 0

    # ------------------------------------------------------------ set-up
    def start_session(self):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # measurement hygiene only: workers import the engine from the
        # checkout, scratch files stay inside it (the JVM's perf-counter
        # file would go to /tmp), no console progress bar
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"
        from ent_res_feedback_spark.session import get_spark

        self.spark = get_spark(
            "ent-res-perfbench", cores=self.args.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
            },
        )
        self.sc = self.spark.sparkContext

    def generate(self):
        from ent_res_feedback_spark.corpus import spark_corpus

        docs, gold = spark_corpus(
            self.spark, n_entities=self.spec["n_entities"],
            hot_block_entities=self.spec["hot_block_entities"],
            hot_block_boost=1,
            seed=self.args.seed,
        )
        self.docs_path = os.path.join(self.work, "input", "documents")
        self.gold_path = os.path.join(self.work, "input", "gold")
        self.labels_path = os.path.join(self.work, "input", "labeled_pairs")
        docs.write.parquet(self.docs_path)
        gold.write.parquet(self.gold_path)
        self.doc_ids = {d for d, _ in read_assignment(self.gold_path)}
        self.n_docs = len(self.doc_ids)

    def prepare_checks(self):
        """Driver-side copies of the input for the oracle check."""
        self.docs = load_docs(self.docs_path)
        self.pairs, self.context["input"] = block_pairs(self.docs)

    def write_labels(self):
        """The labeled-pairs file the feedback job reads: within-block
        pairs with their gold labels."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        gold = dict(read_assignment(self.gold_path))
        labels = [int(gold[a] == gold[b]) for a, b, _ in self.pairs]
        os.makedirs(self.labels_path, exist_ok=True)
        pq.write_table(pa.table({
            "doc_id_1": [a for a, _, _ in self.pairs],
            "doc_id_2": [b for _, b, _ in self.pairs],
            "label": labels,
        }), os.path.join(self.labels_path, "part-0.parquet"))

    def er_config(self, ckpt: str | None):
        from ent_res_feedback_spark.pipeline import ERConfig

        return ERConfig(tau=0.5, salt_threshold=self.spec["salt_threshold"],
                        num_salt_buckets=8, checkpoint_dir=ckpt)

    # ------------------------------------------------------- operations
    def er_job(self) -> tuple[float, str]:
        """One ER job exactly as jobs/run_er_job.py runs it, in fresh
        output and CC checkpoint directories. Returns (seconds, out dir)."""
        from ent_res_feedback_spark.pipeline import run_pipeline

        self.n_ops += 1
        out = os.path.join(self.work, f"job{self.n_ops}")
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.docs_path)
        res = run_pipeline(docs, self.er_config(os.path.join(out, "ckpt")))
        res["clusters"].write.mode("overwrite").parquet(os.path.join(out, "clusters"))
        res["lineage"].write.mode("overwrite").parquet(
            os.path.join(out, "metrics", "lineage"))
        with open(os.path.join(out, "metrics", "metrics.json"), "w") as fh:
            json.dump(dict(res["metrics"]), fh)
        return time.perf_counter() - t0, out

    def checked_er_job(self, hashes: list) -> float | None:
        """Run one ER job as an operation; check its output after the
        clock stops. Returns its wall time, or None if it failed."""
        self.run.attempted += 1
        try:
            secs, out = self.er_job()
            rows = read_assignment(os.path.join(out, "clusters"))
        except Exception:  # an operation that raises is a failure
            self.run.failed += 1
            traceback.print_exc()
            return None
        ok = check_clusters(self.run, f"job{self.n_ops}", rows, self.doc_ids)
        hashes.append(assignment_hash(rows))
        if not ok:
            self.run.failed += 1
            return None
        self.last_out, self.last_rows = out, rows
        return secs

    def quality(self, clusters_path: str) -> dict:
        from ent_res_feedback_spark.operators.metrics import b3, pairwise_cluster_prf

        pred = self.spark.read.parquet(clusters_path).select("doc_id", "cluster_id")
        gold = self.spark.read.parquet(self.gold_path)
        return {"pairwise_f1": pairwise_cluster_prf(pred, gold)["f1"],
                "b3_f1": b3(pred, gold)["f1"]}

    def salted_blocks(self, out: str) -> int:
        import pyarrow.parquet as pq

        lineage = pq.read_table(os.path.join(out, "metrics", "lineage"),
                                columns=["salted"])
        return sum(lineage.column("salted").to_pylist())

    def feedback_parts(self):
        """Labeler and labeled frame exactly as jobs/run_feedback_job.py
        builds them."""
        labeled = self.spark.read.parquet(self.labels_path)
        gold = {
            (r["doc_id_1"], r["doc_id_2"]): int(r["label"])
            for r in labeled.select("doc_id_1", "doc_id_2", "label").collect()
        }

        def labeler(a, b):
            return gold.get((a, b), gold.get((b, a)))

        return labeled, labeler

    # -------------------------------------------------------- workloads
    def run_batch(self) -> dict:
        hashes: list[str] = []
        for _ in range(WARMUP_JOBS):
            self.checked_er_job(hashes)
        setup_s = time.perf_counter() - T_START
        times = []
        t_end = time.perf_counter() + self.args.seconds
        while len(times) < MIN_TIMED_JOBS or time.perf_counter() < t_end:
            secs = self.checked_er_job(hashes)
            if secs is not None:
                times.append(secs)
            if self.run.attempted > 50:
                break
        self.run.check("cluster assignment identical across jobs",
                       len(set(hashes)) == 1, f"{len(set(hashes))} distinct")
        self.prepare_checks()
        self.context["input"]["salted_blocks"] = self.salted_blocks(self.last_out)
        self.check_shape(self.context["input"]["salted_blocks"])
        q = self.quality(os.path.join(self.last_out, "clusters"))
        oracle_check(self.run, self.docs, self.pairs, self.last_rows, 0.5)
        self.context["job_s"] = times
        return {"setup_s": setup_s,
                "docs_per_s": self.n_docs / statistics.median(times), **q}

    def check_shape(self, salted: int) -> None:
        """The hot block must take the salted path; no other block may."""
        want = 1 if self.spec["hot_block_entities"] else 0
        self.run.check(f"{want} salted block(s)", salted == want,
                       json.dumps(self.context["input"]))

    def run_traced(self, tracer) -> dict:
        from layers import feedback_metrics, traced_er_job, traced_feedback_loop
        from ent_res_feedback_spark.operators.metrics import b3, pairwise_cluster_prf, pairwise_prf

        m: dict = {}
        hashes: list[str] = []
        for name in ("pipeline.cold", "pipeline.warm2", "pipeline.ref"):
            with tracer.span(name):
                m[f"{name}_s"] = self.checked_er_job(hashes)
        out = os.path.join(self.work, "traced")
        self.run.attempted += 1
        with tracer.span("traced") as traced:
            layer = traced_er_job(self.spark, tracer, self.docs_path,
                                  self.er_config(os.path.join(out, "ckpt")),
                                  out, self.n_docs)
        m.update(layer)
        rows = read_assignment(os.path.join(out, "clusters"))
        check_clusters(self.run, "traced job", rows, self.doc_ids)
        hashes.append(assignment_hash(rows))
        self.run.check("traced job matches untraced jobs", len(set(hashes)) == 1,
                       f"{len(set(hashes))} distinct")
        oracle_check(self.run, self.docs, self.pairs, rows, 0.5)
        self.check_shape(m["pairs.salted_blocks"])
        m["trace.overhead_frac"] = (
            (traced["end"] - traced["start"]) / m["pipeline.ref_s"] - 1.0)
        with tracer.span("metrics") as rec:
            pred = self.spark.read.parquet(os.path.join(out, "clusters"))
            gold = self.spark.read.parquet(self.gold_path)
            pairwise_cluster_prf(pred, gold)
            b3(pred, gold)
        m["metrics.eval_s"] = rec["end"] - rec["start"]

        self.write_labels()
        labeled, labeler = self.feedback_parts()

        def metric_fn(clusters_df):
            return pairwise_prf(labeled, clusters_df.select("doc_id", "cluster_id"))["f1"]

        res, marks = traced_feedback_loop(
            tracer, self.spark.read.parquet(self.docs_path), labeler, metric_fn,
            self.er_config(None), TRACE_ROUNDS, FEEDBACK_PAIRS)
        # the loop may stop early by design (converged, nothing uncertain)
        self.run.attempted += len(marks)
        if len(marks) < 2:
            raise RuntimeError("feedback loop stopped before a labeled round")
        tracer.finish()
        m.update(feedback_metrics(tracer, res, marks))
        for lyr in LAYERS:
            names = {"pipeline": ("pipeline.ref",)}.get(lyr, (lyr,))
            spans = [s for s in tracer.spans
                     if s["name"] in names or (lyr == "feedback" and s["name"].startswith("feedback"))]
            m[f"{lyr}.jobs"] = sum(s["jobs"] for s in spans)
            m[f"{lyr}.tasks"] = sum(s["tasks"] for s in spans)
        return m

    # ------------------------------------------------------------- main
    def measure(self) -> dict:
        t = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t
        phases = self.context["phases"] = {"session": session_s}
        if not self.args.trace:
            self.generate()
            phases["generate"] = time.perf_counter() - t - session_s
            return self.run_batch()
        from spans import Tracer

        self.tracer = Tracer(self.sc, self.tag)
        self.tracer.spans.append({"name": "session", "run_id": self.tag,
                                  "parent": None, "group": "session",
                                  "start": t, "end": t + session_s})
        with self.tracer.span("corpus") as rec:
            self.generate()
        self.prepare_checks()
        phases["generate"] = rec["end"] - rec["start"]
        metrics = self.run_traced(self.tracer)
        metrics["session.start_s"] = session_s
        metrics["corpus.gen_s"] = rec["end"] - rec["start"]
        return metrics

    def main(self) -> int:
        steal0 = cpu_ticks()
        self.context = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "size": self.args.size,
            "master": f"local[{self.args.cores}]", "nproc": os.cpu_count(),
            **source_context(),
        }
        self.tracer = None
        try:
            metrics = self.measure()
        except Exception:  # counted, reported, and a non-zero exit
            traceback.print_exc()
            metrics = None
            self.run.failed = max(self.run.failed, 1)
            self.run.attempted = max(self.run.attempted, self.run.failed)
        finally:
            tracer = self.tracer
            if tracer is not None and tracer.spans and "jobs" in tracer.spans[-1]:
                os.makedirs(self.results, exist_ok=True)
                tracer.write(os.path.join(self.results, f"{self.tag}.spans.jsonl"))
            self.stop()
        steal1 = cpu_ticks()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        self.context.update({"host_steal_frac": steal,
                             "wall_s": time.perf_counter() - T_START,
                             "checks": [[n, ok] for n, ok, _ in self.run.checks]})
        print("CONTEXT " + json.dumps(self.context, default=str))
        if metrics is None:
            print(json.dumps({"correct": False, "attempted": self.run.attempted,
                              "failed": self.run.failed, "metrics": {}}))
            return 1
        if self.args.trace:
            metrics["host.steal_frac"] = steal
        declared = PER_LAYER if self.args.trace else END_TO_END
        for name, (unit, better) in declared.items():
            print(f"METRIC {name} = {metrics[name]:.6g} {unit} ({better})")
        result = {
            "correct": self.run.correct,
            "attempted": self.run.attempted,
            "failed": self.run.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, (u, _) in declared.items()},
        }
        os.makedirs(self.results, exist_ok=True)
        with open(os.path.join(self.results, f"{self.tag}.json"), "w") as fh:
            json.dump({"context": self.context, "result": result}, fh, indent=1)
        print(json.dumps(result))
        return 0 if self.run.correct else 1

    def stop(self):
        """Stop Spark, then the JVM it launched, and wait for it to end."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            gateway = spark.sparkContext._gateway
            proc = getattr(gateway, "proc", None)
            spark.stop()
            gateway.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed window; at least two jobs are timed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2, help="local[N] parallelism")
    p.add_argument("--size", choices=("full", "toy"), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PKG, "session.py")):
        print("perfbench: run from the repository root (ent_res_feedback_spark/ "
              "not found)", file=sys.stderr)
        return 2
    if args.cores > (os.cpu_count() or 1):
        print(f"perfbench: --cores {args.cores} exceeds nproc", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    return Bench(args).main()


if __name__ == "__main__":
    sys.exit(main())
