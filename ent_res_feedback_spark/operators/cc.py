"""Transitive clustering: iterative large-star/small-star connected
components with per-iteration checkpointing and exact resume
(SURVEY.md CL6; north rule "resumable from checkpoint").

Algorithm: the alternating large-star/small-star method (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges in
O(log^2 n) rounds (O(log n) in practice), each round two shuffles:

  large-star: for each node u, connect every strictly-larger neighbor to
              the minimum of u's closed neighborhood.
  small-star: direct edges large->small; connect all smaller-or-equal
              neighbors (and u) to the minimum.

The edge list is the only state, so each iteration is checkpointed by
writing it to parquet (production: an Iceberg table — this container has
no Iceberg runtime, so the store writes parquet + an atomic JSON manifest
with the same replace semantics). Checkpointing both truncates the
DataFrame lineage (no exponential plan growth) and provides exact resume:
killing the job mid-iteration and re-running reproduces identical
clusters, which tests/test_cc.py asserts.

Once an edge set is bounded — at most ``FINISH_EDGE_THRESHOLD`` edges
(5M) — the components are finished on the driver instead:
the edges are collected with ``toArrow()``, solved by a vectorized
union-find, and returned as local data (``createDataFrame``), with no
Python worker task. The bound comes either from a count (the input or a
star-round survivor, after it is materialized) or, before any action,
from the caller's ``edge_bound``: ``run_pipeline`` passes the block
census's within-block pair count, which no edge set can exceed. A bounded
input skips the store entirely (no iteration -1 write, no resume); the
store is written only for edge sets above the threshold, which are the
ones worth resuming. The finish's driver memory is bounded by the
threshold: ~130 bytes per long-id edge at peak (``_finish_on_driver``).

Cluster ids are the component-minimum node id — deterministic, no
monotonically_increasing_id anywhere.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


# Join-strategy note (applies to both star rounds and the singleton
# left-join below): the ``mins`` / ``assignments`` sides GROW LINEARLY
# with the node set, so AQE's size-based broadcast conversion — which
# fires at test scale because each iteration's aggregate happens to be
# a few MB — is the wrong physical plan at 10^12 nodes (an un-broadcastable
# build side) and, measured at bench scale, its per-join broadcast
# materialization jobs are latency-bound (<2x speedup 2->8 cores; ~24
# such jobs = ~59s of a 286s run). The SHUFFLE_HASH hint pins the
# scale-correct shuffled hash join: the build side carries exactly ONE
# row per join key (the per-key min / the per-node assignment), so each
# build map is bounded by distinct-keys-per-partition (AQE sizes
# partitions to ~64MB), while the probe side STREAMS — a skewed hot
# neighborhood never needs to be sorted or buffered. AQE still applies
# skew-join splitting to shuffled hash joins; it only stops flipping
# them to broadcast.


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected view: both directions, no self loops."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst"))


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = _sym(edges)
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    out = (
        nbrs.join(mins.hint("shuffle_hash"), "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    # direct each edge from the larger to the smaller endpoint
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        directed.join(mins.hint("shuffle_hash"), "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        nbr_edges.unionByName(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


_CHECKSUM_AGGS = lambda: (  # noqa: E731 — shared by both checksum paths
    F.count(F.lit(1)).alias("n"),
    F.coalesce(
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
    ).alias("h"),
)


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # order-insensitive content hash; decimal sum to survive ANSI overflow
    row = edges.agg(*_CHECKSUM_AGGS()).collect()[0]
    return int(row["n"]), int(row["h"])


def _observe_checksum(edges: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the content checksum as an Observation so it rides the NEXT
    action (checkpoint write) for free — one job per iteration instead of
    two (materialize + separate checksum agg). The #1 fixed-stage-barrier
    cost of the CC loop at scale."""
    obs = Observation()
    return edges.observe(obs, *_CHECKSUM_AGGS()), obs


class CheckpointStore:
    """Parquet + atomic-manifest checkpoint store (Iceberg stand-in).

    Layout: ``<root>/iter=<i>/`` parquet dirs plus ``<root>/manifest.json``
    written via rename for atomicity. ``latest()`` returns the newest
    *complete* iteration, so a kill between parquet write and manifest
    commit falls back to the previous iteration — the Iceberg snapshot
    semantics this stands in for.

    The manifest commit is an ``os.replace`` of a temp file, which is
    atomic only on a POSIX filesystem (local disk, or a mount that keeps
    POSIX rename semantics). On an object store (S3, GCS) a rename is a
    copy plus delete, so a kill mid-commit can leave a torn or missing
    manifest; keep ``root`` on a POSIX filesystem.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "manifest.json")

    def _read_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"iterations": []}

    def latest(self) -> dict | None:
        m = self._read_manifest()
        return m["iterations"][-1] if m["iterations"] else None

    def write(
        self, edges: DataFrame, iteration: int, meta: dict | None = None
    ) -> tuple[DataFrame, int, int]:
        """Write an iteration's edge set; the content checksum rides the
        write action as an Observation (no separate checksum job). Returns
        (reloaded frame, n, h) and commits {n, h} into the manifest entry —
        so every complete iteration carries its own fingerprint."""
        path = os.path.join(self.root, f"iter={iteration}")
        observed, obs = _observe_checksum(edges)
        observed.write.mode("overwrite").parquet(path)
        vals = obs.get
        n, h = int(vals["n"]), int(vals["h"])
        manifest = self._read_manifest()
        manifest["iterations"] = [
            it for it in manifest["iterations"] if it["iter"] < iteration
        ]
        manifest["iterations"].append(
            {
                "iter": iteration, "path": path, "ts": time.time(),
                "n": n, "h": h, **(meta or {}),
            }
        )
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.manifest_path)
        return self.spark.read.parquet(path), n, h

    def reset(self) -> None:
        """Invalidate the store (input changed under the same dir)."""
        if os.path.exists(self.manifest_path):
            os.remove(self.manifest_path)
        for name in os.listdir(self.root):
            if name.startswith("iter="):
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)


def _min_label(a, b, n: int):
    """Component labels of ``n`` nodes joined by the code edges
    ``a[i] -- b[i]``: a vectorized Shiloach-Vishkin union-find (numpy
    min-hooking plus full pointer shortcutting, O(E log V), no per-edge
    Python loop). Each node ends pointing at the SMALLEST code of its
    component: a root only ever hooks under a smaller code of its own
    component, so the component minimum stays a root and, once every
    edge has equal ends, is the only one."""
    import numpy as np

    parent = np.arange(n, dtype=a.dtype)
    while True:
        pa, pb = parent[a], parent[b]
        np.minimum.at(parent, np.maximum(pa, pb), np.minimum(pa, pb))
        del pa, pb
        while True:  # full pointer shortcut
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        if np.array_equal(parent[a], parent[b]):
            return parent


def _finish_on_driver(edges: DataFrame) -> DataFrame:
    """Exact CC of an edge frame known to be SMALL (at most
    ``FINISH_EDGE_THRESHOLD`` edges), solved on the driver.

    The edges are collected with ``toArrow()``. Both id columns are
    dictionary-encoded together and the dictionary is sorted, so the
    codes order like the ids (Arrow orders strings by bytes, as Spark
    does) and a component's minimum code is its minimum id: the labels
    equal the star loop's fixpoint labels for long and string ids alike.
    ``_min_label`` solves the codes; the ``(id, component)`` assignments
    go back as local data with ``createDataFrame`` — no Python worker
    task, and no executor holds them, so a lost executor loses nothing.

    Driver (Python process) memory, measured on 2M random long-id edges
    over 1.8M nodes: live buffers peak at ~50 bytes per edge (16 of
    collected ids, a 16-byte combined copy, 8 of int32 codes, ~16 of
    kernel temporaries, plus the per-node dictionary and labels), and
    resident memory grows by ~130 bytes per edge once the allocator's
    slack is counted — ~0.65 GB at the 5M-edge threshold. String
    ids add their bytes twice (collected and combined).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    table = edges.select("src", "dst").toArrow()
    m = table.num_rows
    if m == 0:
        return spark.createDataFrame([], schema)
    ids = pa.chunked_array(
        table.column("src").chunks + table.column("dst").chunks
    ).combine_chunks()
    del table
    encoded = ids.dictionary_encode()
    del ids
    order = pc.sort_indices(encoded.dictionary).to_numpy()
    n = len(order)
    dtype = np.int32 if n < 2**31 else np.int64
    rank = np.empty(n, dtype=dtype)
    rank[order] = np.arange(n, dtype=dtype)
    codes = rank[encoded.indices.to_numpy()]
    uniques = encoded.dictionary.take(pa.array(order))
    del encoded, rank, order
    parent = _min_label(codes[:m], codes[m:], n)
    out = pa.table(
        {"id": uniques, "component": uniques.take(pa.array(parent))}
    )
    return spark.createDataFrame(out, schema)


#: star-round super-steps before ``connected_components`` gives up; the
#: loop converges in O(log^2 n) rounds (O(log n) in practice)
MAX_ITERATIONS = 50

#: edge count at or below which ``connected_components`` finishes on the
#: driver; ``None`` never finishes there (pure star loop)
FINISH_EDGE_THRESHOLD: int | None = 5_000_000


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    edge_bound: int | None = None,
) -> DataFrame:
    """Compute connected components of an undirected edge list
    (columns ``src``, ``dst``) -> assignments ``(id, component)`` where
    component = min node id of the component. Nodes appearing only in
    self-contexts (no edges) are the caller's concern (left-join the
    result onto the full node set; singletons keep their own id).

    With ``checkpoint_dir`` the loop persists to the store and RESUMES
    from the latest complete iteration — but only when the *input* edge
    set fingerprint matches the one recorded at iteration -1; a changed
    input under the same dir invalidates the store instead of silently
    returning stale clusters.

    Barrier budget: each super-step is ONE large/small-star round, and
    the convergence checksum rides that round's checkpoint action as an
    Observation — one job per round, not two.

    ``FINISH_EDGE_THRESHOLD`` (round-6): once the current edge set —
    input or any super-step survivor — is at or below this count, the
    remaining components are solved exactly on the driver
    (``_finish_on_driver``: the edges are collected with ``toArrow()``;
    ~130 bytes of driver memory per long-id edge at peak, ~0.65 GB at the
    5M threshold) instead of iterating more star rounds. Star rounds
    preserve the node set and component structure, so the result is
    identical at whatever point the switch happens (property-tested);
    what changes is the cost model — the star loop's per-super-step
    driver planning + ~10 AQE stage jobs are a FIXED tail that dominates
    once the data no longer does (the measured ~60s scaling-protocol
    tail, BENCH/ANALYSIS.md). The threshold is data-sized, not
    cluster-sized: a 10^12-edge graph still iterates star rounds until
    the survivor set is bounded, then finishes.

    ``edge_bound``: an upper bound on the edge count known before any
    action — ``run_pipeline`` passes its block census's within-block
    pair count, since every edge is a within-block pair. At or below
    ``FINISH_EDGE_THRESHOLD`` the input is neither materialized nor
    deduplicated, and the store is neither read nor written: the edges
    go straight to the driver finish, so a re-run recomputes them. Above
    it (or without a bound) the input is materialized first — written to
    the store as iteration -1 with ``checkpoint_dir``, else a
    ``localCheckpoint`` — and finished there when its counted size is
    small enough, or iterated with fingerprint resume otherwise.
    """
    spark = edges.sparkSession

    # Early finish: star rounds preserve the node set and the component
    # structure, so an exact union-find over the CURRENT edge set yields
    # the identical (id, min-id component) assignment at any point — take
    # it as soon as the edge count is bounded instead of paying
    # per-super-step fixed driver costs (threshold-invariance is
    # property-tested in tests/test_cc.py).
    def _small_enough(n: int | None) -> bool:
        return (
            FINISH_EDGE_THRESHOLD is not None
            and n is not None
            and n <= FINISH_EDGE_THRESHOLD
        )

    # id type is generic (string or numeric) — the algorithm only needs a
    # total order; component id = the minimum under that order.
    cur = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if _small_enough(edge_bound):
        return _finish_on_driver(cur)
    cur = cur.distinct()
    store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None

    start_iter = 0
    prev_sum: tuple[int, int] | None = None
    n_cur: int | None = None  # current edge count (early-finish gate)
    if store is not None:
        latest = store.latest()
        if latest is not None:
            # resume guard: fingerprint the (canonicalized) input and match
            # it against the iter=-1 manifest entry; mismatch = different
            # input under the same checkpoint_dir -> invalidate, start fresh
            manifest = store._read_manifest()
            input_entry = next(
                (it for it in manifest["iterations"] if it["iter"] == -1), None
            )
            n_in, h_in = _checksum(cur)
            if input_entry is not None and (
                input_entry.get("n"), input_entry.get("h")
            ) == (n_in, h_in):
                cur = spark.read.parquet(latest["path"])
                start_iter = latest["iter"] + 1
                prev_sum = (
                    (latest["n"], latest["h"]) if "n" in latest else None
                )
                n_cur = latest.get("n")
            else:
                store.reset()
                latest = None
        if latest is None:
            # iter -1 = canonicalized input
            cur, n_cur, _ = store.write(cur, -1)
            start_iter = 0
    else:
        observed, obs = _observe_checksum(cur)
        cur = observed.localCheckpoint()
        n_cur = int(obs.get["n"])

    if _small_enough(n_cur):
        return _finish_on_driver(cur)

    for i in range(start_iter, MAX_ITERATIONS):
        # One star round per materialization, MEASURED (BENCH/ANALYSIS.md
        # round-5): each round's logical plan embeds its input ~3x, so k
        # unrolled rounds carry ~3^(2k) subtree copies — 81 at k=2 vs 9 at
        # k=1 — and the driver-side planning/codegen of those plans is a
        # fixed cost per super-step that scales with nothing. At 550k docs
        # k=1 beat k=2 end-to-end by 36% at 2 cores and ~55% at 8
        # (identical clusters); k=4 OOM'd the driver rendering the
        # ~6,561-copy plan at bench scale.
        nxt = _small_star(_large_star(cur))
        if store is not None:
            nxt, n, h = store.write(nxt, i)
        else:
            observed, obs = _observe_checksum(nxt)
            nxt = observed.localCheckpoint()
            vals = obs.get
            n, h = int(vals["n"]), int(vals["h"])
        if prev_sum == (n, h):
            cur = nxt
            break
        prev_sum = (n, h)
        cur = nxt
        if _small_enough(n):
            return _finish_on_driver(cur)
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} iterations"
        )

    # At fixpoint the small-star output is a star: (node -> component min).
    assign = _sym(cur).groupBy("src").agg(F.min("dst").alias("component"))
    assign = assign.select(
        F.col("src").alias("id"),
        F.least("component", "src").alias("component"),
    )
    return assign


def components_with_singletons(
    assignments: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Left-join CC assignments onto the full node set; edge-less nodes
    become singleton clusters keyed by their own id. The assignments
    side grows with the graph — shuffle-hash pinned, never broadcast
    (see the join-strategy note at the top of this module)."""
    return nodes.join(
        assignments.withColumnRenamed("id", id_col).hint("shuffle_hash"),
        id_col,
        "left",
    ).withColumn("component", F.coalesce("component", F.col(id_col)))


def threshold_sweep_components(
    scored_pairs: DataFrame,
    taus: list[float],
    nodes: DataFrame,
) -> DataFrame:
    """CL4/CL9 sweep — connected components at EVERY threshold in
    ``taus`` from ONE pass over ``scored_pairs`` (block_key, doc_id_1,
    doc_id_2, score) -> (tau, doc_id, cluster_id), cluster_id =
    the component's minimum doc_id (identical labeling to
    ``connected_components`` + ``components_with_singletons``).

    Works because candidate pairs are BLOCK-LOCAL and every doc carries
    exactly one block key: global CC at any tau equals per-block CC, so
    the sweep runs as one ``applyInPandas`` over block groups. Inside a
    block the thresholds are swept DESCENDING with one incremental
    union-find — edges sort by score once, each tau only unions the
    edges newly admitted since the previous (stricter) tau, so the k
    cuts cost one pass over the edge list, not k. Versus re-running the
    iterative large-star CC per tau: k full multi-round shuffle jobs
    collapse into one shuffle. Scale bound: per-block state only —
    blocks are census-capped; for unbounded cross-block graphs use
    ``connected_components`` per tau instead.

    ``nodes``: the full doc set; docs in no pair (singleton/empty
    blocks) appear as their own cluster at every tau.
    """
    import numpy as np
    import pandas as pd

    taus_desc = sorted({float(t) for t in taus}, reverse=True)
    out_schema = "tau double, doc_id long, cluster_id long"

    def one_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.unique(
            np.concatenate(
                [pdf["doc_id_1"].to_numpy(), pdf["doc_id_2"].to_numpy()]
            )
        )
        pos = {int(x): i for i, x in enumerate(ids)}
        n = len(ids)
        parent = np.arange(n)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        order = pdf.sort_values("score", ascending=False)
        e1 = order["doc_id_1"].to_numpy()
        e2 = order["doc_id_2"].to_numpy()
        sc = order["score"].to_numpy()
        frames = []
        ptr = 0
        for tau in taus_desc:
            while ptr < len(sc) and sc[ptr] >= tau:
                ra, rb = find(pos[int(e1[ptr])]), find(pos[int(e2[ptr])])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                ptr += 1
            roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64,
                                count=n)
            # component label = min doc_id; ids is sorted, so the min
            # member of each root group is ids[min index with that root]
            lab = pd.Series(ids).groupby(roots).transform("min").to_numpy()
            frames.append(
                pd.DataFrame({"tau": np.full(n, tau), "doc_id": ids,
                              "cluster_id": lab})
            )
        return pd.concat(frames, ignore_index=True)

    # slim is referenced TWICE (sweep kernel + pair membership); without
    # a materialization the whole upstream featurization subtree runs
    # twice — at scale, two full passes over the corpus for one sweep.
    # localCheckpoint materializes the O(pairs) projection once (the
    # same order of bytes the block shuffle moves next).
    slim = scored_pairs.select(
        "block_key", "doc_id_1", "doc_id_2", "score"
    ).localCheckpoint()
    in_pairs = slim.groupBy("block_key").applyInPandas(one_block, out_schema)
    # pair membership from the CHEAP pair frame, not from in_pairs —
    # referencing in_pairs twice would run the sweep kernel twice
    pair_docs = (
        slim.select(F.col("doc_id_1").alias("doc_id"))
        .union(slim.select(F.col("doc_id_2").alias("doc_id")))
        .distinct()
    )
    lone = (
        nodes.select("doc_id")
        .join(pair_docs, "doc_id", "left_anti")
        .select(
            F.explode(F.array(*[F.lit(t) for t in taus_desc])).alias("tau"),
            F.col("doc_id"),
            F.col("doc_id").alias("cluster_id"),
        )
    )
    return in_pairs.unionByName(lone.select("tau", "doc_id", "cluster_id"))
