"""Connected components: correctness vs a union-find oracle on random
graphs, determinism, and exact checkpoint resume (the north rule's
resumability requirement)."""

import os
import random

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators import cc
from ent_res_feedback_spark.operators.cc import (
    CheckpointStore,
    components_with_singletons,
    connected_components,
)
from ent_res_feedback_spark.oracle import UnionFind


def _oracle_components(edges, nodes):
    uf = UnionFind()
    for n in nodes:
        uf.find(n)
    for s, d in edges:
        uf.union(s, d)
    comp = {}
    for n in nodes:
        comp[n] = uf.find(n)
    # canonical: min member id
    groups = {}
    for n, c in comp.items():
        groups.setdefault(c, []).append(n)
    return {n: min(g) for c, g in groups.items() for n in g}


def _assert_matches_union_find(spark, seed, n, m, **cc_kwargs):
    rng = random.Random(seed)
    nodes = list(range(n))
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(s, d) for s, d in edges if s != d]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(edf, **cc_kwargs).collect()
    }
    want = _oracle_components(edges, nodes)
    touched = {x for e in edges for x in e}
    assert {k: want[k] for k in touched} == got


@pytest.mark.parametrize("seed,n,m", [(1, 50, 40), (2, 200, 150), (3, 120, 300)])
@pytest.mark.parametrize("threshold", [None, 5_000_000, 60])
def test_cc_matches_union_find(spark, monkeypatch, seed, n, m, threshold):
    """All three cost regimes must agree with the union-find oracle:
    threshold=None (pure star loop), 5M (immediate driver finish), and
    60 (star rounds first, early finish once the survivor set shrinks
    below 60 mid-loop) — the early-finish switch point must never change
    the assignment."""
    monkeypatch.setattr(cc, "FINISH_EDGE_THRESHOLD", threshold)
    _assert_matches_union_find(spark, seed, n, m)


@pytest.mark.parametrize("seed,n,m", [(1, 50, 40), (2, 200, 150), (3, 120, 300)])
@pytest.mark.parametrize("slack", [0, 1000])
def test_cc_bounded_matches_union_find(spark, monkeypatch, seed, n, m, slack):
    """An ``edge_bound`` at or below the threshold finishes on the driver
    without materializing the input; the bound may be loose (``slack``)
    or exact, and the threshold may equal it."""
    monkeypatch.setattr(cc, "FINISH_EDGE_THRESHOLD", m + slack)
    _assert_matches_union_find(spark, seed, n, m, edge_bound=m + slack)


def test_cc_string_ids(spark):
    edges = [("d3", "d1"), ("d1", "d2"), ("d9", "d8")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["component"] for r in connected_components(edf).collect()}
    assert got == {"d1": "d1", "d2": "d1", "d3": "d1", "d8": "d8", "d9": "d8"}


def test_cc_bounded_string_ids(spark, monkeypatch):
    """String ids finish on the driver with the star loop's min-id labels,
    i.e. Spark's string order (bytewise: "Z" < "a" < "z" < "é")."""
    edges = [("d3", "d1"), ("d1", "d2"), ("d9", "d8"), ("é", "z"), ("a", "Z")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components(edf, edge_bound=len(edges))
    assert out.schema["component"].dataType.simpleString() == "string"
    got = {r["id"]: r["component"] for r in out.collect()}
    monkeypatch.setattr(cc, "FINISH_EDGE_THRESHOLD", None)
    star = connected_components(edf)
    assert got == {r["id"]: r["component"] for r in star.collect()}
    assert got == {
        "d1": "d1", "d2": "d1", "d3": "d1", "d8": "d8", "d9": "d8",
        "z": "z", "é": "z", "a": "Z", "Z": "Z",
    }


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("edge_bound", [None, 0])
def test_cc_empty_edges(spark, id_type, edge_bound):
    """No edges: empty assignments, typed like the edge ids."""
    edf = spark.createDataFrame([], f"src {id_type}, dst {id_type}")
    out = connected_components(edf, edge_bound=edge_bound)
    assert out.collect() == []
    assert [f.dataType for f in out.schema] == [edf.schema["src"].dataType] * 2


def test_bounded_edges_skip_the_store(spark, tmp_path):
    """A bounded edge set finishes on the driver before the checkpoint
    store is touched: no iteration entry, no iteration directory."""
    edf = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    ckpt = str(tmp_path / "ckpt")
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            edf, checkpoint_dir=ckpt, edge_bound=3
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    store = CheckpointStore(spark, ckpt)
    assert store.latest() is None
    assert not [d for d in os.listdir(ckpt) if d.startswith("iter=")]


def test_singletons(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], ["doc_id"])
    out = components_with_singletons(
        connected_components(edges), nodes, "doc_id"
    )
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_checkpoint_resume_identical(spark, tmp_path, monkeypatch):
    """Kill-and-resume: run once with checkpointing, then simulate a crash
    by truncating the manifest to an early iteration and re-running — the
    resumed run must produce identical clusters (exact resume)."""
    rng = random.Random(7)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(260)]
    edf = spark.createDataFrame(edges, "src long, dst long").where("src != dst")

    full_dir = str(tmp_path / "full")
    # FINISH_EDGE_THRESHOLD=None: exercise the iterative store path (the
    # default early-finishes small graphs before any iteration lands)
    monkeypatch.setattr(cc, "FINISH_EDGE_THRESHOLD", None)
    full = {
        r["id"]: r["component"]
        for r in connected_components(edf, checkpoint_dir=full_dir).collect()
    }

    # fresh run, interrupted after iteration 0: keep iter=-1 and iter=0 only
    crash_dir = str(tmp_path / "crash")
    connected_components(edf, checkpoint_dir=crash_dir)
    store = CheckpointStore(spark, crash_dir)
    manifest = store._read_manifest()
    manifest["iterations"] = [it for it in manifest["iterations"] if it["iter"] <= 0]
    import json

    with open(store.manifest_path, "w") as f:
        json.dump(manifest, f)

    resumed = {
        r["id"]: r["component"]
        for r in connected_components(edf, checkpoint_dir=crash_dir).collect()
    }
    assert resumed == full
    monkeypatch.undo()

    # and the default config must agree when resuming the same store
    # (early finish from the latest complete iteration)
    resumed_default = {
        r["id"]: r["component"]
        for r in connected_components(edf, checkpoint_dir=crash_dir).collect()
    }
    assert resumed_default == full


def test_cc_path_graph_converges(spark):
    # worst-ish case: a long path; must converge well under MAX_ITERATIONS
    n = 200
    edges = [(i, i + 1) for i in range(n - 1)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(edf).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n
