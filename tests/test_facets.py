"""derive_facets golden tests: the distributed group-count formulation
must reproduce the reference's O(n^2) pair loop (s2and/eval.py:264-287,
246-260, 388-397) exactly, including the np.round half-even bucketing."""

from collections import defaultdict

import numpy as np
import pytest

from ent_res_feedback_spark.operators.facets import derive_facets

# (sig_id, block_key, full_name, cluster_id) — crafted so that:
# block "b1" holds a homonym group ("ann lee" split over c1/c2), a
# synonym pair ("a lee" with c1), and a .xx5 rounding boundary:
# block "b3" has 9 members -> denominator 8, single homonym pair ->
# 1/8 = 0.125 which np.round(_, 2) buckets HALF-EVEN to 0.12.
SIGS = [
    ("s1", "b1", "ann lee", "c1"),
    ("s2", "b1", "ann lee", "c2"),
    ("s3", "b1", "a lee", "c1"),
    ("s4", "b1", "ann lee", "c1"),
    ("s5", "b2", "bob roy", "c3"),
    ("s6", "b2", "bob roy", "c3"),
] + [
    (f"t{i}", "b3", f"name{i}", f"k{i}")
    for i in range(9)
]
# make t0/t1 a homonym pair in b3: same name, different clusters
SIGS = [
    (s, b, ("dup name" if s in ("t0", "t1") else n), c) for s, b, n, c in SIGS
]


def _reference_replay():
    """Direct transliteration of the reference pair loop."""
    homonymity: dict = defaultdict(int)
    synonymity: dict = defaultdict(int)
    denominator: dict = defaultdict(int)
    keys = [s[0] for s in SIGS]
    info = {s[0]: s for s in SIGS}
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            if info[a][1] == info[b][1]:  # same block
                same_name = info[a][2] == info[b][2]
                same_cluster = info[a][3] == info[b][3]
                if same_name and not same_cluster:
                    homonymity[a] += 1
                    homonymity[b] += 1
                elif not same_name and same_cluster:
                    synonymity[a] += 1
                    synonymity[b] += 1
                denominator[a] += 1
                denominator[b] += 1
    block_len = defaultdict(int)
    cluster_len = defaultdict(int)
    for s, b, n, c in SIGS:
        block_len[b] += 1
        cluster_len[c] += 1
    out = {}
    for s, b, n, c in SIGS:
        h = (
            float(np.round(homonymity[s] / denominator[s], 2))
            if homonymity[s] > 0
            else 0.0
        )
        y = (
            float(np.round(synonymity[s] / denominator[s], 2))
            if synonymity[s] > 0
            else 0.0
        )
        out[s] = {
            "block_size": block_len[b],
            "cluster_size": cluster_len[c],
            "homonymity_count": homonymity[s],
            "synonymity_count": synonymity[s],
            "pair_denominator": denominator[s],
            "homonymity": h,
            "synonymity": y,
        }
    return out


def test_derive_facets_matches_reference_pair_loop(spark):
    df = spark.createDataFrame(
        SIGS, "sig_id string, block_key string, full_name string, cluster_id string"
    )
    got = {
        r["sig_id"]: r.asDict() for r in derive_facets(df).collect()
    }
    want = _reference_replay()
    assert set(got) == set(want)
    for s, w in want.items():
        for k, v in w.items():
            assert got[s][k] == pytest.approx(v), (s, k, got[s][k], v)


def test_halfeven_bucket_boundary(spark):
    """1/8 must bucket to 0.12 (np.round half-even), not 0.13."""
    df = spark.createDataFrame(
        SIGS, "sig_id string, block_key string, full_name string, cluster_id string"
    )
    row = {r["sig_id"]: r for r in derive_facets(df).collect()}
    assert row["t0"]["pair_denominator"] == 8
    assert row["t0"]["homonymity_count"] == 1
    assert row["t0"]["homonymity"] == pytest.approx(0.12)
    assert float(np.round(1 / 8, 2)) == 0.12  # the semantics being pinned


def test_randomized_fixtures_match_reference_loop(spark):
    """Three seeded random fixtures (varying block sizes, name/cluster
    collision rates) — the group-count formulation must equal the
    reference pair loop on all of them."""
    import random

    for seed in (11, 29, 83):
        rng = random.Random(seed)
        sigs = []
        for i in range(60):
            b = f"b{rng.randrange(6)}"
            n = f"n{rng.randrange(4)}"
            c = f"c{rng.randrange(5)}"
            sigs.append((f"s{i}", b, n, c))

        # reference replay over this fixture
        from collections import defaultdict
        hom, syn, den = defaultdict(int), defaultdict(int), defaultdict(int)
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                a, b_ = sigs[i], sigs[j]
                if a[1] != b_[1]:
                    continue
                same_name, same_cluster = a[2] == b_[2], a[3] == b_[3]
                if same_name and not same_cluster:
                    hom[a[0]] += 1
                    hom[b_[0]] += 1
                elif not same_name and same_cluster:
                    syn[a[0]] += 1
                    syn[b_[0]] += 1
                den[a[0]] += 1
                den[b_[0]] += 1

        df = spark.createDataFrame(
            sigs,
            "sig_id string, block_key string, full_name string, cluster_id string",
        )
        got = {r["sig_id"]: r for r in derive_facets(df).collect()}
        for s, _, _, _ in sigs:
            assert got[s]["homonymity_count"] == hom[s], (seed, s)
            assert got[s]["synonymity_count"] == syn[s], (seed, s)
            assert got[s]["pair_denominator"] == den[s], (seed, s)
