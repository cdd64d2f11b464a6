"""Within-block pair generation: the salted path must emit exactly the
same pair set as the plain self-join (every unordered pair once), and the
block census must match brute force."""

import itertools
import random

from ent_res_feedback_spark.operators.blocking import (
    block_census,
    materialize_census,
)
from ent_res_feedback_spark.operators.pairs import within_block_pairs


def _mkdocs(spark, seed=5, n=300, n_blocks=6, hot_fraction=0.5):
    """Docs with one deliberately hot block."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        block = "HOT" if rng.random() < hot_fraction else f"b{rng.randrange(n_blocks)}"
        rows.append((f"d{i:05d}", block, rng.random()))
    return spark.createDataFrame(rows, ["doc_id", "block_key", "payload"])


def _expected_pairs(rows):
    by_block = {}
    for doc_id, block, _ in rows:
        by_block.setdefault(block, []).append(doc_id)
    out = set()
    for ids in by_block.values():
        for a, b in itertools.combinations(sorted(ids), 2):
            out.add((a, b))
    return out


def test_plain_pairs_match_bruteforce(spark):
    df = _mkdocs(spark, n=120)
    rows = [tuple(r) for r in df.collect()]
    got = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in within_block_pairs(df).select("doc_id_1", "doc_id_2").collect()
    }
    assert got == _expected_pairs(rows)


def test_salted_pairs_match_plain(spark):
    df = _mkdocs(spark, n=300)
    rows = [tuple(r) for r in df.collect()]
    expected = _expected_pairs(rows)
    for s in (2, 3, 8):
        got = {
            (r["doc_id_1"], r["doc_id_2"])
            for r in within_block_pairs(
                df, salt_threshold=20, num_salt_buckets=s
            )
            .select("doc_id_1", "doc_id_2")
            .collect()
        }
        assert got == expected, f"salt buckets={s}"


def test_salted_pairs_carry_payload_consistently(spark):
    df = _mkdocs(spark, n=150)
    payload = {r["doc_id"]: r["payload"] for r in df.collect()}
    out = within_block_pairs(df, salt_threshold=10, num_salt_buckets=4).collect()
    for r in out:
        assert r["payload_1"] == payload[r["doc_id_1"]]
        assert r["payload_2"] == payload[r["doc_id_2"]]
        assert r["doc_id_1"] < r["doc_id_2"]


def test_block_census_and_min_size(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"), ("d", "y"), ("e", "z"), ("f", "z")],
        ["doc_id", "block_key"],
    )
    census = {r["block_key"]: (r["block_size"], r["n_pairs"]) for r in block_census(df).collect()}
    assert census == {"x": (3, 3), "y": (1, 0), "z": (2, 1)}


def test_max_block_size_cap(spark):
    df = _mkdocs(spark, n=100)
    out = within_block_pairs(df, max_block_size=20)
    blocks_in_out = {
        r["block_key"] for r in out.select("block_key").distinct().collect()
    }
    sizes = {r["block_key"]: r["block_size"] for r in block_census(df).collect()}
    assert all(sizes[b] <= 20 for b in blocks_in_out)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_hot_block_takes_plain_join(spark):
    """A threshold above the largest block builds the plain equi-join:
    the same rows and columns as ``salt_threshold=None``, no explode."""
    df = _mkdocs(spark, n=200)
    plain = within_block_pairs(df)
    cold = within_block_pairs(df, salt_threshold=10_000, num_salt_buckets=4)
    assert cold.columns == plain.columns
    assert sorted(map(tuple, cold.collect())) == sorted(
        map(tuple, plain.collect())
    )
    assert "Generate" not in _optimized_plan(cold)


def test_hot_block_reads_census_once(spark):
    """With a hot block the salted path runs, and the census is aggregated
    once — by the eager census action — not once per join side: both
    sides read the materialized census, so the pair plan holds no
    aggregate. The salted rows and columns equal the plain path's."""
    df = _mkdocs(spark, n=200)
    census = materialize_census(df)
    sizes = {r["block_key"]: r["block_size"] for r in census.frame.collect()}
    assert sizes == {
        r["block_key"]: r["block_size"] for r in block_census(df).collect()
    }
    assert census.max_block == max(sizes.values()) > 20
    salted = within_block_pairs(
        df, salt_threshold=20, num_salt_buckets=4, census=census
    )
    plan = _optimized_plan(salted)
    assert "Generate" in plan
    assert "Aggregate" not in plan
    plain = within_block_pairs(df)
    assert salted.columns == plain.columns
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # without a census argument the call materializes its own, once
    assert "Aggregate" not in _optimized_plan(
        within_block_pairs(df, salt_threshold=20, num_salt_buckets=4)
    )
