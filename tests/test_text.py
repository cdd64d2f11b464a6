"""Golden tests for the scalar text layer, ported from the reference's
tests/test_text.py (values asserted there are the spec; our missing-value
convention is NULL where the reference returns NaN)."""

import math

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions import text as T


def one(spark, col):
    """Evaluate a single column expression against a 1-row frame."""
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [(None,), ("",), ("TeXt",), ("te'xt",), ("José  Müller-9",)],
        ["s"],
    )
    out = [r["n"] for r in df.select(T.normalize_text(F.col("s")).alias("n")).collect()]
    assert out == ["", "", "text", "te xt", "jose muller"]
    out2 = [
        r["n"]
        for r in df.select(T.normalize_text(F.col("s"), True).alias("n")).collect()
    ]
    assert out2[3] == "text"  # apostrophe special case (reference test line 19)


def test_set_jaccard(spark):
    def sj(a, b):
        df = spark.createDataFrame([(a, b)], "a1 array<string>, a2 array<string>")
        return df.select(T.set_jaccard(F.col("a1"), F.col("a2")).alias("v")).collect()[0]["v"]

    assert sj([], []) is None
    assert sj(["1", "2", "3", "4", "5"], ["1", "2", "3", "4", "6"]) == pytest.approx(4 / 6)
    # duplicates are deduped (set semantics, reference tests/test_text.py:86)
    assert sj(["1", "2", "3", "4", "5", "5"], ["1", "2", "3", "4", "6"]) == pytest.approx(4 / 6)


def test_compute_block(spark):
    df = spark.createDataFrame([("",), ("text",), ("tony text",)], ["n"])
    out = [r["b"] for r in df.select(T.compute_block_key(F.col("n")).alias("b")).collect()]
    # reference tests/test_text.py:88-91
    assert out == ["", "text", "t text"]


def test_cosine_sim(spark):
    from ent_res_feedback_spark.functions.vectors import cosine_sim

    df = spark.createDataFrame(
        [([1.0, 2.0], [2.0, 3.0]), ([0.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    vals = [r["c"] for r in df.select(cosine_sim(F.col("a"), F.col("b")).alias("c")).collect()]
    expected = (1 * 2 + 2 * 3) / (math.sqrt(5) * math.sqrt(13))
    assert vals[0] == pytest.approx(expected)
    assert vals[1] == 0.0  # zero vector -> 0 (reference s2and/text.py:391)


# ---------------------------------------------------------------------------
# winnowing fingerprints (functions/hashing.py)
# ---------------------------------------------------------------------------

def test_winnowing_matches_python_mirror(spark):
    import hashlib

    from pyspark.sql import functions as F

    from ent_res_feedback_spark.functions.hashing import winnowing_fingerprints

    def py_winnow(s, k=5, w=4):
        grams = [
            int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:8], 16)
            for i in range(len(s) - k + 1)
        ]
        if not grams:
            return []
        if len(grams) < w:
            return sorted({min(grams)})
        sel = {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
        return sorted(sel)

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "abcdefgh",
        "abcd",        # shorter than k: no grams
        "abcde",       # exactly one gram
        "aaaaaaaaaa",  # constant text: one distinct hash
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        r["text"]: sorted(r["fps"])
        for r in df.select(
            "text", winnowing_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    for t in texts:
        assert got[t] == py_winnow(t), f"mismatch for {t!r}"


def test_winnowing_edit_robust(spark):
    from pyspark.sql import functions as F

    from ent_res_feedback_spark.functions.hashing import winnowing_fingerprints

    base = "entity resolution at scale requires blocking and careful scoring"
    edited = base.replace("careful", "carefux")
    df = spark.createDataFrame([(base,), (edited,)], "text string")
    rows = df.select(winnowing_fingerprints(F.col("text")).alias("f")).collect()
    a, b = set(rows[0]["f"]), set(rows[1]["f"])
    # a one-char edit perturbs only windows near the edit: most survive
    assert len(a & b) / len(a | b) >= 0.5
    assert a != b


def test_winnowing_randomized_parity(spark):
    """100 random strings (fixed seed): Spark expression == python mirror,
    including short/empty/repetitive edge shapes."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    from ent_res_feedback_spark.functions.hashing import winnowing_fingerprints

    def py_winnow(s, k=5, w=4):
        grams = [
            int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:8], 16)
            for i in range(len(s) - k + 1)
        ]
        if not grams:
            return []
        if len(grams) < w:
            return sorted({min(grams)})
        return sorted(
            {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
        )

    rng = random.Random(1234)
    alphabet = "ab cd"  # tiny alphabet: maximizes duplicate k-grams/ties
    texts = [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
        for _ in range(99)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {
        r["i"]: sorted(r["fps"])
        for r in df.select(
            "i", winnowing_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_winnow(t), f"mismatch for {t!r}"
