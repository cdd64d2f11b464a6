"""functions.expr.let — the evaluate-once binding the round-6 operator
fixes rely on (winnowing, langid profile, minhash, textstats).

The load-bearing property is SINGLE EVALUATION: the bound expression
must run once per row no matter how many times the lambda body
references it. Proved with a non-deterministic input — ``rand() -
rand()`` is almost surely nonzero, while ``let(rand(), x -> x - x)``
must be exactly 0.0 for every row if (and only if) the binding
evaluates its input once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.expr import let


def test_let_preserves_values(spark):
    df = spark.createDataFrame(
        [("hello world",), ("",), (None,)], ["t"]
    ).select(
        let(F.col("t"), lambda t: F.length(t)).alias("bound"),
        F.length(F.col("t")).alias("plain"),
    )
    rows = df.collect()
    assert [r.bound for r in rows] == [r.plain for r in rows]
    # NULL propagates through the binding exactly as without it
    assert rows[2].bound is None


def test_let_evaluates_once(spark):
    # rand() is non-deterministic, so Catalyst cannot merge two separate
    # references; x - x == 0 for every row proves the binding evaluated
    # the input exactly once and reused the value.
    df = spark.range(1000).select(
        let(F.rand(), lambda x: x - x).alias("bound_diff"),
        (F.rand() - F.rand()).alias("unbound_diff"),
    )
    rows = df.collect()
    assert all(r.bound_diff == 0.0 for r in rows)
    # sanity: without the binding the two evaluations genuinely differ
    # (if this ever becomes all-zero, the proof above proves nothing)
    assert any(r.unbound_diff != 0.0 for r in rows)


def test_let_nests(spark):
    out = (
        spark.createDataFrame([("abc",)], ["t"])
        .select(
            let(
                F.upper(F.col("t")),
                lambda u: let(F.concat(u, u), lambda d: F.length(d) + F.length(u)),
            ).alias("n")
        )
        .collect()[0]
        .n
    )
    assert out == 9  # len("ABCABC") + len("ABC")
