"""Seed constraints: the require-group closure."""


def test_require_groups_distributed_fallback(spark, monkeypatch):
    """Above the driver bound, require-groups must come from the
    distributed CC — same transitive groups, no driver union-find."""
    import ent_res_feedback_spark.operators.constraints as cons

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "doc_id_1 string, doc_id_2 string",
    )
    want = {r["doc_id"]: r["grp"] for r in cons._require_groups(edges).collect()}
    monkeypatch.setattr(cons, "_REQUIRE_GROUPS_DRIVER_MAX", 1)
    got = {r["doc_id"]: r["grp"] for r in cons._require_groups(edges).collect()}
    # identical partitions (group labels are the min member both ways)
    assert got == want
    assert got["a"] == got["b"] == got["c"]
    assert got["x"] == got["y"] != got["a"]
