"""The physical-plan audit (plans/explain_audit.py) enforced in the suite:
every scale-shape assertion PLANS.md documents must hold on every run, not
only when the audit is invoked by hand."""

import pytest

from ent_res_feedback_spark.plans import explain_audit


@pytest.fixture()
def no_aqe(spark):
    # AQE prints isFinalPlan=false skeletons that hide join/codegen nodes;
    # the audit needs the full static plan. SQLConf is session-level and
    # runtime-settable, so flip it just for this test.
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", old)


def test_plan_audit_checks_pass(no_aqe, sf_dir):
    plans = explain_audit.audit(no_aqe, sf_dir)
    problems = explain_audit.check(plans)
    assert problems == []


def test_formatted_plan_independent_of_session_history(spark):
    """The same frame built twice in one session formats to the same text:
    expression ids, exchange plan ids and RDD ids are session counters."""
    from pyspark.sql import functions as F

    def frame():
        rows = spark.createDataFrame([(i, i % 3) for i in range(9)], "a long, b long")
        return rows.groupBy((F.col("b") + 1).alias("k")).agg(F.sum("a").alias("s"))

    first = explain_audit._formatted(frame())
    assert "Exchange" in first and "RDD[" in first
    assert explain_audit._formatted(frame()) == first
