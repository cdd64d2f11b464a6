"""Feedback loop: uncertainty-sampled labels must monotonically improve
agreement with gold, recomputation must stay lineage-bounded, and seeded
labels must stick across rounds."""

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus
from ent_res_feedback_spark.operators.feedback import (
    FeedbackState,
    _docs_in_blocks,
    _refit_weights,
    run_feedback_loop,
    select_uncertain_pairs,
)
from ent_res_feedback_spark.operators.mentions import extract_mentions
from ent_res_feedback_spark.operators.metrics import pairwise_prf
from ent_res_feedback_spark.pipeline import (
    ERConfig,
    release_persisted,
    scored_pair_distances,
)


@pytest.fixture(scope="module")
def corpus():
    # higher-noise corpus so round 0 is imperfect and feedback has headroom
    return generate_corpus(CorpusConfig(n_entities=30, seed=99))


def test_uncertainty_selection_near_tau(spark, corpus):
    documents, _, _ = corpus
    docs = corpus_to_spark(spark, documents)
    scored = scored_pair_distances(docs, ERConfig())
    picked = select_uncertain_pairs(scored, tau=0.5, k=10).collect()
    assert len(picked) > 0
    all_scores = [
        r["score"]
        for r in scored.where(F.col("score").isNotNull()).collect()
    ]
    max_picked_dist = max(abs(r["score"] - 0.5) for r in picked)
    # picked pairs are closer to tau than the median unpicked pair
    import statistics

    assert max_picked_dist <= statistics.median(
        abs(s - 0.5) for s in all_scores
    )


def test_affected_docs_read_the_scored_checkpoint(spark, corpus):
    """A round's affected docs come from its checkpointed pair frame: the
    same docs as mention extraction puts in the touched blocks, with no
    Python node in the plan."""
    documents, _, _ = corpus
    docs = corpus_to_spark(spark, documents)
    raw = scored_pair_distances(docs, ERConfig())
    scored = raw.localCheckpoint()
    release_persisted(raw)
    blocks = sorted(
        r["block_key"] for r in scored.select("block_key").distinct().collect()
    )[::3]
    touched = spark.createDataFrame([(b,) for b in blocks], "block_key string")
    affected = _docs_in_blocks(scored, touched)
    plan = affected._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    want = extract_mentions(docs).where(F.col("block_key").isin(blocks))
    assert {r["doc_id"] for r in affected.collect()} == {
        r["doc_id"] for r in want.select("doc_id").collect()
    }


def test_feedback_improves_f1(spark, corpus):
    documents, gold, labeled_pairs = corpus
    docs = corpus_to_spark(spark, documents)
    gold_map = dict(gold)
    labeled_df = spark.createDataFrame(
        [(a, b, l) for a, b, l, _ in labeled_pairs],
        "doc_id_1 string, doc_id_2 string, label int",
    )

    def labeler(d1, d2):
        return int(gold_map[d1] == gold_map[d2])

    def metric_fn(clusters):
        return pairwise_prf(labeled_df, clusters)["f1"]

    res = run_feedback_loop(
        docs, labeler, ERConfig(), max_rounds=3, pairs_per_round=25,
        metric_fn=metric_fn,
    )
    hist = res["state"].history
    assert len(hist) >= 2
    first, last = hist[0]["metric"], hist[-1]["metric"]
    assert last >= first  # feedback never hurts on gold labels
    assert res["state"].touched_blocks  # lineage recorded
    # every labeled seed is enforced in the final scored frame
    seeds = res["state"].seeds
    scored = res["scored"]
    for d1, d2, kind in seeds[:10]:
        lo, hi = min(d1, d2), max(d1, d2)
        row = scored.where(
            (F.col("doc_id_1") == lo) & (F.col("doc_id_2") == hi)
        ).collect()
        assert row, (d1, d2)
        dist = row[0]["dist"]
        if kind == "require":
            assert dist == 0.0
        else:
            assert dist >= 1e4


def test_many_rounds_stable_plan_and_results(spark):
    """>=20 feedback rounds: the scored frame's plan must stay O(1) size
    (broadcast anti-join + per-round localCheckpoint, not a growing
    isin()/union lineage), and the incrementally maintained frame must
    equal a from-scratch rescore with the same accumulated seeds."""
    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=12, seed=7))
    docs = corpus_to_spark(spark, documents)
    gold_map = dict(gold)

    def labeler(d1, d2):
        return int(gold_map[d1] == gold_map[d2])

    cfg = ERConfig()
    res = run_feedback_loop(
        docs, labeler, cfg, max_rounds=22, pairs_per_round=2
    )
    state = res["state"]
    assert state.rounds >= 20, f"loop ended early at round {state.rounds}"

    # plan stays flat: localCheckpoint makes the frame a scan over the
    # checkpointed RDD — a handful of plan lines no matter the rounds
    plan_lines = len(
        res["scored"]._jdf.queryExecution().optimizedPlan().toString().splitlines()
    )
    assert plan_lines < 20, f"plan grew to {plan_lines} lines"

    # partitions stay flat: every round's frame keeps round 0's count
    # instead of adding the re-score's partitions to the union
    round0 = run_feedback_loop(docs, labeler, cfg, max_rounds=0)
    parts = res["scored"].rdd.getNumPartitions()
    assert parts == round0["scored"].rdd.getNumPartitions(), parts

    # unchanged results: incremental frame == full rescore with all seeds
    seeds_df = spark.createDataFrame(
        state.seeds, "doc_id_1 string, doc_id_2 string, kind string"
    )
    full = scored_pair_distances(docs, cfg, seeds=seeds_df)
    cols = ["doc_id_1", "doc_id_2", "block_key", "dist"]
    got = sorted(map(tuple, res["scored"].select(*cols).collect()))
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert got == want


def test_refit_rounds_change_weights_and_stay_consistent(spark):
    """FB1 opt-in refit: weights move off the defaults at the refit
    round, history records it, the post-refit scored frame equals a
    from-scratch rescore with the refit config + all seeds, and the refit
    round keeps round 0's partition count like every other round."""
    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=25, seed=13))
    docs = corpus_to_spark(spark, documents)
    gold_map = dict(gold)

    def labeler(d1, d2):
        return int(gold_map[d1] == gold_map[d2])

    cfg = ERConfig()
    res = run_feedback_loop(
        docs, labeler, cfg, max_rounds=2, pairs_per_round=15, refit_every=2,
    )
    state = res["state"]
    hist = state.history
    assert hist[-1].get("refit"), f"round 2 is not a refit round: {hist}"
    assert "n_touched_blocks" not in hist[-1]
    assert not state.touched_blocks  # lineage restarts from the refit

    # the refit fits on every seed gathered so far (all of them: it is
    # the last round)
    refit_cfg = _refit_weights(docs, cfg, FeedbackState(seeds=list(state.seeds)))
    assert refit_cfg.weights != cfg.weights
    seeds_df = spark.createDataFrame(
        state.seeds, "doc_id_1 string, doc_id_2 string, kind string"
    )
    full = scored_pair_distances(docs, refit_cfg, seeds=seeds_df)
    keys = ["doc_id_1", "doc_id_2", "block_key"]
    got = sorted(map(tuple, res["scored"].select(*keys, "dist").collect()))
    want = sorted(map(tuple, full.select(*keys, "dist").collect()))
    release_persisted(full)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    # the refit's training rows reach the driver in partition order, so
    # the weights may differ in the last bits between the two fits
    assert [g[3] for g in got] == pytest.approx([w[3] for w in want], abs=1e-9)

    round0 = run_feedback_loop(docs, labeler, cfg, max_rounds=0)
    parts = res["scored"].rdd.getNumPartitions()
    assert parts == round0["scored"].rdd.getNumPartitions(), parts


def test_uncertainty_band_anchors_on_tau_rank(spark):
    """Round-4 fix: with a score distribution skewed away from 0.5 the
    band must still contain only ~2q of the mass AROUND TAU, not a
    median-anchored band clamped out to tau (which could cover most of
    the distribution)."""
    from ent_res_feedback_spark.operators.feedback import (
        BAND_QUANTILE as q,
        uncertainty_band,
    )

    # 1000 scores: 10% below tau=0.5 (uniform 0.3-0.5), 90% above
    # (uniform 0.8-1.0) — strongly skewed away from the threshold
    rows = [(0.3 + 0.2 * i / 100,) for i in range(100)] + [
        (0.8 + 0.2 * i / 900,) for i in range(900)
    ]
    scored = spark.createDataFrame(rows, "score double")
    lo, hi = uncertainty_band(scored, tau=0.5)
    assert lo <= 0.5 <= hi
    in_band = scored.where(F.col("score").between(lo, hi)).count()
    frac = in_band / 1000
    # ~q mass on each side of tau's rank; allow approxQuantile's 1%
    # relative error plus discretization slack
    assert frac <= 2 * q + 0.08, (lo, hi, frac)


def test_scalar_labeler_with_defaulted_param_not_misrouted(spark):
    """A scalar labeler declared (a, b=None) has ONE required positional
    — an arity sniff would send it to a batch path, where it blows up on
    a DataFrame argument. The labeler is always called per pair."""
    documents, gold, _ = generate_corpus(CorpusConfig(n_entities=8, seed=3))
    docs = corpus_to_spark(spark, documents)
    gold_map = dict(gold)

    def defaulted_scalar(d1, d2=None):
        return int(gold_map[d1] == gold_map[d2])

    res = run_feedback_loop(
        docs, defaulted_scalar, ERConfig(), max_rounds=2, pairs_per_round=3
    )
    assert res["state"].rounds >= 0  # ran scalar path without TypeError
