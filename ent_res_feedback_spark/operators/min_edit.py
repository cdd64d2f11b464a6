"""A8 — min_pair_edit: minimum greedy cluster-edit count to fully correct
a block's labeled-pair mistakes (reference ``s2and/eval.py:1064-1160``).

Reference semantics, mirrored exactly:

- The mistaken signature ids are those appearing in currently-wrong
  labeled pairs, processed in descending wrong-pair frequency
  (``Counter.most_common`` order; ties broken by first appearance).
- For each mistaken id, try re-assigning it to every other cluster label
  present in the block plus a fresh ``"dummy"`` label; the objective is
  ``-(fp + fn)`` over the block's labeled pairs. Accept the best strictly
  improving flip, then recompute the wrong/right pair partition; stop
  early once no wrong pairs remain.
- Returns ``(min_edit_score, min_edit_count, n_mistaken_ids)`` where
  score = steps / (n_mistaken - 1), exactly the reference formula.
  (n_mistaken >= 2 whenever any wrong pair exists — each wrong pair
  contributes two endpoints — so the denominator is always positive;
  a defensive ``float(steps)`` guard covers n == 1 anyway.)

Spark shape: the greedy loop is inherently sequential *within* a block
but blocks are independent and small (the reference caps blocks at
80-100 signatures, BASELINE.md), so this runs as ``applyInPandas`` per
block — driver never sees pair data, 10^12-doc scale-out is across
blocks. ``_min_pair_edit_py`` is the exact single-block kernel, also
used directly by the golden tests.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("block_key", T.StringType()),
        T.StructField("min_edit_score", T.DoubleType()),
        T.StructField("min_edit_count", T.IntegerType()),
        T.StructField("n_mistaken_ids", T.IntegerType()),
    ]
)


def _min_pair_edit_py(
    assign: dict[str, str], pairs: list[tuple[str, str, bool]]
) -> tuple[float, int, int]:
    """Exact reference greedy (eval.py:1064-1160) on one block.

    assign: sig_id -> predicted cluster label
    pairs:  (sig_id_1, sig_id_2, gold_same)
    """
    assign = dict(assign)

    def split_wrong_right():
        wrong, right = [], []
        for s1, s2, gold_same in pairs:
            pred_same = assign[s1] == assign[s2]
            (right if pred_same == gold_same else wrong).append((s1, s2, gold_same))
        return wrong, right

    wrong, _right = split_wrong_right()
    if not wrong:
        return 0.0, 0, 0

    # the reference iterates a Python set here (hash-order ties); sorting
    # makes tie-breaks deterministic without changing any strict-improve
    # decision
    all_clusters = sorted(set(assign.values()) | {"dummy"})

    # the reference dedups labeled pairs into tp/tn ORDERED-TUPLE sets
    # before the objective loop (eval.py:1092-1097), so a duplicate
    # labeled pair counts once in the objective (while still counting
    # per-occurrence in the wrong-frequency Counter below — also
    # reference behavior, eval.py:1117-1119)
    tp_sigs = {(s1, s2) for s1, s2, gold in pairs if gold}
    tn_sigs = {(s1, s2) for s1, s2, gold in pairs if not gold}

    def objective() -> int:
        # -(fp + fn) over the deduped pair sets (reference
        # eval_current_cluster, eval.py:1099-1115)
        bad = 0
        for s1, s2 in tp_sigs:
            if assign[s1] != assign[s2]:
                bad += 1
        for s1, s2 in tn_sigs:
            if assign[s1] == assign[s2]:
                bad += 1
        return -bad

    counts = Counter()
    for s1, s2, _ in wrong:
        counts.update([s1, s2])
    worst_ids = [i for i, _ in counts.most_common()]

    steps = 0
    for worst_id in worst_ids:
        original = assign[worst_id]
        best = objective()
        best_flip = None
        for flip_to in all_clusters:
            if flip_to == original:
                continue
            assign[worst_id] = flip_to
            cur = objective()
            if cur > best:
                best, best_flip = cur, flip_to
        assign[worst_id] = best_flip if best_flip is not None else original
        if best_flip is not None:
            steps += 1
            wrong, _right = split_wrong_right()
        if not wrong:
            break

    n = len(worst_ids)
    score = steps / (n - 1) if n > 1 else float(steps)
    return score, steps, n


def min_pair_edit(assignments: DataFrame, labeled_pairs: DataFrame) -> DataFrame:
    """Per-block minimum greedy edit stats.

    assignments: (doc_id, cluster_id) predicted clusters.
    labeled_pairs: (doc_id_1, doc_id_2, label, block_key) with label in
    {0, 1} (the claims-eval shape, corpus.labeled_pairs).

    Returns (block_key, min_edit_score, min_edit_count, n_mistaken_ids),
    one row per block that has at least one labeled pair. Aggregate
    globally with ``F.sum("min_edit_count")`` etc. — the reference's
    single-process run is the one-block special case.
    """
    a1 = assignments.select(
        F.col("doc_id").alias("doc_id_1"), F.col("cluster_id").alias("c1")
    )
    a2 = assignments.select(
        F.col("doc_id").alias("doc_id_2"), F.col("cluster_id").alias("c2")
    )
    joined = labeled_pairs.join(a1, "doc_id_1").join(a2, "doc_id_2").select(
        "block_key", "doc_id_1", "doc_id_2", "label", "c1", "c2"
    )

    def _per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        # canonical pair order: applyInPandas hands rows in shuffle order,
        # which is not guaranteed stable across runs; sorting pins the
        # Counter insertion order (the most_common tie-break) so the
        # result is deterministic and oracle-replayable
        pdf = pdf.sort_values(["doc_id_1", "doc_id_2"])
        assign: dict[str, str] = {}
        pairs: list[tuple[str, str, bool]] = []
        for r in pdf.itertuples(index=False):
            assign[r.doc_id_1] = str(r.c1)
            assign[r.doc_id_2] = str(r.c2)
            pairs.append((r.doc_id_1, r.doc_id_2, bool(r.label)))
        score, steps, n = _min_pair_edit_py(assign, pairs)
        return pd.DataFrame(
            {
                "block_key": [pdf["block_key"].iloc[0]],
                "min_edit_score": [score],
                "min_edit_count": [steps],
                "n_mistaken_ids": [n],
            }
        )

    return joined.groupBy("block_key").applyInPandas(_per_block, RESULT_SCHEMA)
