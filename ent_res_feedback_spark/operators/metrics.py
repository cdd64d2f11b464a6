"""Cluster-quality metrics as DataFrame aggregations (SURVEY.md §2.9).

- pairwise_prf: the claims-eval / acceptance-metric shape (A7, reference
  s2and/eval.py:871-1061): join labeled pairs to predicted co-membership,
  count TP/FP/FN/TN, derive P/R/F1.
- b3: B-cubed precision/recall/F1 (A1, reference eval.py:616-720) via the
  contingency groupBy — per-item precision |pred∩true|/|pred| averaged
  over items, computed without any per-item loop.
- pairwise_cluster_prf: all-intra-pair P/R/F1 with the singleton self-pair
  correction (A2, reference eval.py:723-783, arXiv:1808.04216).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pairwise_prf(labeled_pairs: DataFrame, assignments: DataFrame) -> dict:
    """A7 — labeled_pairs(doc_id_1, doc_id_2, label) vs
    assignments(doc_id, cluster_id). Returns tp/fp/fn/tn + P/R/F1."""
    a1 = assignments.select(
        F.col("doc_id").alias("doc_id_1"), F.col("cluster_id").alias("c1")
    )
    a2 = assignments.select(
        F.col("doc_id").alias("doc_id_2"), F.col("cluster_id").alias("c2")
    )
    joined = labeled_pairs.join(a1, "doc_id_1").join(a2, "doc_id_2")
    same = (F.col("c1") == F.col("c2")).cast("int")
    row = joined.agg(
        F.sum(((F.col("label") == 1).cast("int") * same)).alias("tp"),
        F.sum(((F.col("label") == 1).cast("int") * (1 - same))).alias("fn"),
        F.sum(((F.col("label") == 0).cast("int") * same)).alias("fp"),
        F.sum(((F.col("label") == 0).cast("int") * (1 - same))).alias("tn"),
    ).collect()[0]
    tp, fn, fp, tn = (int(row[k] or 0) for k in ("tp", "fn", "fp", "tn"))
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "precision": precision, "recall": recall, "f1": f1,
    }


def b3_per_item(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Per-item B-cubed rows (id, p_i, r_i): precision_i = |P∩G|/|P|,
    recall_i = |P∩G|/|G| — the exact quotients that ``b3`` and
    ``facet_eval`` average. Contingency + size joins only; every join is
    on a cluster key, no pair materialization."""
    from pyspark.sql import Window

    p = pred.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("pc"))
    g = gold.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("gc"))
    j = p.join(g, "id")
    # Window counts instead of groupBy + join-back: the former shape
    # referenced ``j`` four times, re-running the whole upstream pipeline
    # (pred is typically a full clustering) per reference. Counts over
    # whole-partition windows are the identical integers, computed from
    # ONE evaluation of ``j`` in two exchanges — hash(pc) serves both the
    # (pc) and (pc, gc) windows (it clusters either key set), hash(gc)
    # serves the third.
    npg = F.count(F.lit(1)).over(Window.partitionBy("pc", "gc"))
    np_ = F.count(F.lit(1)).over(Window.partitionBy("pc"))
    ng = F.count(F.lit(1)).over(Window.partitionBy("gc"))
    return j.select(
        "id", (npg / np_).alias("p_i"), (npg / ng).alias("r_i")
    )


def b3(pred: DataFrame, gold: DataFrame) -> dict:
    """A1 — B-cubed P/R/F1.

    pred(doc_id, cluster_id), gold(doc_id, cluster_id). For item i with predicted
    cluster P and gold cluster G: precision_i = |P∩G|/|P|,
    recall_i = |P∩G|/|G|; metric = mean over items. Expressed as:
    contingency counts n_{pg} (one groupBy), cluster sizes |P|, |G|
    (two groupBys), then sum_{pg} n_{pg} * (n_{pg}/|P|) / N etc. — every
    item in cell (p,g) shares the same per-item value.
    """
    p = pred.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("pc"))
    g = gold.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("gc"))
    j = p.join(g, "id")
    cont = j.groupBy("pc", "gc").count().withColumnRenamed("count", "npg")
    psize = j.groupBy("pc").count().withColumnRenamed("count", "np")
    gsize = j.groupBy("gc").count().withColumnRenamed("count", "ng")
    total = j.count()
    row = (
        cont.join(psize, "pc")
        .join(gsize, "gc")
        .agg(
            F.sum(F.col("npg") * F.col("npg") / F.col("np")).alias("psum"),
            F.sum(F.col("npg") * F.col("npg") / F.col("ng")).alias("rsum"),
        )
        .collect()[0]
    )
    precision = float(row["psum"]) / total if total else 1.0
    recall = float(row["rsum"]) / total if total else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1}


def cmacro_pairwise_f1(pred: DataFrame, gold: DataFrame, blocks: DataFrame) -> dict:
    """A3 — pairwise F1 computed per block then macro-averaged (reference
    eval.py:786-868). ``blocks``: (doc_id, block_key). All per-block P/R/F1
    fall out of one grouped aggregation over the block-qualified
    contingency — no per-block loop."""
    p = pred.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("pc"))
    g = gold.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("gc"))
    b = blocks.select(F.col("doc_id").alias("id"), "block_key")
    j = p.join(g, "id").join(b, "id")

    def pairs_by(cols):
        return (
            j.groupBy("block_key", *cols)
            .count()
            .groupBy("block_key")
            .agg(F.sum(F.col("count") * (F.col("count") + 1) / 2).alias("s"))
        )

    np_ = pairs_by(["pc"]).withColumnRenamed("s", "n_pred")
    ng = pairs_by(["gc"]).withColumnRenamed("s", "n_gold")
    nb = pairs_by(["pc", "gc"]).withColumnRenamed("s", "n_both")
    per_block = np_.join(ng, "block_key").join(nb, "block_key").select(
        "block_key",
        (F.col("n_both") / F.col("n_pred")).alias("p"),
        (F.col("n_both") / F.col("n_gold")).alias("r"),
    )
    per_block = per_block.withColumn(
        "f1",
        F.when(
            F.col("p") + F.col("r") > 0,
            2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")),
        ).otherwise(F.lit(0.0)),
    )
    row = per_block.agg(
        F.avg("p").alias("precision"), F.avg("r").alias("recall"), F.avg("f1").alias("f1")
    ).collect()[0]
    return {k: float(row[k]) for k in ("precision", "recall", "f1")}


def v_measure(pred: DataFrame, gold: DataFrame) -> float:
    """A4 — v-measure (homogeneity/completeness harmonic mean; reference
    uses sklearn v_measure_score, e2e_scripts/evaluate.py:75). Entropies
    from the contingency table via groupBy aggregations."""
    p = pred.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("pc"))
    g = gold.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("gc"))
    j = p.join(g, "id")

    # Fully distributed: the contingency table NEVER reaches the driver
    # (at 100x scale it's O(clusters^2) cells). All four entropies are sum
    # aggregations over the (pc, gc) contingency joined to its marginals;
    # only five scalars come back.
    cont = j.groupBy("pc", "gc").agg(F.count(F.lit(1)).alias("npg"))
    # marginals derived from the (much smaller) contingency, not from j
    psize = cont.groupBy("pc").agg(F.sum("npg").alias("np"))
    gsize = cont.groupBy("gc").agg(F.sum("npg").alias("ng"))
    row = (
        cont.join(psize, "pc")
        .join(gsize, "gc")
        .agg(
            F.sum("npg").alias("n"),
            # sum npg*ln(npg/np) -> -n*H(C|K); sum npg*ln(npg/ng) -> -n*H(K|C)
            F.sum(F.col("npg") * F.log(F.col("npg") / F.col("np"))).alias("sck"),
            F.sum(F.col("npg") * F.log(F.col("npg") / F.col("ng"))).alias("skc"),
        )
        .collect()[0]
    )
    n = int(row["n"] or 0)
    if n == 0:
        return 1.0
    marg = psize.agg(F.sum(F.col("np") * F.log("np")).alias("s")).collect()[0]["s"]
    margg = gsize.agg(F.sum(F.col("ng") * F.log("ng")).alias("s")).collect()[0]["s"]
    import math

    log_n = math.log(n)
    h_k = log_n - float(marg) / n     # entropy of predicted clustering
    h_c = log_n - float(margg) / n    # entropy of gold classes
    h_c_k = -float(row["sck"]) / n
    h_k_c = -float(row["skc"]) / n
    hom = 1.0 if h_c == 0 else 1.0 - h_c_k / h_c
    com = 1.0 if h_k == 0 else 1.0 - h_k_c / h_k
    return 0.0 if hom + com == 0 else 2 * hom * com / (hom + com)


def auroc_ap(scored: DataFrame) -> dict:
    """A5 — AUROC + average precision over a scored (``score``), labeled
    (``label``) pair frame
    (reference eval.py:430-607 uses sklearn roc_auc_score /
    average_precision_score on the collected predictions).

    Distributed form: group by DISTINCT score (the contingency per
    threshold — the only thing either metric actually needs), then a
    cumulative window over that (small) per-score table:
      AUROC = Mann-Whitney with tie-correction:
              sum_s pos_s * (cum_neg_below + neg_s / 2) / (P * N)
      AP    = sum over thresholds descending of precision * delta-recall,
              exactly sklearn's step integral.
    The raw pair frame never reaches the driver; the window runs over one
    row per distinct score.
    """
    from pyspark.sql import Window

    lab = F.col("label").cast("double")
    g = (
        scored.groupBy(F.col("score").alias("s"))
        .agg(
            F.sum(lab).alias("pos"),
            F.sum(1.0 - lab).alias("neg"),
        )
    )
    w_up = Window.orderBy(F.col("s").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_down = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    enriched = g.select(
        "s",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_up), F.lit(0.0)).alias("cum_neg_below"),
        F.sum("pos").over(w_down).alias("cum_pos_ge"),
        (F.sum("pos").over(w_down) + F.sum("neg").over(w_down)).alias("cum_ge"),
    )
    row = enriched.agg(
        F.sum("pos").alias("P"),
        F.sum("neg").alias("N"),
        F.sum(F.col("pos") * (F.col("cum_neg_below") + F.col("neg") / 2)).alias(
            "u"
        ),
        F.sum(
            (F.col("pos"))  # delta TP at this threshold
            * F.col("cum_pos_ge")
            / F.col("cum_ge")
        ).alias("ap_num"),
    ).collect()[0]
    p, n = float(row["P"] or 0), float(row["N"] or 0)
    auroc = float(row["u"]) / (p * n) if p and n else float("nan")
    ap = float(row["ap_num"]) / p if p else float("nan")
    return {"auroc": auroc, "average_precision": ap}


def facet_eval(
    pred: DataFrame,
    gold: DataFrame,
    facets: DataFrame,
    facet_col: str,
) -> DataFrame:
    """A6 — B3-F1 bucketed by a facet column (reference eval.py:196-427):
    per-item B3 precision/recall from the contingency join, averaged per
    facet bucket. Returns (facet, precision, recall, f1, n)."""
    fct = facets.select(F.col("doc_id").alias("id"), F.col(facet_col).alias("facet"))
    per_item = b3_per_item(pred, gold)
    out = (
        per_item.join(fct, "id")
        .groupBy("facet")
        .agg(
            F.avg("p_i").alias("precision"),
            F.avg("r_i").alias("recall"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return out.select("facet", "precision", "recall", f1.alias("f1"), "n")


def pairwise_cluster_prf(pred: DataFrame, gold: DataFrame) -> dict:
    """A2 — P/R/F1 over all intra-cluster pairs, counting each item's
    self-pair (the singleton correction of arXiv:1808.04216 used by the
    reference at eval.py:723-783: without it singletons contribute
    nothing). Pair counts via n*(n+1)/2 on cluster sizes; intersection via
    the contingency table — no pair materialization."""
    p = pred.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("pc"))
    g = gold.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("gc"))
    j = p.join(g, "id")

    # all three pair totals in ONE aggregation job: GROUPING SETS
    # ((pc), (gc), (pc, gc)) expands once and shuffles once, and the
    # final roll-up keys on grouping_id (1 = pc-only, 2 = gc-only,
    # 0 = both; verified bit layout for column order (pc, gc)) — no
    # per-scalar stage barriers
    pairs = F.col("c") * (F.col("c") + 1) / 2
    gs = j.groupingSets([["pc"], ["gc"], ["pc", "gc"]], "pc", "gc").agg(
        F.count("*").alias("c"), F.grouping_id().alias("gid")
    )
    row = gs.agg(
        F.sum(F.when(F.col("gid") == 1, pairs)).alias("n_pred"),
        F.sum(F.when(F.col("gid") == 2, pairs)).alias("n_gold"),
        F.sum(F.when(F.col("gid") == 0, pairs)).alias("n_both"),
    ).collect()[0]
    n_pred = float(row["n_pred"] or 0)
    n_gold = float(row["n_gold"] or 0)
    n_both = float(row["n_both"] or 0)
    precision = n_both / n_pred if n_pred else 1.0
    recall = n_both / n_gold if n_gold else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "n_pred": n_pred,
        "n_gold": n_gold,
        "n_both": n_both,
    }
