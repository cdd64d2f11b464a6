"""Pairwise featurization over the joined mention-pair frame
(SURVEY.md §2.5).

The reference computes a 39-dim vector per pair in Python pool workers
(featurizer.py:301-517); here every feature is either a JVM column
expression (equalities, jaccards, levenshtein) or an Arrow-batched pandas
UDF (Jaro-Winkler / prefix / LCS), evaluated over the pair frame produced
by operators/pairs.py — no per-row Python anywhere.

``mention_pair_features`` produces the north-star feature set
(Jaro-Winkler + Levenshtein + prefix on first names, middle-initial
compatibility, affiliation token jaccard) with the same NULL->neutral
fills as the oracle (oracle.name_features_py), so
Spark-vs-oracle disagreement isolates plumbing bugs, not model drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.expr import once_per_context
from ent_res_feedback_spark.functions.strdist import (
    jaro_winkler,
    levenshtein_norm,
    prefix_dist,
)
from ent_res_feedback_spark.functions.text import set_jaccard

NEUTRAL = 0.5  # NULL -> neutral evidence fill (oracle.name_features_py)

#: canonical feature column order (the scorer's weight vector order)
FEATURE_COLS = [
    "jw_first",
    "lev_first",
    "prefix_first",
    "middle_compat",
    "affil_jaccard",
]


def _initials(middle: Column) -> Column:
    return F.transform(
        F.filter(F.split(middle, " "), lambda t: F.length(t) > 0),
        lambda t: F.substring(t, 1, 1),
    )


def middle_compatible(m1: Column, m2: Column) -> Column:
    """1.0 when middle names don't conflict: either side empty, or the
    initial sets overlap (subset of reference data.py:866-890)."""
    i1, i2 = _initials(m1), _initials(m2)
    return (
        F.when((F.size(i1) == 0) | (F.size(i2) == 0), F.lit(1.0))
        .when(F.arrays_overlap(i1, i2), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def _tokens(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda t: F.length(t) > 0)


@once_per_context
def _pair_feature_columns() -> tuple:
    """FEATURE_COLS as aliased columns — built once per SparkContext."""
    f1, f2 = F.col("first_1"), F.col("first_2")
    gate = (F.length(f1) > 1) & (F.length(f2) > 1)
    neutral = F.lit(NEUTRAL)
    affil = set_jaccard(_tokens(F.col("affil_norm_1")), _tokens(F.col("affil_norm_2")))
    return (
        F.coalesce(F.when(gate, jaro_winkler(f1, f2)), neutral).alias("jw_first"),
        F.coalesce(
            F.when(gate, 1.0 - levenshtein_norm(f1, f2)), neutral
        ).alias("lev_first"),
        F.coalesce(
            F.when(gate, 1.0 - prefix_dist(f1, f2)), neutral
        ).alias("prefix_first"),
        middle_compatible(F.col("middle_1"), F.col("middle_2")).alias("middle_compat"),
        F.coalesce(affil, neutral).alias("affil_jaccard"),
    )


def mention_pair_features(pairs: DataFrame) -> DataFrame:
    """Adds FEATURE_COLS to a pair frame with first/middle/affil_norm
    columns suffixed _1/_2.

    String-distance features gate on len>1 (reference text.py:363:
    initial-only names carry no distance evidence) and fill NULL->0.5.
    The expression trees are built once per SparkContext
    (``_pair_feature_columns``).
    """
    return pairs.select("*", *_pair_feature_columns())
