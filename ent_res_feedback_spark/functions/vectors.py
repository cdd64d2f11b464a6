"""Dense-vector functions (SURVEY.md F8 — embedding cosine).

Reference: ``cosine_sim`` (s2and/text.py:374-394) and the SPECTER feature
(featurizer.py:486-503). Two forms:

- ``cosine_sim``: pure column expression (zip_with + aggregate) — JVM-side,
  used where single-pair cosines feed other column logic and for DuckDB
  oracle parity (``list_cosine_similarity``).
- numpy batch kernels live in operators/similarity.py where whole
  partitions of vectors are multiplied at once (ANN top-k).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """F8 — inner(a,b)/(|a||b|); 0.0 when either norm is zero (reference
    s2and/text.py:389-394 returns 0, not NaN, for zero vectors)."""
    denom = F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b))
    return F.when(denom == 0, F.lit(0.0)).otherwise(_dot(a, b) / denom)
