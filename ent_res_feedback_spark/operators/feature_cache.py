"""Persistent pair-feature cache (S6/FE3, SURVEY.md §2.1/§2.5).

Reference: ``many_pairs_featurize`` (s2and/featurizer.py:585-628) keeps a
JSON cache keyed ``"sid1___sid2"`` and checks BOTH orientations before
featurizing a pair — its single biggest practical speed lever on repeat
runs.

Spark restatement: a parquet table keyed by the CANONICAL pair
(doc_id_1 < doc_id_2) — one key covers both orientations, the set-based
equivalent of the reference's two-way dict probe (features here are
symmetric, as in the reference). A warm run:

    pairs -> anti-join cache  = misses  -> featurize (the ONLY rows that
                                           ever reach the pandas UDFs)
          -> inner-join cache = hits    -> reuse stored vectors

The miss count rides the cache-append write as an Observation, so
callers (and tests) can assert "second run featurized 0 pairs" without
an extra job. At 100 TB the cache is bucketed by key in production; here
plain parquet + append, same semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.features import FEATURE_COLS


class PairFeatureCache:
    """Parquet-backed feature cache with the reference's semantics."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        feature_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.feature_cols = list(feature_cols or FEATURE_COLS)

    def _exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or (
            os.path.isdir(self.path)
            and any(n.endswith(".parquet") for n in os.listdir(self.path))
        )

    def read(self) -> DataFrame | None:
        if not self._exists():
            return None
        return self.spark.read.parquet(self.path)

    def featurize_with_cache(
        self, pairs: DataFrame, featurize_fn
    ) -> tuple[DataFrame, int]:
        """pairs: canonical pair frame (doc_id_1 < doc_id_2, plus whatever
        columns ``featurize_fn`` needs). featurize_fn(misses) must return
        a frame carrying doc_id_1, doc_id_2 and ``self.feature_cols``.

        Returns (features frame with key + passthrough pair columns +
        feature columns, number of pairs actually featurized). The miss
        features are appended to the cache before being served back, so
        the expensive UDFs run EXACTLY once per distinct pair across all
        runs against this cache path.
        """
        key = ["doc_id_1", "doc_id_2"]
        passthrough = [c for c in pairs.columns if c not in key]
        cached = self.read()
        if cached is None:
            misses = pairs
        else:
            misses = pairs.join(cached.select(*key), key, "left_anti")

        obs = Observation()
        new_rows = (
            featurize_fn(misses)
            .select(*key, *self.feature_cols)
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        new_rows.write.mode("append").parquet(self.path)
        n_featurized = int(obs.get["n"])

        # after the append the cache covers every requested key — ONE join
        # serves hits and just-written misses alike, with zero UDF recompute
        # (dropDuplicates guards against a concurrent double-append)
        out = (
            self.spark.read.parquet(self.path)
            .select(*key, *self.feature_cols)
            .dropDuplicates(key)
            .join(pairs, key)
        )
        return out.select(*key, *passthrough, *self.feature_cols), n_featurized
