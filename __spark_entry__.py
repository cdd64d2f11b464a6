"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ER pipeline on sf0.001.
``queries()`` exposes the engine's operators over the driver-provided
parquet tables; ``oracle_sql()`` carries the DuckDB-equivalent SQL for
every SQL-expressible query (value-hash comparison at sf0.01).

Conventions for exact cross-engine agreement:
- every float output column is rounded to 6 decimals on BOTH sides;
- hashes are md5-derived (identical hex in Spark and DuckDB);
- Jaro-Winkler semantics are pinned to DuckDB's (property-tested in
  tests/test_strdist.py);
- counts are cast to bigint on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TAU = 0.62  # ER demo threshold over the word-soup documents table
# candidate thresholds for the CL4 eps/tau sweep query (er_eps_sweep)
SWEEP_TAUS = [0.50, 0.56, 0.62, 0.68, 0.74]

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------

# ASCII normalize (mirror of functions.text.normalize_text_ascii)
_NORM = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-zA-Z\\s]+', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
# tokens of normalized text
_TOKS = "string_split(" + _NORM + ", ' ')"


def _block_sql(col: str) -> str:
    """first-initial + ' ' + last-token block key (functions.text.compute_block_key)."""
    n = _NORM.format(col=col)
    t = f"string_split({n}, ' ')"
    return (
        f"(CASE WHEN length({n}) = 0 THEN '' "
        f"WHEN len({t}) = 1 THEN {n} "
        f"ELSE substr({t}[1], 1, 1) || ' ' || {t}[len({t})] END)"
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver-provided parquet table with a tiny-input guard: a
    single small file (one row group) pins the scan — and every narrow
    stage above it — to ONE task, serializing the normalize/explode
    pipelines on one core of the whole cluster (guide §2.5 "input skew
    ... repartition immediately after the read"). Fan out ONLY in the
    pathological <=2-split case, so the guard is a no-op on any real
    table (at scale the scan yields thousands of splits) and its cost is
    bounded by 2 x maxPartitionBytes when it does fire. The TPC-H
    queries deliberately keep plain reads: their pipelines are
    scan-bound joins/aggregations with no heavy narrow compute, and the
    guard's extra exchange measured a ~40% regression on tpch_q3."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if df.rdd.getNumPartitions() <= 2:
        df = df.repartition(spark.sparkContext.defaultParallelism * 2)
    return df


def _docs_with_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ent_res_feedback_spark.functions.text import (
        compute_block_key,
        normalize_text_ascii,
    )

    docs = _read_table(spark, sf_dir, "documents")
    norm = normalize_text_ascii(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        compute_block_key(norm).alias("block_key"),
    )


_PAIR_FEATURES_SQL_BODY = """
WITH d AS (
  SELECT doc_id, {norm} AS norm_text, {block} AS block_key
  FROM documents
),
toks AS (
  SELECT doc_id, block_key, norm_text,
         string_split(norm_text, ' ') AS tokens,
         string_split(norm_text, ' ')[1] AS first_tok
  FROM d
),
pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, a.block_key,
         a.first_tok AS f1, b.first_tok AS f2,
         a.tokens AS t1, b.tokens AS t2
  FROM toks a JOIN toks b USING (block_key)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_id_1, doc_id_2, block_key,
       round(jaro_winkler_similarity(f1, f2), 6) AS jw,
       round(1.0 - levenshtein(f1, f2)::DOUBLE /
             greatest(length(f1), length(f2)), 6) AS lev_sim,
       round(len(list_intersect(list_distinct(t1), list_distinct(t2)))::DOUBLE
             / len(list_distinct(list_concat(t1, t2))), 6) AS tok_jaccard
FROM pairs
""".format(norm=_NORM.format(col="text"), block=_block_sql("text"))

_SCORES_SQL_BODY = f"""
WITH feats AS ({_PAIR_FEATURES_SQL_BODY})
SELECT doc_id_1, doc_id_2, block_key,
       round(1.0 / (1.0 + exp(-(-4.0 + 2.0*jw + 1.0*lev_sim + 4.0*tok_jaccard))), 6)
         AS score
FROM feats
"""

_CLUSTERS_SQL_BODY = f"""
WITH RECURSIVE scores AS ({_SCORES_SQL_BODY}),
edges AS (
  SELECT doc_id_1 AS u, doc_id_2 AS v FROM scores WHERE score >= {TAU}
),
sym AS (
  SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def _er_weights() -> dict:
    return {"jw": 2.0, "lev_sim": 1.0, "tok_jaccard": 4.0, "bias": -4.0}


def _score_sql(a: str, b: str) -> str:
    """DuckDB score expression over two aliases carrying first_tok/tokens
    (mirror of _feature_cols + _score_col, incl. the per-feature round)."""
    f1, f2 = f"{a}.first_tok", f"{b}.first_tok"
    t1, t2 = f"{a}.tokens", f"{b}.tokens"
    jw = f"round(jaro_winkler_similarity({f1}, {f2}), 6)"
    lev = (
        f"round(1.0 - levenshtein({f1}, {f2})::DOUBLE / "
        f"greatest(length({f1}), length({f2})), 6)"
    )
    tj = (
        f"round(len(list_intersect(list_distinct({t1}), list_distinct({t2})))::DOUBLE"
        f" / len(list_distinct(list_concat({t1}, {t2}))), 6)"
    )
    return f"round(1.0 / (1.0 + exp(-(-4.0 + 2.0*{jw} + 1.0*{lev} + 4.0*{tj}))), 6)"


def _ann_lsh_sql(
    k: int = 3, num_planes: int = 4, num_tables: int = 4, dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB replay of operators/similarity.ann_topk_lsh: the hyperplanes
    are regenerated with the SAME numpy seed schedule and inlined as
    double literals (shortest round-trip repr parses to the identical
    double), so bucket membership matches Spark bit-for-bit."""
    import numpy as np

    key_exprs = []
    for t in range(num_tables):
        rng = np.random.default_rng(seed + 1000 * t)
        planes = rng.standard_normal((num_planes, dim))
        bits = " + ".join(
            "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
            + ", ".join(repr(float(x)) for x in planes[i])
            + "]::DOUBLE[]) >= 0 THEN " + str(1 << i) + " ELSE 0 END)"
            for i in range(num_planes)
        )
        key_exprs.append(f"'{t}:' || ({bits})::BIGINT::VARCHAR")
    return f"""
WITH b AS (
  SELECT vec_id, unnest([{', '.join(key_exprs)}]) AS lsh_key
  FROM embeddings
),
cands AS (
  SELECT DISTINCT a.vec_id AS id, c.vec_id AS neighbor_id
  FROM b a JOIN b c USING (lsh_key)
  WHERE a.vec_id != c.vec_id
),
scored AS (
  SELECT p.id, p.neighbor_id,
         list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[])
           AS cos
  FROM cands p
  JOIN embeddings e1 ON p.id = e1.vec_id
  JOIN embeddings e2 ON p.neighbor_id = e2.vec_id
),
ranked AS (
  SELECT id, neighbor_id, cos,
         row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor_id ASC)
           AS rank
  FROM scored
)
SELECT id::BIGINT AS vec_id, neighbor_id::BIGINT AS neighbor_id,
       round(cos, 6) AS cosine, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""


def _emb_dup_sql(
    threshold: float = 0.4, num_planes: int = 2, num_tables: int = 8,
    dim: int = 64, seed: int = 42,
) -> str:
    """DuckDB replay of operators/similarity.embedding_cosine_duplicates
    (same plane literals + candidate restriction as _ann_lsh_sql)."""
    import numpy as np

    key_exprs = []
    for t in range(num_tables):
        rng = np.random.default_rng(seed + 1000 * t)
        planes = rng.standard_normal((num_planes, dim))
        bits = " + ".join(
            "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
            + ", ".join(repr(float(x)) for x in planes[i])
            + "]::DOUBLE[]) >= 0 THEN " + str(1 << i) + " ELSE 0 END)"
            for i in range(num_planes)
        )
        key_exprs.append(f"'{t}:' || ({bits})::BIGINT::VARCHAR")
    return f"""
WITH b AS (
  SELECT vec_id, unnest([{', '.join(key_exprs)}]) AS lsh_key
  FROM embeddings
),
cands AS (
  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
  FROM b a JOIN b c USING (lsh_key)
  WHERE a.vec_id < c.vec_id
)
SELECT p.id1::BIGINT AS vec_id_1, p.id2::BIGINT AS vec_id_2,
       round(list_cosine_similarity(e1.embedding::DOUBLE[],
                                    e2.embedding::DOUBLE[]), 6) AS cosine
FROM cands p
JOIN embeddings e1 ON p.id1 = e1.vec_id
JOIN embeddings e2 ON p.id2 = e2.vec_id
WHERE list_cosine_similarity(e1.embedding::DOUBLE[],
                             e2.embedding::DOUBLE[]) >= {threshold}
"""


def _ivf_sql(k: int = 3, n_centroids: int = 16, n_probe: int = 4) -> str:
    """DuckDB replay of operators/similarity.ivf_topk: same md5 codebook
    pick, same nearest-cell assignment (cosine desc, index asc ties),
    same probe join and exact re-rank."""
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cidx,
         embedding
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR)
  LIMIT {n_centroids}
),
cell_scores AS (
  SELECT e.vec_id, c.cidx,
         list_cosine_similarity(e.embedding::DOUBLE[],
                                c.embedding::DOUBLE[]) AS cos
  FROM embeddings e CROSS JOIN cents c
),
cell_rank AS (
  SELECT vec_id, cidx,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cidx ASC) AS rk
  FROM cell_scores
),
home AS (SELECT vec_id AS neighbor_id, cidx FROM cell_rank WHERE rk = 1),
probes AS (SELECT vec_id AS id, cidx FROM cell_rank WHERE rk <= {n_probe}),
cands AS (
  SELECT DISTINCT p.id, h.neighbor_id
  FROM probes p JOIN home h USING (cidx)
  WHERE p.id != h.neighbor_id
),
scored AS (
  SELECT c.id, c.neighbor_id,
         list_cosine_similarity(e1.embedding::DOUBLE[],
                                e2.embedding::DOUBLE[]) AS cos
  FROM cands c
  JOIN embeddings e1 ON c.id = e1.vec_id
  JOIN embeddings e2 ON c.neighbor_id = e2.vec_id
),
ranked AS (
  SELECT id, neighbor_id, cos,
         row_number() OVER (PARTITION BY id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT id::BIGINT AS vec_id, neighbor_id::BIGINT AS neighbor_id,
       round(cos, 6) AS cosine, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""


def _incremental_sql() -> str:
    """DuckDB replay of q_incremental_assign: batch CC over the 80% split,
    avg-dist argmin assignment of the 20%, leftover CC."""
    norm = _NORM.format(col="text")
    block = _block_sql("text")
    eps = 1.0 - TAU
    return f"""
WITH RECURSIVE
t AS (
  SELECT doc_id, {block} AS block_key,
         string_split({norm}, ' ') AS tokens,
         string_split({norm}, ' ')[1] AS first_tok
  FROM documents
),
old AS (SELECT * FROM t WHERE doc_id % 5 != 0),
new AS (SELECT * FROM t WHERE doc_id % 5 = 0),
old_edges AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM old a JOIN old b USING (block_key)
  WHERE a.doc_id < b.doc_id AND {_score_sql('a', 'b')} >= {TAU}
),
sym AS (SELECT u, v FROM old_edges UNION SELECT v AS u, u AS v FROM old_edges),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
base AS (
  SELECT o.doc_id, coalesce(c.cluster_id, o.doc_id) AS cluster_id
  FROM old o LEFT JOIN comp c USING (doc_id)
),
cross_d AS (
  SELECT n.doc_id AS nid, bb.cluster_id, 1.0 - {_score_sql('n', 'o')} AS dist
  FROM new n JOIN old o USING (block_key)
  JOIN base bb ON o.doc_id = bb.doc_id
),
avg_d AS (
  SELECT nid, cluster_id, round(avg(dist), 6) AS ad FROM cross_d GROUP BY 1, 2
),
best AS (
  SELECT nid AS doc_id, cluster_id FROM (
    SELECT nid, cluster_id, ad,
           row_number() OVER (PARTITION BY nid ORDER BY ad ASC, cluster_id ASC)
             AS rn
    FROM avg_d
  ) WHERE rn = 1 AND ad < {eps}
),
leftover AS (SELECT * FROM new WHERE doc_id NOT IN (SELECT doc_id FROM best)),
lo_edges AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM leftover a JOIN leftover b USING (block_key)
  WHERE a.doc_id < b.doc_id AND {_score_sql('a', 'b')} >= {TAU}
),
lo_sym AS (SELECT u, v FROM lo_edges UNION SELECT v AS u, u AS v FROM lo_edges),
lo_reach(u, v) AS (
  SELECT u, v FROM lo_sym
  UNION
  SELECT r.u, s.v FROM lo_reach r JOIN lo_sym s ON r.v = s.u
),
lo_comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM lo_reach GROUP BY u
),
lo_clusters AS (
  SELECT l.doc_id, coalesce(c.cluster_id, l.doc_id) AS cluster_id
  FROM leftover l LEFT JOIN lo_comp c USING (doc_id)
)
SELECT doc_id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id FROM base
UNION ALL SELECT doc_id::BIGINT, cluster_id::BIGINT FROM best
UNION ALL SELECT doc_id::BIGINT, cluster_id::BIGINT FROM lo_clusters
"""


def _doc_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, block_key, first_tok, tokens) — the shared input shape of
    the simple ER demo stack (batch + incremental)."""
    from ent_res_feedback_spark.operators.blocking import tokenize

    return _docs_with_block(spark, sf_dir).select(
        "doc_id",
        "block_key",
        F.element_at(F.split("norm_text", " "), 1).alias("first_tok"),
        tokenize(F.col("norm_text")).alias("tokens"),
    )


def _feature_cols() -> list:
    """jw / lev_sim / tok_jaccard over _1/_2-suffixed first_tok+tokens."""
    from ent_res_feedback_spark.functions.strdist import jaro_winkler
    from ent_res_feedback_spark.functions.text import set_jaccard

    f1, f2 = F.col("first_tok_1"), F.col("first_tok_2")
    return [
        F.round(jaro_winkler(f1, f2), 6).alias("jw"),
        F.round(
            1.0 - F.levenshtein(f1, f2) / F.greatest(F.length(f1), F.length(f2)), 6
        ).alias("lev_sim"),
        F.round(set_jaccard(F.col("tokens_1"), F.col("tokens_2")), 6).alias(
            "tok_jaccard"
        ),
    ]


def _score_col_raw() -> F.Column:
    """The UNROUNDED logistic score — consumers that re-round (e.g.
    vote_scores' floor-trick r6) must start from the raw sigmoid so the
    rounding pipeline is identical to the DuckDB oracle's."""
    w = _er_weights()
    z = (
        F.lit(w["bias"])
        + F.lit(w["jw"]) * F.col("jw")
        + F.lit(w["lev_sim"]) * F.col("lev_sim")
        + F.lit(w["tok_jaccard"]) * F.col("tok_jaccard")
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _score_col() -> F.Column:
    return F.round(_score_col_raw(), 6).alias("score")


def _er_pair_features(d: DataFrame) -> DataFrame:
    """Within-block pairs of a ``_doc_feats`` frame with their features."""
    from ent_res_feedback_spark.operators.pairs import within_block_pairs

    pairs = within_block_pairs(
        d, key="block_key", id_col="doc_id", salt_threshold=500, num_salt_buckets=4
    )
    return pairs.select("doc_id_1", "doc_id_2", "block_key", *_feature_cols())


def _er_pair_scores(d: DataFrame) -> DataFrame:
    feats = _er_pair_features(d)
    return feats.select("doc_id_1", "doc_id_2", "block_key", _score_col())


def _er_clusters(d: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) of a ``_doc_feats`` frame: CC over the pairs
    scoring at least TAU, every doc of ``d`` a node."""
    from ent_res_feedback_spark.pipeline import clusters_from_edges

    edges = _er_pair_scores(d).where(F.col("score") >= TAU).select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    )
    return clusters_from_edges(edges, d.select("doc_id"))


# ---------------------------------------------------------------------------
# entry / queries / oracle_sql
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ER pipeline (blocking -> salted pairs -> constraints
    -> scoring -> CC) over the synthetic interleaved-document corpus at
    sf0.001 scale, returning (doc_id, cluster_id, n_spans)."""
    from ent_res_feedback_spark.corpus import (
        CorpusConfig,
        corpus_to_spark,
        generate_corpus,
    )
    from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline

    documents, _gold, _labeled = generate_corpus(CorpusConfig(n_entities=40, seed=42))
    docs = corpus_to_spark(spark, documents)
    res = run_pipeline(docs, ERConfig(salt_threshold=50, num_salt_buckets=4))
    return res["clusters"].select(
        "doc_id", "cluster_id", F.size("spans").alias("n_spans")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def q_block_key(spark, sf_dir):
        return _docs_with_block(spark, sf_dir).select("doc_id", "block_key")

    def q_block_census(spark, sf_dir):
        from ent_res_feedback_spark.operators.blocking import block_census

        return block_census(_docs_with_block(spark, sf_dir)).select(
            "block_key",
            F.col("block_size").cast("bigint").alias("block_size"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
        )

    def q_pairs(spark, sf_dir):
        return _er_pair_features(_doc_feats(spark, sf_dir)).select(
            "doc_id_1", "doc_id_2", "block_key"
        )

    def q_pair_features(spark, sf_dir):
        return _er_pair_features(_doc_feats(spark, sf_dir))

    def q_pair_scores(spark, sf_dir):
        return _er_pair_scores(_doc_feats(spark, sf_dir))

    def q_edges(spark, sf_dir):
        return _er_pair_scores(_doc_feats(spark, sf_dir)).where(F.col("score") >= TAU)

    def q_clusters(spark, sf_dir):
        return _er_clusters(_doc_feats(spark, sf_dir))

    def q_cluster_sizes(spark, sf_dir):
        return (
            _er_clusters(_doc_feats(spark, sf_dir))
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        )

    def q_dedup_exact(spark, sf_dir):
        from ent_res_feedback_spark.operators.dedup import exact_duplicates

        docs = _read_table(spark, sf_dir, "documents")
        return exact_duplicates(docs).select(
            "fingerprint",
            F.col("survivor_id").cast("bigint").alias("survivor_id"),
            F.col("group_size").cast("bigint").alias("group_size"),
        )

    def q_fingerprints(spark, sf_dir):
        from ent_res_feedback_spark.functions.hashing import doc_fingerprint
        from ent_res_feedback_spark.functions.text import normalize_text_ascii

        docs = _read_table(spark, sf_dir, "documents")
        return docs.select(
            "doc_id", doc_fingerprint(normalize_text_ascii(F.col("text"))).alias("fingerprint")
        )

    def q_minhash_bands(spark, sf_dir):
        from ent_res_feedback_spark.operators.blocking import add_minhash_band_keys
        from ent_res_feedback_spark.functions.text import normalize_text_ascii

        docs = _read_table(spark, sf_dir, "documents").select(
            "doc_id", normalize_text_ascii(F.col("text")).alias("norm_text")
        )
        return add_minhash_band_keys(
            docs, "norm_text", num_bands=4, rows_per_band=4, seed=42, shingle_n=3
        ).select("doc_id", "band_key")

    def q_dedup_near_jaccard(spark, sf_dir):
        from ent_res_feedback_spark.operators.dedup import minhash_lsh_duplicates

        docs = _read_table(spark, sf_dir, "documents")
        out = minhash_lsh_duplicates(
            docs, num_bands=4, rows_per_band=4, verify_threshold=0.7, seed=42,
            shingle_n=3,
        )
        return out.select(
            F.col("doc_id_1").cast("bigint").alias("doc_id_1"),
            F.col("doc_id_2").cast("bigint").alias("doc_id_2"),
            F.round("jaccard", 6).alias("jaccard"),
        )

    def q_text_profile(spark, sf_dir):
        from ent_res_feedback_spark.operators.textstats import (
            quality_score,
            stopword_ratio,
            token_count,
        )

        docs = _read_table(spark, sf_dir, "documents")
        t = F.col("text")
        return docs.select(
            "doc_id",
            token_count(t).cast("bigint").alias("n_tokens"),
            F.round(stopword_ratio(t), 6).alias("stop_ratio"),
            F.round(quality_score(t), 6).alias("quality"),
        )

    def q_lang_id(spark, sf_dir):
        from ent_res_feedback_spark.operators.textstats import language_id

        docs = _read_table(spark, sf_dir, "documents")
        lid = language_id(F.col("text"))
        return docs.select(
            "doc_id",
            lid["is_reliable"].alias("is_reliable"),
            lid["is_english"].alias("is_english"),
            lid["lang"].alias("lang"),
        )

    def q_pair_auroc(spark, sf_dir):
        """A5 — distributed AUROC/AP over the scored pair frame, with
        deterministic md5-parity labels (portable to DuckDB, unlike
        xxhash64). Both metrics are computed from the per-distinct-score
        contingency (operators/metrics.auroc_ap) — the pair frame never
        reaches the driver; the final two scalars do."""
        from ent_res_feedback_spark.operators.metrics import auroc_ap

        scored = _er_pair_scores(_doc_feats(spark, sf_dir))
        lab = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("doc_id_1").cast("string"),
                            F.col("doc_id_2").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).cast("double")
        res = auroc_ap(scored.withColumn("label", lab))
        return spark.createDataFrame(
            [(round(res["auroc"], 6), round(res["average_precision"], 6))],
            "auroc double, average_precision double",
        )

    def q_simhash_fp(spark, sf_dir):
        """Per-document 64-bit SimHash fingerprint: pins the Arrow-batched
        numpy vote kernel bit-for-bit against a DuckDB replay (md5-derived
        per-token bit vectors, +-1 votes, sign)."""
        from ent_res_feedback_spark.functions.hashing import simhash64
        from ent_res_feedback_spark.functions.text import normalize_text_ascii
        from ent_res_feedback_spark.operators.blocking import tokenize

        docs = _read_table(spark, sf_dir, "documents")
        toks = tokenize(normalize_text_ascii(F.col("text")))
        return docs.select(
            "doc_id", simhash64(toks).cast("bigint").alias("simhash")
        ).where(F.col("simhash").isNotNull())

    def q_winnow_fingerprints(spark, sf_dir):
        """Rolling-hash winnowing fingerprints (long form: one row per
        selected k-gram hash — arrays don't canonicalize driver-side)."""
        from ent_res_feedback_spark.functions.hashing import winnowing_fingerprints
        from ent_res_feedback_spark.functions.text import normalize_text_ascii

        docs = _read_table(spark, sf_dir, "documents")
        fps = winnowing_fingerprints(normalize_text_ascii(F.col("text")))
        return docs.select(
            "doc_id", F.explode(fps).alias("fp")
        ).select("doc_id", F.col("fp").cast("bigint").alias("fp"))

    def q_lang_id_profile(spark, sf_dir):
        """F5 model-shaped path: Cavnar-Trenkle trigram-profile classifier
        (operators/langid.py) — profiles are deterministic literals, so
        DuckDB replays scoring exactly."""
        from ent_res_feedback_spark.operators.langid import detect_language_profile

        docs = _read_table(spark, sf_dir, "documents")
        det = detect_language_profile(F.col("text"))
        return docs.select(
            "doc_id",
            det["is_reliable"].alias("is_reliable"),
            det["is_english"].alias("is_english"),
            det["lang"].alias("lang"),
            det["score"].alias("score"),
        )

    def q_min_pair_edit(spark, sf_dir):
        """A8 — greedy per-block minimum cluster-edit stats for
        single-cluster-per-block predictions vs deterministic md5-parity
        gold labels (mixed right/wrong pairs, portable to DuckDB):
        exercises the applyInPandas greedy kernel end-to-end on driver
        data."""
        from ent_res_feedback_spark.operators.min_edit import min_pair_edit
        from ent_res_feedback_spark.operators.pairs import within_block_pairs

        docs = _docs_with_block(spark, sf_dir)
        mentions = docs.select("doc_id", "block_key").where(
            F.length("block_key") > 0
        )
        pairs = within_block_pairs(mentions).select(
            "doc_id_1", "doc_id_2", "block_key"
        )
        # deterministic labels: md5-parity of the pair (stable, mixed
        # right/wrong, and portable — DuckDB computes the identical md5,
        # unlike xxhash64) against single-cluster-per-block predictions
        labeled = pairs.withColumn(
            "label",
            F.substring(
                F.md5(F.concat_ws("|", "doc_id_1", "doc_id_2")), 32, 1
            ).isin(*"13579bdf").cast("int"),
        )
        assignments = mentions.select(
            "doc_id", F.col("block_key").alias("cluster_id")
        )
        out = min_pair_edit(assignments, labeled)
        # floor-trick round: identical IEEE ops to the oracle's
        # floor(x*1e6+0.5)/1e6 (F.round is BigDecimal HALF_UP, DuckDB
        # round() differs on .5 boundaries)
        return out.select(
            "block_key",
            (F.floor(F.col("min_edit_score") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
             ).alias("min_edit_score"),
            F.col("min_edit_count").cast("bigint").alias("min_edit_count"),
            F.col("n_mistaken_ids").cast("bigint").alias("n_mistaken_ids"),
        )

    def q_ann_topk_lsh(spark, sf_dir):
        """Scale-path ANN: multi-table hyperplane LSH buckets -> candidate
        union -> exact cosine re-rank. Planes are seed-deterministic
        literals, so DuckDB replays the whole thing hash-exactly."""
        from ent_res_feedback_spark.operators.similarity import ann_topk_lsh

        emb = _read_table(spark, sf_dir, "embeddings")
        out = ann_topk_lsh(
            emb, k=3, num_planes=4, num_tables=4, dim=64, seed=42
        )
        return out.select(
            F.col("id").cast("bigint").alias("vec_id"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )

    def q_ann_topk_ivf(spark, sf_dir):
        """IVF cell-probe ANN: deterministic md5-picked codebook, nearest-
        cell inverted file, n_probe cell join, exact re-rank — the whole
        pipeline is DuckDB-replayable."""
        from ent_res_feedback_spark.operators.similarity import ivf_topk

        emb = _read_table(spark, sf_dir, "embeddings")
        out = ivf_topk(emb, k=3, n_centroids=16, n_probe=4)
        return out.select(
            F.col("id").cast("bigint").alias("vec_id"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )

    def q_dedup_near_embedding(spark, sf_dir):
        """Embedding-cosine near-dup pairs via multi-table LSH candidates
        + exact-cosine verify (the synthetic embeddings are near-random,
        so the demo threshold is 0.4; production near-dup uses ~0.95)."""
        from ent_res_feedback_spark.operators.similarity import (
            embedding_cosine_duplicates,
        )

        emb = _read_table(spark, sf_dir, "embeddings")
        out = embedding_cosine_duplicates(
            emb, threshold=0.4, num_planes=2, num_tables=8, dim=64, seed=42
        )
        return out.select(
            F.col("vec_id_1").cast("bigint").alias("vec_id_1"),
            F.col("vec_id_2").cast("bigint").alias("vec_id_2"),
            F.round("cosine", 6).alias("cosine"),
        )

    def q_ann_topk(spark, sf_dir):
        from ent_res_feedback_spark.operators.similarity import brute_force_topk

        emb = _read_table(spark, sf_dir, "embeddings")
        out = brute_force_topk(emb, k=3)
        return out.select(
            F.col("id").cast("bigint").alias("vec_id"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )

    def q_embedding_label_centroid_sim(spark, sf_dir):
        """Per-label centroid cosine via posexplode + groupBy(label, dim)
        — dimension-agnostic (no driver .first() to sniff dim, no n_dim
        separate aggs; same long shape its DuckDB oracle uses)."""
        emb = _read_table(spark, sf_dir, "embeddings")
        exploded = emb.select(
            "vec_id", "label", F.posexplode("embedding").alias("i", "x")
        ).withColumn("x", F.col("x").cast("double"))
        centroids = exploded.groupBy("label", "i").agg(F.avg("x").alias("c"))
        return (
            exploded.join(centroids, ["label", "i"])
            .groupBy("vec_id", "label")
            .agg(
                F.sum(F.col("x") * F.col("c")).alias("dot"),
                F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("na"),
                F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nb"),
            )
            .select(
                F.col("vec_id").cast("bigint").alias("vec_id"),
                F.col("label").cast("bigint").alias("label"),
                F.round(
                    F.when(
                        (F.col("na") == 0) | (F.col("nb") == 0), F.lit(0.0)
                    ).otherwise(F.col("dot") / (F.col("na") * F.col("nb"))),
                    6,
                ).alias("centroid_cosine"),
            )
        )

    def q_tpch_q1(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.count(F.lit(1)).cast("bigint").alias("count_order"),
            )
        )

    def q_tpch_q3(spark, sf_dir):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            cust.where(F.col("c_mktsegment") == "BUILDING")
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .where(F.col("o_orderdate") < F.lit("1995-03-15"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .where(F.col("l_shipdate") > F.lit("1995-03-15"))
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("revenue")
            )
            .select(
                F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
                F.col("o_orderdate").cast("string").alias("o_orderdate"),
                F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
                "revenue",
            )
        )

    def q_incremental_assign(spark, sf_dir):
        """Incremental mode (I1) over the documents table, fully oracle-
        checkable: batch-cluster the 80% of docs with doc_id % 5 != 0,
        then assign the held-out 20% by avg-distance argmin (< eps) via
        operators.incremental.argmin_assign; leftovers cluster among
        themselves. Same simple feature stack as er_pair_scores, so DuckDB
        replays every step (incl. the recursive-CTE connected components).
        """
        from ent_res_feedback_spark.operators.incremental import argmin_assign

        d = _doc_feats(spark, sf_dir)
        old_d = d.where(F.col("doc_id") % 5 != 0)
        new_d = d.where(F.col("doc_id") % 5 == 0)
        base = _er_clusters(old_d)

        def side(sub, sfx):
            return sub.select(
                *[F.col(c).alias(c + sfx) for c in ("doc_id", "first_tok", "tokens")],
                "block_key",
            )

        cross = (
            side(new_d, "_1")
            .join(side(old_d, "_2"), "block_key")
            .select("doc_id_1", "doc_id_2", *_feature_cols())
            .select("doc_id_1", "doc_id_2", _score_col())
            .join(
                base.select(
                    F.col("doc_id").alias("doc_id_2"), "cluster_id"
                ),
                "doc_id_2",
            )
            .select("doc_id_1", "cluster_id", (1.0 - F.col("score")).alias("dist"))
        )
        best = argmin_assign(cross, eps=1.0 - TAU)
        leftover_d = new_d.join(best, "doc_id", "left_anti")
        leftover_clusters = _er_clusters(leftover_d)
        return (
            base.unionByName(best)
            .unionByName(leftover_clusters)
            .select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.col("cluster_id").cast("bigint").alias("cluster_id"),
            )
        )

    def q_media_features(spark, sf_dir):
        """Multimodal plumbing (stubbed decoder): documents -> media table
        (deterministic ref-derived payload) -> Arrow-batched mapInPandas
        feature extraction -> long form. The sha256-derived fake features
        are DuckDB-expressible, so this is a full hash-exact check of the
        binary-column plumbing."""
        from ent_res_feedback_spark.operators.multimodal import (
            extract_media_features,
            features_long,
            media_from_table,
        )

        docs = _read_table(spark, sf_dir, "documents").select(
            F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_ref")
        )
        return features_long(extract_media_features(media_from_table(docs)))

    def q_er_facets(spark, sf_dir):
        """A6 input derivation — reference facet columns (block size,
        cluster size, homonymity/synonymity pair counts) over the ER
        pipeline's own clusters, with the first normalized token as the
        full-name analog. Counts only: the np.round half-even bucketing
        is pinned by tests/test_facets.py (DuckDB rounds half-up, so the
        fraction columns are not portably hashable)."""
        from ent_res_feedback_spark.operators.facets import derive_facets

        docs = _docs_with_block(spark, sf_dir)
        mentions = docs.where(F.length("block_key") > 0).select(
            "doc_id",
            "block_key",
            F.split(F.col("norm_text"), " ").getItem(0).alias("full_name"),
        )
        clusters = _er_clusters(_doc_feats(spark, sf_dir))
        sig = mentions.join(clusters, "doc_id")
        out = derive_facets(
            sig, id_col="doc_id", block_col="block_key",
            name_col="full_name", cluster_col="cluster_id",
        )
        return out.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "block_key",
            F.col("block_size").cast("bigint").alias("block_size"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("homonymity_count").cast("bigint").alias("homonymity_count"),
            F.col("synonymity_count").cast("bigint").alias("synonymity_count"),
            F.col("pair_denominator").cast("bigint").alias("pair_denominator"),
        )

    def q_vote_scores(spark, sf_dir):
        """M2 — N-way voting over three component scorers on the ER
        pairs: the main 3-feature logistic plus two single-feature
        logistics, soft-averaged with weights (2,1,1) and hard-voted by
        weighted plurality (reference VotingClassifier,
        model.py:879-981). Component scores round to 6 before the vote
        so both engines compare identical doubles."""
        from ent_res_feedback_spark.operators.scoring import (
            vote_hard_col,
            vote_soft_col,
        )

        feats = _er_pair_features(_doc_feats(spark, sf_dir))

        def r6(c):
            # portable round-half-up: F.round/duckdb round() disagree on
            # exact .5 boundaries of the binary double; floor(x*1e6+0.5)
            # is bit-identical IEEE arithmetic in both engines
            return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

        # floor-trick on the RAW sigmoid (not on top of _score_col's
        # F.round) — identical rounding pipeline to the DuckDB oracle,
        # so no .5-boundary double-round divergence is possible
        s_main = r6(_score_col_raw())
        s_jw = r6(F.lit(1.0) / (F.lit(1.0) + F.exp(-(4.0 * F.col("jw") - 2.0))))
        s_tok = r6(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(4.0 * F.col("tok_jaccard") - 2.0)))
        )
        cols = [s_main, s_jw, s_tok]
        w = [2.0, 1.0, 1.0]
        return feats.select(
            "doc_id_1",
            "doc_id_2",
            r6(vote_soft_col(cols, w)).alias("soft_score"),
            (vote_soft_col(cols, w) > 0.5).cast("bigint").alias("soft_label"),
            vote_hard_col(cols, w).cast("bigint").alias("hard_label"),
        )

    def _gold_block_clusters(spark, sf_dir):
        """Deterministic 'gold' partition for metric queries: the block
        itself (or a per-doc singleton when the block is empty) — the
        reference evaluates predicted clusters against a labeled
        partition; the block partition is the deterministic stand-in the
        testdata supports."""
        docs = _docs_with_block(spark, sf_dir)
        return docs.select(
            "doc_id",
            F.when(
                F.length("block_key") > 0, F.concat(F.lit("b:"), F.col("block_key"))
            )
            .otherwise(F.concat(F.lit("d:"), F.col("doc_id").cast("string")))
            .alias("cluster_id"),
        )

    def q_b3_per_item(spark, sf_dir):
        """A1 — per-item B-cubed precision/recall of the ER pipeline's
        clusters against the deterministic block partition. Per-item
        quotients are single divisions of exact integer counts, so the
        oracle replays them bit-exactly (metrics.b3 / facet_eval average
        exactly these rows)."""
        from ent_res_feedback_spark.operators.metrics import b3_per_item

        pred = _er_clusters(_doc_feats(spark, sf_dir))
        gold = _gold_block_clusters(spark, sf_dir)
        out = b3_per_item(pred, gold)
        r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
        return out.select(
            F.col("id").cast("bigint").alias("doc_id"),
            r6(F.col("p_i")).alias("p_i"),
            r6(F.col("r_i")).alias("r_i"),
        )

    def q_cluster_prf(spark, sf_dir):
        """A2 — pairwise cluster P/R/F1 (with the self-pair singleton
        correction) of the ER clusters vs the block partition, via the
        one-aggregation grouping-sets form. Pair totals are exact
        integers; the derived ratios are single/identical double ops in
        both engines."""
        from ent_res_feedback_spark.operators.metrics import pairwise_cluster_prf

        pred = _er_clusters(_doc_feats(spark, sf_dir))
        gold = _gold_block_clusters(spark, sf_dir)
        res = pairwise_cluster_prf(pred, gold)

        def r6(x: float) -> float:
            import math

            return math.floor(x * 1e6 + 0.5) / 1e6

        row = (
            int(res["n_pred"]), int(res["n_gold"]), int(res["n_both"]),
            r6(res["precision"]), r6(res["recall"]), r6(res["f1"]),
        )
        return spark.createDataFrame(
            [row],
            "n_pred bigint, n_gold bigint, n_both bigint, "
            "precision double, recall double, f1 double",
        )

    def q_er_splits(spark, sf_dir):
        """§3.1 step-5 lifecycle — KMeans-stratified block split
        (reference split_blocks_helper, s2and/data.py:908-953): blocks
        stratified by size via an exact-integer 1-D Lloyd (k=4, 10
        iterations, rank-spaced init), then split 0.8/0.1/0.1 within
        each stratum by seeded md5 rank. Every step is plain IEEE/int
        arithmetic, so DuckDB replays it hash-exactly."""
        from ent_res_feedback_spark.operators.splits import split_blocks

        docs = _docs_with_block(spark, sf_dir)
        mentions = docs.where(F.length("block_key") > 0).select(
            "doc_id", "block_key"
        )
        return split_blocks(mentions, k=4, seed=1111, ratios=(0.8, 0.1, 0.1))

    def q_er_eps_sweep(spark, sf_dir):
        """CL4/CL9 — threshold sweep: pairwise cluster P/R/F1 (self-pair
        corrected, arXiv:1808.04216) plus cluster count at each candidate
        tau in SWEEP_TAUS, against the block-partition gold. ONE
        clustering pass: per-block incremental union-find sweeps the
        thresholds descending (operators/cc.threshold_sweep_components),
        then ONE grouping-sets aggregation computes every tau's pair
        totals — vs one full CC + metrics job per candidate. All pair
        totals are exact integers; ratios are single identical-IEEE
        divisions, floor-rounded to 6 (the portable half-up trick)."""
        from ent_res_feedback_spark.operators.cc import (
            threshold_sweep_components,
        )

        scores = _er_pair_scores(_doc_feats(spark, sf_dir))
        docs = _read_table(spark, sf_dir, "documents").select("doc_id")
        pred = threshold_sweep_components(scores, SWEEP_TAUS, docs)
        gold = _gold_block_clusters(spark, sf_dir)
        j = pred.join(
            gold.select("doc_id", F.col("cluster_id").alias("gc")), "doc_id"
        ).select("tau", F.col("cluster_id").alias("pc"), "gc")
        # all three pair totals AND the cluster count per tau in one
        # aggregation: GROUPING SETS ((tau,pc),(tau,gc),(tau,pc,gc));
        # tau is in every set, so gid matches cluster_prf's layout
        # (1 = pc-only, 2 = gc-only, 0 = contingency cell)
        pairs = F.col("c") * (F.col("c") + 1) / 2
        gs = j.groupingSets(
            [["tau", "pc"], ["tau", "gc"], ["tau", "pc", "gc"]],
            "tau", "pc", "gc",
        ).agg(F.count("*").alias("c"), F.grouping_id().alias("gid"))
        out = gs.groupBy("tau").agg(
            F.sum(F.when(F.col("gid") == 1, F.lit(1)).otherwise(F.lit(0)))
            .alias("n_clusters"),
            F.sum(F.when(F.col("gid") == 1, pairs)).alias("n_pred"),
            F.sum(F.when(F.col("gid") == 2, pairs)).alias("n_gold"),
            F.sum(F.when(F.col("gid") == 0, pairs)).alias("n_both"),
        )
        p = F.col("n_both") / F.col("n_pred")
        r = F.col("n_both") / F.col("n_gold")
        r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
        return out.select(
            "tau",
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            F.col("n_pred").cast("bigint").alias("n_pred"),
            F.col("n_gold").cast("bigint").alias("n_gold"),
            F.col("n_both").cast("bigint").alias("n_both"),
            r6(p).alias("precision"),
            r6(r).alias("recall"),
            r6(2 * p * r / (p + r)).alias("f1"),
        )

    def q_mini_corpus(spark, sf_dir):
        """Preprocessing-lifecycle subsetter (reference
        scripts/make_s2and_mini_dataset.py:25-26, 84-105): per-source
        block census -> cutoff + first-top-N-by-name kept blocks ->
        clusters fully contained in kept blocks -> docs re-derived from
        surviving clusters. The cluster partition is the deterministic
        ``doc_id % 250`` pairing, which straddles sources and blocks, so
        the full-containment rule is exercised non-trivially."""
        from ent_res_feedback_spark.operators.subset import mini_corpus

        from ent_res_feedback_spark.functions.text import (
            compute_block_key,
            normalize_text_ascii,
        )

        raw = _read_table(spark, sf_dir, "documents")
        docs = raw.select(
            "doc_id",
            "source",
            compute_block_key(normalize_text_ascii(F.col("text"))).alias(
                "block_key"
            ),
        )
        clusters = raw.select(
            "doc_id", (F.col("doc_id") % 250).alias("cluster_id")
        )
        kept = mini_corpus(
            docs,
            clusters,
            big_block_cutoff=2,
            top_blocks_to_keep=15,
            dataset_col="source",
        )
        return kept.join(clusters, "doc_id").select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "block_key",
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )

    return {
        "er_block_key": q_block_key,
        "er_splits": q_er_splits,
        "er_eps_sweep": q_er_eps_sweep,
        "mini_corpus": q_mini_corpus,
        "er_block_census": q_block_census,
        "er_pairs": q_pairs,
        "er_pair_features": q_pair_features,
        "er_pair_scores": q_pair_scores,
        "er_edges": q_edges,
        "er_clusters": q_clusters,
        "er_cluster_sizes": q_cluster_sizes,
        "er_facets": q_er_facets,
        "vote_scores": q_vote_scores,
        "b3_per_item": q_b3_per_item,
        "cluster_prf": q_cluster_prf,
        "dedup_exact": q_dedup_exact,
        "fingerprints": q_fingerprints,
        "minhash_bands": q_minhash_bands,
        "dedup_near_jaccard": q_dedup_near_jaccard,
        "dedup_near_embedding": q_dedup_near_embedding,
        "ann_topk_ivf": q_ann_topk_ivf,
        "text_profile": q_text_profile,
        "lang_id": q_lang_id,
        "lang_id_profile": q_lang_id_profile,
        "winnow_fingerprints": q_winnow_fingerprints,
        "simhash_fp": q_simhash_fp,
        "pair_auroc": q_pair_auroc,
        "min_pair_edit": q_min_pair_edit,
        "ann_topk": q_ann_topk,
        "ann_topk_lsh": q_ann_topk_lsh,
        "embedding_label_centroid_sim": q_embedding_label_centroid_sim,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "incremental_assign": q_incremental_assign,
        "media_features": q_media_features,
    }


def _er_splits_sql(k: int = 4, iters: int = 10, seed: int = 1111) -> str:
    """DuckDB replay of q_er_splits (operators/splits.split_blocks):
    the exact-integer 1-D Lloyd is UNROLLED into ``iters`` chained CTEs
    (centroids carried as lists of integer (S, W) rationals — the only
    float op is abs(size - S/W), one IEEE division + subtraction that
    both engines compute bit-identically), then the same per-stratum
    md5-rank split with floor(n*ratio + 0.5) thresholds."""
    block = _block_sql("text")
    km1 = max(k - 1, 1)
    parts = [
        f"""
WITH mentions AS (
  SELECT doc_id, {block} AS block_key FROM documents
  WHERE length({block}) > 0
),
bs AS MATERIALIZED (
  SELECT block_key, count(*)::BIGINT AS n FROM mentions GROUP BY 1),
ws AS MATERIALIZED (SELECT n AS s, count(*)::BIGINT AS w FROM bs GROUP BY 1),
init AS (SELECT list(s ORDER BY s) AS ss FROM ws),
cent0 AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {k}), jj ->
    struct_pack(
      S := ss[1 + CAST(floor((jj-1)::DOUBLE * (len(ss)-1) / {km1}) AS BIGINT)],
      W := 1::BIGINT)) AS c
  FROM init
)"""
    ]
    assign = (
        "list_sort(list_transform(generate_series(1, {k}), jj -> "
        "struct_pack(d := abs({s}::DOUBLE - c[jj].S::DOUBLE / c[jj].W::DOUBLE), "
        "j := jj)))[1].j"
    )
    for i in range(1, iters + 1):
        p = i - 1
        a = assign.format(k=k, s="s")
        parts.append(
            f""",
a{i} AS (SELECT s, w, {a} AS j FROM ws, cent{p}),
g{i} AS (
  SELECT list(struct_pack(j := j, S := S, W := W) ORDER BY j) AS gs
  FROM (SELECT j, sum(w * s)::BIGINT AS S, sum(w)::BIGINT AS W
        FROM a{i} GROUP BY j)
),
cent{i} AS MATERIALIZED (
  SELECT list_transform(generate_series(1, {k}), jj ->
    CASE WHEN len(list_filter(gs, g -> g.j = jj)) > 0
         THEN struct_pack(S := list_filter(gs, g -> g.j = jj)[1].S,
                          W := list_filter(gs, g -> g.j = jj)[1].W)
         ELSE struct_pack(S := c[jj].S, W := c[jj].W) END) AS c
  FROM g{i}, cent{p}
)"""
        )
    final_assign = assign.format(k=k, s="bs.n")
    parts.append(
        f""",
strata AS (
  SELECT bs.block_key, bs.n, {final_assign} - 1 AS stratum
  FROM bs, cent{iters}
),
ranked AS (
  SELECT block_key, n, stratum,
         row_number() OVER (PARTITION BY stratum
                            ORDER BY md5('{seed}|' || block_key), block_key)
           AS rn,
         count(*) OVER (PARTITION BY stratum) AS cnt
  FROM strata
)
SELECT block_key,
       n::BIGINT AS block_size,
       stratum::BIGINT AS stratum,
       CASE WHEN rn <= floor(cnt * 0.8 + 0.5) THEN 'train'
            WHEN rn <= floor(cnt * 0.9 + 0.5) THEN 'val'
            ELSE 'test' END AS split
FROM ranked
"""
    )
    return "".join(parts)


def _auroc_sql() -> str:
    """DuckDB replay of q_pair_auroc: same md5-parity labels, same
    per-distinct-score contingency, same tie-corrected Mann-Whitney AUROC
    and threshold-step AP (metrics.auroc_ap formulas verbatim)."""
    return f"""
WITH scored AS ({_SCORES_SQL_BODY}),
lab AS (
  SELECT score AS s,
         (('0x' || substr(md5(doc_id_1::VARCHAR || '|' || doc_id_2::VARCHAR),
                          1, 8))::BIGINT % 2)::DOUBLE AS label
  FROM scored
),
g AS (SELECT s, sum(label) AS pos, sum(1 - label) AS neg FROM lab GROUP BY s),
e AS (
  SELECT s, pos, neg,
         coalesce(sum(neg) OVER (ORDER BY s ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg_below,
         sum(pos) OVER (ORDER BY s DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos_ge,
         sum(pos + neg) OVER (ORDER BY s DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge
  FROM g
),
agg AS (
  SELECT sum(pos) AS p, sum(neg) AS n,
         sum(pos * (cum_neg_below + neg / 2)) AS u,
         sum(pos * cum_pos_ge / cum_ge) AS ap_num
  FROM e
)
SELECT round(u / (p * n), 6) AS auroc,
       round(ap_num / p, 6) AS average_precision
FROM agg
"""


def _simhash_sql() -> str:
    """DuckDB replay of functions/hashing.simhash_kernel over the
    documents table: per distinct token, h = first 16 md5 hex digits as a
    UBIGINT; vote +-1 per bit; fingerprint bit i set iff votes > 0;
    reinterpret the unsigned result as signed 64-bit (the kernel's
    two's-complement storage)."""
    toks = _TOKS.format(col="text")
    return f"""
WITH d AS (
  SELECT doc_id, list_distinct(list_filter({toks}, t -> length(t) > 0)) AS ts
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(ts) AS t FROM d WHERE len(ts) > 0
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok
),
votes AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, range(0, 64) r(i)
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::UBIGINT << i)::HUGEINT ELSE 0 END) AS fpu
  FROM votes GROUP BY 1
)
SELECT doc_id,
       (CASE WHEN fpu >= 9223372036854775808 THEN fpu - 18446744073709551616
             ELSE fpu END)::BIGINT AS simhash
FROM fp
"""


def _winnow_sql() -> str:
    from ent_res_feedback_spark.functions.hashing import sql_winnowing_query

    return sql_winnowing_query(_NORM.format(col="text"))


def _gold_sql() -> str:
    """Block partition 'gold' clusters (mirror of _gold_block_clusters)."""
    block = _block_sql("text")
    return f"""
SELECT doc_id,
       CASE WHEN length({block}) > 0 THEN 'b:' || {block}
            ELSE 'd:' || doc_id END AS gc
FROM documents
"""


def _b3_per_item_sql() -> str:
    """DuckDB replay of q_b3_per_item: same clusters (recursive CTE),
    same block-partition gold, same contingency-quotient per item."""
    return f"""
WITH RECURSIVE clusters AS ({_CLUSTERS_SQL_BODY}),
gold AS ({_gold_sql()}),
j AS (
  SELECT c.doc_id, c.cluster_id AS pc, g.gc
  FROM clusters c JOIN gold g USING (doc_id)
),
cont AS (SELECT pc, gc, count(*) AS npg FROM j GROUP BY 1, 2),
ps AS (SELECT pc, count(*) AS np FROM j GROUP BY 1),
gs AS (SELECT gc, count(*) AS ng FROM j GROUP BY 1)
SELECT j.doc_id::BIGINT AS doc_id,
       floor((cont.npg::DOUBLE / ps.np)*1e6 + 0.5)/1e6 AS p_i,
       floor((cont.npg::DOUBLE / gs.ng)*1e6 + 0.5)/1e6 AS r_i
FROM j
JOIN cont USING (pc, gc)
JOIN ps USING (pc)
JOIN gs USING (gc)
"""


def _eps_sweep_sql() -> str:
    """DuckDB replay of q_er_eps_sweep: one recursive-CTE CC per
    candidate tau (the sweep's per-block incremental union-find is
    equivalent to CC at each threshold because pairs are block-local),
    then the same exact-integer pair totals and identical double
    ratios. ``scores``/``gold`` are MATERIALIZED — five dependents each
    would otherwise re-inline the whole featurization per tau."""
    parts = []
    for i, tau in enumerate(SWEEP_TAUS):
        parts.append(f"""
edges_{i} AS (
  SELECT doc_id_1 AS u, doc_id_2 AS v FROM scores WHERE score >= {tau}
),
sym_{i} AS (
  SELECT u, v FROM edges_{i} UNION SELECT v AS u, u AS v FROM edges_{i}
),
reach_{i}(u, v) AS (
  SELECT u, v FROM sym_{i}
  UNION
  SELECT r.u, s.v FROM reach_{i} r JOIN sym_{i} s ON r.v = s.u
),
comp_{i} AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach_{i} GROUP BY u
),
j_{i} AS MATERIALIZED (
  SELECT coalesce(c.cluster_id, d.doc_id) AS pc, g.gc
  FROM documents d
  LEFT JOIN comp_{i} c USING (doc_id)
  JOIN gold g USING (doc_id)
),
tot_{i} AS (
  SELECT CAST({tau} AS DOUBLE) AS tau,
    (SELECT count(*) FROM (SELECT 1 FROM j_{i} GROUP BY pc)) AS n_clusters,
    (SELECT sum(c*(c+1)//2) FROM (SELECT count(*) AS c FROM j_{i} GROUP BY pc)) AS n_pred,
    (SELECT sum(c*(c+1)//2) FROM (SELECT count(*) AS c FROM j_{i} GROUP BY gc)) AS n_gold,
    (SELECT sum(c*(c+1)//2) FROM (SELECT count(*) AS c FROM j_{i} GROUP BY pc, gc)) AS n_both
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM tot_{i}" for i in range(len(SWEEP_TAUS))
    )
    return f"""
WITH RECURSIVE scores AS MATERIALIZED ({_SCORES_SQL_BODY}),
gold AS MATERIALIZED ({_gold_sql()}),
{",".join(parts)},
allt AS ({union})
SELECT tau, n_clusters::BIGINT AS n_clusters, n_pred::BIGINT AS n_pred,
       n_gold::BIGINT AS n_gold, n_both::BIGINT AS n_both,
       floor((n_both::DOUBLE / n_pred)*1e6 + 0.5)/1e6 AS precision,
       floor((n_both::DOUBLE / n_gold)*1e6 + 0.5)/1e6 AS recall,
       floor((2.0*(n_both::DOUBLE / n_pred)*(n_both::DOUBLE / n_gold)
              / ((n_both::DOUBLE / n_pred) + (n_both::DOUBLE / n_gold)))*1e6 + 0.5)/1e6 AS f1
FROM allt
"""


def _cluster_prf_sql() -> str:
    """DuckDB replay of q_cluster_prf: exact integer pair totals with the
    self-pair correction, identical double ratio arithmetic."""
    return f"""
WITH RECURSIVE clusters AS ({_CLUSTERS_SQL_BODY}),
gold AS ({_gold_sql()}),
j AS (
  SELECT c.doc_id, c.cluster_id AS pc, g.gc
  FROM clusters c JOIN gold g USING (doc_id)
),
tot AS (
  SELECT
    (SELECT sum(c*(c+1)//2) FROM (SELECT count(*) AS c FROM j GROUP BY pc)) AS n_pred,
    (SELECT sum(c*(c+1)//2) FROM (SELECT count(*) AS c FROM j GROUP BY gc)) AS n_gold,
    (SELECT sum(c*(c+1)//2) FROM (SELECT count(*) AS c FROM j GROUP BY pc, gc)) AS n_both
),
ratios AS (
  SELECT n_pred, n_gold, n_both,
         n_both::DOUBLE / n_pred AS p,
         n_both::DOUBLE / n_gold AS r
  FROM tot
)
SELECT n_pred::BIGINT AS n_pred, n_gold::BIGINT AS n_gold,
       n_both::BIGINT AS n_both,
       floor(p*1e6 + 0.5)/1e6 AS precision,
       floor(r*1e6 + 0.5)/1e6 AS recall,
       floor((2.0*p*r/(p+r))*1e6 + 0.5)/1e6 AS f1
FROM ratios
"""


def _vote_sql() -> str:
    """DuckDB replay of q_vote_scores: identical component sigmoids
    (rounded to 6 before voting, so the FP arithmetic downstream is
    bit-reproducible), same (2,1,1) weights, same strict > tie rules."""
    return f"""
WITH feats AS ({_PAIR_FEATURES_SQL_BODY}),
comp AS (
  SELECT doc_id_1, doc_id_2,
         floor((1.0 / (1.0 + exp(-(-4.0 + 2.0*jw + 1.0*lev_sim + 4.0*tok_jaccard))))*1e6 + 0.5)/1e6 AS s_main,
         floor((1.0 / (1.0 + exp(-(4.0*jw - 2.0))))*1e6 + 0.5)/1e6 AS s_jw,
         floor((1.0 / (1.0 + exp(-(4.0*tok_jaccard - 2.0))))*1e6 + 0.5)/1e6 AS s_tok
  FROM feats
)
SELECT doc_id_1, doc_id_2,
       floor(((2.0*s_main + 1.0*s_jw + 1.0*s_tok) / 4.0)*1e6 + 0.5)/1e6 AS soft_score,
       ((2.0*s_main + 1.0*s_jw + 1.0*s_tok) / 4.0 > 0.5)::BIGINT AS soft_label,
       ((CASE WHEN s_main > 0.5 THEN 2.0 ELSE 0.0 END
         + CASE WHEN s_jw > 0.5 THEN 1.0 ELSE 0.0 END
         + CASE WHEN s_tok > 0.5 THEN 1.0 ELSE 0.0 END)
        > 4.0 - (CASE WHEN s_main > 0.5 THEN 2.0 ELSE 0.0 END
                 + CASE WHEN s_jw > 0.5 THEN 1.0 ELSE 0.0 END
                 + CASE WHEN s_tok > 0.5 THEN 1.0 ELSE 0.0 END))::BIGINT AS hard_label
FROM comp
"""


def _er_facets_sql() -> str:
    """DuckDB replay of q_er_facets: same mentions/name/cluster inputs
    (the recursive-CTE clusters), same group-count identities
    (h = |b,n| - |b,n,c|, s = |b,c| - |b,n,c|, denom = |b| - 1)."""
    norm = _NORM.format(col="text")
    block = _block_sql("text")
    return f"""
WITH RECURSIVE clusters AS ({_CLUSTERS_SQL_BODY}),
mentions AS (
  SELECT doc_id, {block} AS block_key,
         string_split({norm}, ' ')[1] AS full_name
  FROM documents
  WHERE length({block}) > 0
),
sig AS (
  SELECT m.doc_id, m.block_key, m.full_name, c.cluster_id
  FROM mentions m JOIN clusters c USING (doc_id)
),
by_b AS (SELECT block_key, count(*) AS block_size FROM sig GROUP BY 1),
by_bn AS (SELECT block_key, full_name, count(*) AS cnt_bn FROM sig GROUP BY 1, 2),
by_bc AS (SELECT block_key, cluster_id, count(*) AS cnt_bc FROM sig GROUP BY 1, 2),
by_bnc AS (SELECT block_key, full_name, cluster_id, count(*) AS cnt_bnc
           FROM sig GROUP BY 1, 2, 3),
by_c AS (SELECT cluster_id, count(*) AS cluster_size FROM sig GROUP BY 1)
SELECT s.doc_id::BIGINT AS doc_id, s.block_key,
       b.block_size::BIGINT AS block_size,
       c.cluster_size::BIGINT AS cluster_size,
       (bn.cnt_bn - bnc.cnt_bnc)::BIGINT AS homonymity_count,
       (bc.cnt_bc - bnc.cnt_bnc)::BIGINT AS synonymity_count,
       (b.block_size - 1)::BIGINT AS pair_denominator
FROM sig s
JOIN by_b b USING (block_key)
JOIN by_bn bn USING (block_key, full_name)
JOIN by_bc bc USING (block_key, cluster_id)
JOIN by_bnc bnc USING (block_key, full_name, cluster_id)
JOIN by_c c USING (cluster_id)
"""


def _min_edit_sql() -> str:
    """Exact DuckDB replay of operators/min_edit.min_pair_edit on the
    q_min_pair_edit inputs (reference greedy, s2and/eval.py:1064-1160).

    The greedy is sequential within a block, but each step is a pure
    function of (assignment, pairs), so a recursive CTE replays it: the
    working row per block carries the assignment as parallel sorted
    (akeys, albl) lists plus the fixed worst-ids queue, and each
    recursion step evaluates every candidate flip via list lambdas —
    strictly-improving argmax with first-in-sorted-order tie-break,
    exactly the kernel's semantics. Wrong-pair counts after a step equal
    -(chosen objective) because the pair set is distinct by
    construction, which gives the early-exit check for free.
    """
    block = _block_sql("text")
    odd = "('1','3','5','7','9','b','d','f')"
    return f"""
WITH RECURSIVE
mentions AS (
  SELECT doc_id, {block} AS block_key
  FROM documents
  WHERE length({block}) > 0
),
bp AS (
  SELECT a.block_key, a.doc_id AS id1, b.doc_id AS id2,
         (substr(md5(a.doc_id || '|' || b.doc_id), 32, 1) IN {odd}) AS gold
  FROM mentions a JOIN mentions b USING (block_key)
  WHERE a.doc_id < b.doc_id
),
plist AS (
  SELECT block_key,
         list({{'id1': id1, 'id2': id2, 'gold': gold}} ORDER BY id1, id2) AS prs
  FROM bp GROUP BY block_key
),
wrong0 AS (
  SELECT block_key, id1, id2,
         row_number() OVER (PARTITION BY block_key ORDER BY id1, id2) AS rk
  FROM bp WHERE NOT gold
),
appear AS (
  -- Counter insertion order: id1 then id2 per wrong pair, pairs in
  -- canonical lex order; most_common = (count desc, first insertion asc)
  SELECT block_key, id, count(*) AS cnt, min(app) AS first_app
  FROM (
    SELECT block_key, id1 AS id, 2*rk-1 AS app FROM wrong0
    UNION ALL
    SELECT block_key, id2 AS id, 2*rk AS app FROM wrong0
  ) GROUP BY 1, 2
),
worst AS (
  SELECT block_key, list(id ORDER BY cnt DESC, first_app ASC) AS worst_ids
  FROM appear GROUP BY block_key
),
ids AS (
  SELECT DISTINCT block_key, id1 AS id FROM bp
  UNION SELECT DISTINCT block_key, id2 AS id FROM bp
),
init AS (
  SELECT i.block_key, list_sort(list(i.id)) AS akeys,
         list_transform(list_sort(list(i.id)), d -> i.block_key) AS albl
  FROM ids i GROUP BY i.block_key
),
state AS (
  SELECT w.block_key, 0 AS i, n.akeys, n.albl, 0 AS steps, w.worst_ids,
         len(w.worst_ids) AS n,
         list_sort(list_distinct(list_append(n.albl, 'dummy'))) AS cands,
         p.prs, TRUE AS active
  FROM worst w JOIN init n USING (block_key) JOIN plist p USING (block_key)
  UNION ALL
  SELECT block_key, i + 1 AS i, akeys,
         CASE WHEN flip IS NULL THEN albl
              ELSE list_transform(albl, (v, j) -> CASE WHEN j = wpos THEN flip ELSE v END)
         END AS albl,
         steps + CASE WHEN flip IS NULL THEN 0 ELSE 1 END AS steps,
         worst_ids, n, cands, prs,
         ((CASE WHEN flip IS NULL THEN base_negobj ELSE best.negobj END) > 0
          AND i + 1 < n) AS active
  FROM (
    SELECT *, CASE WHEN best.negobj < base_negobj THEN best.cand ELSE NULL END AS flip
    FROM (
      SELECT *,
             len(list_filter(prs, p ->
               (albl[list_position(akeys, p.id1)] = albl[list_position(akeys, p.id2)]) != p.gold
             )) AS base_negobj,
             list_sort(list_transform(list_filter(cands, c -> c != albl[wpos]), c ->
               {{'negobj': len(list_filter(prs, p ->
                   ((CASE WHEN p.id1 = wid THEN c ELSE albl[list_position(akeys, p.id1)] END)
                    = (CASE WHEN p.id2 = wid THEN c ELSE albl[list_position(akeys, p.id2)] END))
                   != p.gold)),
                'cand': c}}))[1] AS best
      FROM (
        SELECT s.*, s.worst_ids[s.i + 1] AS wid,
               list_position(s.akeys, s.worst_ids[s.i + 1]) AS wpos
        FROM state s WHERE s.active
      )
    )
  )
),
terminal AS (
  SELECT block_key, steps, n FROM (
    SELECT block_key, steps, n,
           row_number() OVER (PARTITION BY block_key ORDER BY i DESC) AS r
    FROM state
  ) WHERE r = 1
),
blocks AS (SELECT DISTINCT block_key FROM bp)
SELECT b.block_key,
       floor((CASE WHEN coalesce(t.n, 0) > 1
                   THEN t.steps::DOUBLE / (t.n - 1)
                   ELSE coalesce(t.steps, 0)::DOUBLE END)*1e6 + 0.5)/1e6
         AS min_edit_score,
       coalesce(t.steps, 0)::BIGINT AS min_edit_count,
       coalesce(t.n, 0)::BIGINT AS n_mistaken_ids
FROM blocks b LEFT JOIN terminal t USING (block_key)
"""


def _lang_profile_sql() -> str:
    """Exact DuckDB replay of operators/langid.detect_language_profile:
    same trigram extraction, the same (lang, trigram, weight) literals
    (generated from langid.PROFILES — one source of truth), same
    normalization, arg-max and reliability rule. The reliability
    thresholds come from the same constants the operator defaults use,
    so changing the Spark defaults cannot silently break oracle parity."""
    from ent_res_feedback_spark.operators.langid import (
        DEFAULT_MIN_MARGIN,
        DEFAULT_MIN_SCORE,
        PROFILES,
    )

    ms, mm = DEFAULT_MIN_SCORE, DEFAULT_MIN_MARGIN

    rows = []
    for lang, prof in sorted(PROFILES.items()):
        for tri, w in sorted(prof.items()):
            esc = tri.replace("'", "''")
            rows.append(f"('{lang}', '{esc}', {w})")
    values = ",\n    ".join(rows)
    langs = ", ".join(f"('{lang}')" for lang in sorted(PROFILES))
    return f"""
WITH weights(lang, tri, w) AS (VALUES
    {values}
),
langs(lang) AS (VALUES {langs}),
docs AS (
  SELECT doc_id,
         ' ' || lower(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) || ' ' AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substr(t, i, 3) AS tri
  FROM docs, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)
  WHERE length(t) >= 3
),
tri_counts AS (
  SELECT doc_id, tri, count(*) AS c FROM tris GROUP BY 1, 2
),
n_tris AS (
  SELECT doc_id, CASE WHEN length(t) >= 3 THEN length(t) - 2 ELSE 0 END AS n
  FROM docs
),
per_lang AS (
  SELECT nt.doc_id, l.lang,
         CASE WHEN nt.n > 0 THEN
           coalesce((SELECT sum(tc.c * w.w) FROM tri_counts tc
                     JOIN weights w ON w.lang = l.lang AND w.tri = tc.tri
                     WHERE tc.doc_id = nt.doc_id), 0)::DOUBLE / nt.n
         ELSE 0.0 END AS score
  FROM n_tris nt CROSS JOIN langs l
),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang DESC) AS rk
  FROM per_lang
),
best AS (
  SELECT b.doc_id, b.score AS best_score, b.lang AS best_lang,
         r.score AS runner_score
  FROM ranked b JOIN ranked r
    ON b.doc_id = r.doc_id AND b.rk = 1 AND r.rk = 2
)
SELECT doc_id,
       (best_score >= {ms} AND (best_score - runner_score) >= {mm}) AS is_reliable,
       (CASE WHEN best_score >= {ms} AND (best_score - runner_score) >= {mm}
             THEN best_lang ELSE 'un' END = 'en') AS is_english,
       CASE WHEN best_score >= {ms} AND (best_score - runner_score) >= {mm}
            THEN best_lang ELSE 'un' END AS lang,
       round(best_score, 6) AS score
FROM best
"""


def _mini_corpus_sql() -> str:
    """DuckDB replay of q_mini_corpus (operators/subset.mini_corpus):
    per-source census, cutoff<=2, first 15 eligible blocks in name
    order, clusters (doc_id % 250) kept only when fully contained,
    docs re-derived from surviving clusters."""
    block = _block_sql("text")
    return f"""
WITH d AS (SELECT doc_id, source, {block} AS block_key FROM documents),
cl AS (SELECT doc_id, doc_id % 250 AS cluster_id FROM documents),
census AS (SELECT source, block_key, count(*) AS n FROM d GROUP BY 1, 2),
kb AS (
  SELECT source, block_key FROM (
    SELECT source, block_key,
           row_number() OVER (PARTITION BY source ORDER BY block_key) AS rk
    FROM census WHERE n <= 2) WHERE rk <= 15),
in_kept AS (SELECT d.doc_id, 1 AS kept FROM d JOIN kb USING (source, block_key)),
full_cl AS (
  SELECT cluster_id FROM cl LEFT JOIN in_kept USING (doc_id)
  GROUP BY cluster_id HAVING count(*) = count(kept)),
kept_ids AS (SELECT doc_id FROM cl SEMI JOIN full_cl USING (cluster_id))
SELECT d.doc_id, d.block_key, cl.cluster_id
FROM d SEMI JOIN kept_ids USING (doc_id) JOIN cl USING (doc_id)
"""


def oracle_sql() -> dict[str, str]:
    from ent_res_feedback_spark.functions.hashing import sql_minhash_expr

    norm = _NORM.format(col="text")
    toks = f"string_split({norm}, ' ')"
    block = _block_sql("text")

    # word 3-gram shingles (mirror of operators/blocking.word_shingles):
    # non-distinct token stream -> n-grams; <3 tokens -> the whole text
    filt_toks = f"list_filter({toks}, t -> length(t) > 0)"
    shingles = (
        f"list_distinct(CASE WHEN len({filt_toks}) >= 3 THEN "
        f"list_transform(generate_series(1, len({filt_toks}) - 2), "
        f"i -> {filt_toks}[i] || ' ' || {filt_toks}[i+1] || ' ' || {filt_toks}[i+2]) "
        f"ELSE [array_to_string({filt_toks}, ' ')] END)"
    )
    mh_sig = sql_minhash_expr(shingles, 16, seed=42)
    band_keys = []
    for i in range(4):
        parts = " || '_' || ".join(
            f"sig[{i * 4 + j + 1}]::VARCHAR" for j in range(4)
        )
        band_keys.append(f"'b{i}:' || md5({parts})")
    bands_sql = f"""
WITH sigs AS (
  SELECT doc_id, {mh_sig} AS sig FROM documents
  WHERE len({shingles}) > 0
)
SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band_key FROM sigs
"""

    near_dup_sql = f"""
WITH sigs AS (
  SELECT doc_id, {shingles} AS tokens,
         {mh_sig} AS sig
  FROM documents
  WHERE len({shingles}) > 0
),
banded AS (
  SELECT doc_id, tokens, unnest([{', '.join(band_keys)}]) AS band_key FROM sigs
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         a.tokens AS t1, b.tokens AS t2
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_id_1, doc_id_2,
       round(len(list_intersect(t1, t2))::DOUBLE
             / len(list_distinct(list_concat(t1, t2))), 6) AS jaccard
FROM cands
WHERE len(list_intersect(t1, t2))::DOUBLE
      / len(list_distinct(list_concat(t1, t2))) >= 0.7
"""

    stop_list = ", ".join(
        f"'{w}'" for w in sorted(__import__(
            "ent_res_feedback_spark.functions.text", fromlist=["STOPWORDS"]
        ).STOPWORDS)
    )
    en_markers = ", ".join(
        f"'{w}'" for w in [
            "the", "and", "of", "to", "in", "a", "is", "that", "for", "it",
            "with", "as", "on", "be", "at", "by", "this", "from", "or", "an",
        ]
    )

    text_profile_sql = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks,
         list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS ltoks
  FROM documents
),
m AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
         CASE WHEN len(ltoks) > 0 THEN
           len(list_filter(ltoks, t -> t IN ({stop_list})))::DOUBLE / len(ltoks)
         ELSE 0.0 END AS stop_ratio,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z\\s]', '', 'g')) AS n_alpha
  FROM base
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens, round(stop_ratio, 6) AS stop_ratio,
       round(
         0.3 * least(n_chars / 500.0, 1.0)
         + 0.3 * (CASE WHEN n_chars > 0 THEN n_alpha::DOUBLE / n_chars ELSE 0 END)
         + 0.2 * (CASE WHEN n_tokens > 0 AND n_chars::DOUBLE / n_tokens BETWEEN 3 AND 12
                  THEN 1.0 ELSE 0.0 END)
         + 0.2 * (CASE WHEN stop_ratio BETWEEN 0.05 AND 0.7 THEN 1.0 ELSE 0.0 END),
       6) AS quality
FROM m
"""

    lang_sql = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS ltoks
  FROM documents
),
m AS (
  SELECT doc_id, len(ltoks) AS n,
         CASE WHEN len(ltoks) > 0 THEN
           len(list_filter(ltoks, t -> t IN ({en_markers})))::DOUBLE / len(ltoks)
         ELSE 0.0 END AS ratio
  FROM base
)
SELECT doc_id, (n > 1 AND ratio >= 0.05) AS is_reliable,
       (CASE WHEN n > 1 AND ratio >= 0.05 THEN 'en' ELSE 'un' END) = 'en' AS is_english,
       CASE WHEN n > 1 AND ratio >= 0.05 THEN 'en' ELSE 'un' END AS lang
FROM m
"""

    ann_sql = """
WITH scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC)
           AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, round(cos, 6) AS cosine, rank::BIGINT AS rank
FROM ranked WHERE rank <= 3
"""

    centroid_sql = """
WITH expanded AS (
  SELECT vec_id, label, t.i AS i, embedding[t.i]::DOUBLE AS x
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS t(i)
),
centroids AS (
  SELECT label, i, avg(x) AS c FROM expanded GROUP BY label, i
),
dots AS (
  SELECT e.vec_id, e.label,
         sum(e.x * c.c) AS dot,
         sqrt(sum(e.x * e.x)) AS na,
         sqrt(sum(c.c * c.c)) AS nb
  FROM expanded e JOIN centroids c ON e.label = c.label AND e.i = c.i
  GROUP BY e.vec_id, e.label
)
SELECT vec_id::BIGINT AS vec_id, label::BIGINT AS label,
       round(CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (na * nb) END, 6)
         AS centroid_cosine
FROM dots
"""

    return {
        "er_block_key": f"SELECT doc_id, {block} AS block_key FROM documents",
        # mirror of operators/multimodal.deterministic_fake_features:
        # sha256(payload) digest tiled to dim*4 bytes -> uint32 LE -> /2^32-1
        # -> float32; payload = utf-8 of 'm'||doc_id. ::REAL replays the
        # float32 quantization so round(,6) agrees bit-for-bit.
        "media_features": """
WITH b AS (
  SELECT 'm' || doc_id::VARCHAR AS media_ref,
         sha256('m' || doc_id::VARCHAR) AS hx
  FROM documents
),
dims AS (SELECT unnest(generate_series(0, 15)) AS i),
v AS (
  SELECT media_ref, i,
    (('0x' || substr(hx, ((4*i)%32)*2+1, 2))::BIGINT
     + ('0x' || substr(hx, ((4*i)%32+1)*2+1, 2))::BIGINT * 256
     + ('0x' || substr(hx, ((4*i)%32+2)*2+1, 2))::BIGINT * 65536
     + ('0x' || substr(hx, ((4*i)%32+3)*2+1, 2))::BIGINT * 16777216) AS u
  FROM b, dims
)
SELECT media_ref, 'image' AS kind, i::BIGINT AS dim_idx,
       round((u::DOUBLE / 4294967295.0)::REAL::DOUBLE, 6) AS value
FROM v
""",
        "er_block_census": f"""
SELECT {block} AS block_key, count(*)::BIGINT AS block_size,
       (count(*) * (count(*) - 1) / 2)::BIGINT AS n_pairs
FROM documents GROUP BY 1
""",
        "er_pairs": f"""
WITH d AS (SELECT doc_id, {block} AS block_key FROM documents)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, a.block_key
FROM d a JOIN d b USING (block_key) WHERE a.doc_id < b.doc_id
""",
        "er_pair_features": _PAIR_FEATURES_SQL_BODY,
        "er_pair_scores": _SCORES_SQL_BODY,
        "er_edges": f"SELECT * FROM ({_SCORES_SQL_BODY}) WHERE score >= {TAU}",
        "er_clusters": _CLUSTERS_SQL_BODY,
        "er_cluster_sizes": f"""
SELECT cluster_id, count(*)::BIGINT AS n_docs
FROM ({_CLUSTERS_SQL_BODY}) GROUP BY cluster_id
""",
        "er_splits": _er_splits_sql(),
        "er_eps_sweep": _eps_sweep_sql(),
        "mini_corpus": _mini_corpus_sql(),
        "er_facets": _er_facets_sql(),
        "vote_scores": _vote_sql(),
        "b3_per_item": _b3_per_item_sql(),
        "cluster_prf": _cluster_prf_sql(),
        "dedup_exact": f"""
SELECT md5({norm}) AS fingerprint, min(doc_id)::BIGINT AS survivor_id,
       count(*)::BIGINT AS group_size
FROM documents GROUP BY 1 HAVING count(*) > 1
""",
        "fingerprints": f"SELECT doc_id, md5({norm}) AS fingerprint FROM documents",
        "winnow_fingerprints": _winnow_sql(),
        "simhash_fp": _simhash_sql(),
        "pair_auroc": _auroc_sql(),
        "minhash_bands": bands_sql,
        "dedup_near_jaccard": near_dup_sql,
        "text_profile": text_profile_sql,
        "lang_id": lang_sql,
        "lang_id_profile": _lang_profile_sql(),
        # min_pair_edit: the greedy is sequential per block but each step
        # is pure, so a recursive CTE replays it exactly (see
        # _min_edit_sql docstring); semantics also pinned by
        # tests/test_min_edit.py goldens
        "min_pair_edit": _min_edit_sql(),
        "ann_topk": ann_sql,
        "embedding_label_centroid_sim": centroid_sql,
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "tpch_q3": """
SELECT l.l_orderkey::BIGINT AS l_orderkey,
       o.o_orderdate::VARCHAR AS o_orderdate,
       o.o_orderpriority::VARCHAR AS o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < '1995-03-15'
  AND l.l_shipdate > '1995-03-15'
GROUP BY 1, 2, 3
""",
        "incremental_assign": _incremental_sql(),
        "ann_topk_lsh": _ann_lsh_sql(),
        "dedup_near_embedding": _emb_dup_sql(),
        "ann_topk_ivf": _ivf_sql(),
    }
