"""PySpark-native entity-resolution engine with the capabilities of
iesl/ent-res-feedback (S2AND-style blocking -> pairwise scoring ->
transitive clustering -> feedback), rebuilt from scratch in idiomatic
Spark (DataFrame API + Arrow-vectorized pandas UDFs, never per-row
Python in the hot path).

Layout
------
functions/   scalar function library (reference: s2and/text.py)
operators/   blocking, pair generation, featurization, constraints,
             scoring, connected components, metrics, feedback,
             incremental, dedup, similarity, text analysis
plans/       physical-plan audit
corpus.py    deterministic synthetic interleaved-document corpus
pipeline.py  end-to-end ER pipeline (the flagship job)
oracle.py    pure-Python reference-semantics oracle for parity tests
"""

__version__ = "0.1.0"
