"""Text-analysis operators for the training-data pipeline layer:
language-ID heuristic, quality scoring, token counting.
All pure column expressions (JVM-side, codegen'd) so they run at scan
speed over 100 TB — no UDFs anywhere in this module.

The reference's language detection is a fasttext+cld2 ensemble
(s2and/text.py:266-309) — model-based detection is out of scope in this
container, so language-ID is an n-gram/stopword heuristic with the same
output shape (is_reliable, is_english, lang).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.expr import let
from ent_res_feedback_spark.functions.text import STOPWORDS

# high-frequency English function words used by the heuristic
_EN_MARKERS = [
    "the", "and", "of", "to", "in", "a", "is", "that", "for", "it",
    "with", "as", "on", "be", "at", "by", "this", "from", "or", "an",
]


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def stopword_ratio(text: Column) -> Column:
    # token array let-bound: it is referenced 3x (filter + 2x size), and
    # unbound each reference re-split the text (round-6, expr.let)
    def ratio_of(toks):
        n_stop = F.size(F.filter(toks, lambda t: t.isin(*sorted(STOPWORDS))))
        return F.when(
            F.size(toks) > 0, n_stop / F.size(toks)
        ).otherwise(F.lit(0.0))

    return let(tokens_col(F.lower(text)), ratio_of)


def english_marker_ratio(text: Column) -> Column:
    def ratio_of(toks):
        n = F.size(F.filter(toks, lambda t: t.isin(*_EN_MARKERS)))
        return F.when(F.size(toks) > 0, n / F.size(toks)).otherwise(F.lit(0.0))

    return let(tokens_col(F.lower(text)), ratio_of)


def language_id(text: Column) -> Column:
    """Heuristic language ID -> struct(is_reliable, is_english, lang);
    same output shape as the reference's detect_language
    (s2and/text.py:266-309). 'en' when English function words are
    frequent; 'un' (unreliable) for short or marker-free text."""
    toks = tokens_col(text)
    ratio = english_marker_ratio(text)
    is_reliable = (F.size(toks) > 1) & (ratio >= 0.05)
    lang = F.when(is_reliable, F.lit("en")).otherwise(F.lit("un"))
    return F.struct(
        is_reliable.alias("is_reliable"),
        (lang == "en").alias("is_english"),
        lang.alias("lang"),
    )


def quality_score(text: Column) -> Column:
    """Document quality score in [0,1]: blend of length, alpha ratio,
    mean word length sanity, and stopword presence — the standard cheap
    pretraining-quality heuristics, as one column expression."""
    n_chars = F.length(text)
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(text, r"[^a-zA-Z\s]", "")) / n_chars,
    ).otherwise(F.lit(0.0))

    # token count let-bound: mean_wl references it twice and the unbound
    # form re-split the text per reference (round-6, expr.let)
    def wl_ok_of(n_toks):
        mean_wl = F.when(
            n_toks > 0, n_chars / n_toks
        ).otherwise(F.lit(0.0))
        return F.when(
            (mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)
        ).otherwise(F.lit(0.0))

    wl_ok = let(F.size(tokens_col(text)), wl_ok_of)
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))

    def stop_ok_of(stop):
        return F.when(
            (stop >= 0.05) & (stop <= 0.7), F.lit(1.0)
        ).otherwise(F.lit(0.0))

    stop_ok = let(stopword_ratio(text), stop_ok_of)
    return (
        F.lit(0.3) * len_score
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.2) * wl_ok
        + F.lit(0.2) * stop_ok
    )
