"""F5 — profile-based language identification (model-based stand-in).

The reference's ``detect_language`` is a fasttext + pycld2 ensemble
(``/root/reference/s2and/text.py:266-309``) returning
``(is_reliable, is_english)``. Neither model library exists in this
container, so this module supplies the *model-shaped* path the heuristic
in ``operators/textstats.py`` cannot: a Cavnar–Trenkle-style character
trigram profile classifier (Cavnar & Trenkle, "N-Gram-Based Text
Categorization", SDAIR'94) over a fixed language set.

Profiles are derived **deterministically at import time** from embedded
per-language function-word lists (public linguistic knowledge — the same
class of resource as the reference's embedded stopword sets): each
language's profile is the trigram frequency ranking of its padded
function words; trigram weight = (K - rank). Classification is the
arg-max of summed weights over the document's trigrams, entirely in JVM
column expressions (create_map literal lookup + higher-order aggregate —
no Python in the hot path, scan-speed at 100 TB).

This is NOT a port of fasttext: it is the classical public algorithm
with a deliberately small embedded profile set, and it keeps the
reference's output contract (is_reliable, is_english, lang).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.expr import let

# Per-language function words (public knowledge; ~30 each). These are the
# *profile corpora*, not match lists — classification uses their trigram
# statistics, so inflected content words sharing trigrams still score.
_FUNCTION_WORDS: dict[str, list[str]] = {
    "en": [
        "the", "and", "of", "to", "in", "that", "is", "was", "for", "it",
        "with", "as", "his", "on", "be", "at", "by", "had", "not", "are",
        "but", "from", "or", "have", "an", "they", "which", "one", "were",
        "her", "all", "she", "there", "would", "their", "this", "when",
    ],
    "de": [
        "der", "die", "und", "in", "den", "von", "zu", "das", "mit",
        "sich", "des", "auf", "für", "ist", "im", "dem", "nicht", "ein",
        "eine", "als", "auch", "es", "an", "werden", "aus", "er", "hat",
        "dass", "sie", "nach", "wird", "bei", "einer", "um", "am", "sind",
    ],
    "fr": [
        "le", "de", "la", "et", "les", "des", "est", "un", "une", "du",
        "que", "dans", "qui", "pour", "sur", "au", "plus", "pas", "par",
        "avec", "sont", "ce", "il", "sa", "ses", "mais", "comme", "ou",
        "nous", "leur", "aux", "cette", "ont", "été", "être", "fait",
    ],
    "es": [
        "de", "la", "que", "el", "en", "y", "los", "del", "se", "las",
        "por", "un", "para", "con", "una", "su", "al", "lo", "como",
        "más", "pero", "sus", "le", "ya", "o", "este", "ha", "cuando",
        "todo", "esta", "son", "entre", "está", "también", "fue", "había",
    ],
    "it": [
        "di", "che", "il", "la", "per", "una", "del", "con", "non",
        "della", "nel", "alla", "si", "gli", "dei", "come", "anche",
        "più", "sono", "questo", "questa", "dalla", "essere", "stato",
        "nella", "delle", "degli", "loro", "quando", "hanno", "tutti",
    ],
}

_PROFILE_SIZE = 120

# Reliability thresholds — the single source of truth for both the Spark
# operator and the DuckDB oracle template (__spark_entry__).
DEFAULT_MIN_SCORE = 8.0
DEFAULT_MIN_MARGIN = 1.0


def _build_profile(words: list[str]) -> dict[str, int]:
    """Trigram profile of the padded word list, its top ``_PROFILE_SIZE``
    trigrams weighted ``_PROFILE_SIZE - rank``. Deterministic: counts,
    then (count desc, trigram asc) rank order."""
    counts: Counter[str] = Counter()
    for w in words:
        padded = f" {w} "
        for i in range(len(padded) - 2):
            counts[padded[i : i + 3]] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_PROFILE_SIZE]
    return {tri: _PROFILE_SIZE - rank for rank, (tri, _) in enumerate(ranked)}


PROFILES: dict[str, dict[str, int]] = {
    lang: _build_profile(words) for lang, words in _FUNCTION_WORDS.items()
}


def _trigrams(text: Column) -> Column:
    """Padded lowercase character trigrams as an array column (JVM).

    The padded/lowered text is let-bound (``expr.let``): referencing the
    regexp_replace chain inside the per-position lambda re-ran it per
    trigram (O(n) regexp passes per row)."""
    def tri_of(t):
        n = F.length(t)
        return F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - 2), lambda i: t.substr(i, F.lit(3))
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(
        F.concat(
            F.lit(" "), F.lower(F.regexp_replace(text, r"\s+", " ")), F.lit(" ")
        ),
        tri_of,
    )


def _lang_score(trigrams: Column, profile: dict[str, int]) -> Column:
    """Sum of profile weights over the text's trigrams, normalized by
    trigram count (JVM map literal + higher-order aggregate)."""
    m = F.create_map(*[F.lit(x) for kv in profile.items() for x in kv])
    total = F.aggregate(
        trigrams,
        F.lit(0).cast("long"),
        lambda acc, tri: acc + F.coalesce(m[tri], F.lit(0)).cast("long"),
    )
    n = F.size(trigrams)
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def detect_language_profile(text: Column) -> Column:
    """Profile-based language ID -> struct(is_reliable, is_english, lang,
    score). ``lang`` is the arg-max language; reliability requires the
    winning normalized score >= DEFAULT_MIN_SCORE AND a margin over the
    runner-up >= DEFAULT_MIN_MARGIN (the ensemble-agreement analog of the
    reference's fasttext-vs-cld2 check, s2and/text.py:266-309).

    The trigram array is let-bound (``expr.let``) and the ranked score
    array likewise: each of the 5 per-language scores aggregates over
    the trigrams, so an unbound array re-materialized ~10x per row
    (and each rebuild re-ran the regexp chain per element — measured 9s
    for 5k docs at sf0.1, now sub-second; values unchanged)."""
    def classify(tris):
        scored = [
            (lang, _lang_score(tris, prof)) for lang, prof in PROFILES.items()
        ]
        # arg-max via sort over (score, lang) structs — struct order
        # compares score first, lang breaking exact ties deterministically
        return F.sort_array(
            F.array(
                *[
                    F.struct(s.alias("score"), F.lit(lang).alias("lang"))
                    for lang, s in scored
                ]
            ),
            asc=False,
        )

    def verdict(ranked):
        best, runner_up = ranked[0], ranked[1]
        is_reliable = (best["score"] >= DEFAULT_MIN_SCORE) & (
            (best["score"] - runner_up["score"]) >= DEFAULT_MIN_MARGIN
        )
        lang = F.when(is_reliable, best["lang"]).otherwise(F.lit("un"))
        return F.struct(
            is_reliable.alias("is_reliable"),
            (lang == "en").alias("is_english"),
            lang.alias("lang"),
            F.round(best["score"], 6).alias("score"),
        )

    return let(let(_trigrams(text), classify), verdict)
