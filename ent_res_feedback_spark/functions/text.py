"""Scalar text-function library (SURVEY.md §2.2, F1-F14).

Semantics mirror the reference's ``s2and/text.py`` (cited per function);
implementations are Spark-native column expressions wherever possible so
they stay inside whole-stage codegen, and Arrow-batched pandas UDFs only
where a JVM builtin genuinely can't express them (unicode folding).

Missing-value convention: the reference uses ``np.nan``; this engine uses
SQL NULL (the idiomatic Spark missing value — NaN breaks join/groupBy
equality).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# Constants (reference: s2and/text.py:27-243)
# ---------------------------------------------------------------------------

# English stopword list (reference s2and/text.py:80-210).
STOPWORDS = {
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "your", "yours", "yourself", "yourselves", "he", "him", "his",
    "himself", "she", "her", "hers", "herself", "it", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had", "having",
    "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if",
    "or", "because", "as", "until", "while", "of", "at", "by", "for",
    "with", "about", "against", "between", "into", "through", "during",
    "before", "after", "above", "below", "to", "from", "up", "down",
    "in", "out", "on", "off", "over", "under", "again", "further",
    "then", "once", "here", "there", "when", "where", "why", "how",
    "all", "any", "both", "each", "few", "more", "most", "other", "some",
    "such", "no", "nor", "not", "only", "own", "same", "so", "than",
    "too", "very", "s", "t", "can", "will", "just", "don", "should",
    "now",
}

NAME_PREFIXES = {
    "dr", "prof", "professor", "mr", "miss", "mrs", "ms", "mx", "sir",
    "phd", "md", "doctor",
}

# Extra Latin fold pairs NFKD alone doesn't decompose.
_FOLD_MAP = str.maketrans({
    "ß": "ss", "ẞ": "SS", "ø": "o", "Ø": "O", "æ": "ae", "Æ": "AE",
    "œ": "oe", "Œ": "OE", "đ": "d", "Đ": "D", "ð": "d", "Ð": "D",
    "þ": "th", "Þ": "Th", "ł": "l", "Ł": "L", "ħ": "h", "Ħ": "H",
    "ı": "i", "ŋ": "n", "Ŋ": "N",
})


def _ascii_fold_one(s: str) -> str:
    """Fold accented Latin text to ASCII (unidecode-lite).

    Mirrors the role of ``text_unidecode.unidecode`` in the reference's
    ``normalize_text`` (s2and/text.py:330). Divergence note: CJK
    transliteration (e.g. 漢 -> 'Han') needs a full transliteration table
    and is out of scope — non-Latin codepoints fold to '' here, which the
    downstream regex would have turned into a space separator anyway.
    """
    s = s.translate(_FOLD_MAP)
    return (
        unicodedata.normalize("NFKD", s)
        .encode("ascii", "ignore")
        .decode("ascii")
    )


@pandas_udf(StringType())
def ascii_fold(col: pd.Series) -> pd.Series:
    """Arrow-batched unicode->ASCII fold (the only non-JVM part of F1)."""
    return col.map(lambda s: _ascii_fold_one(s) if s is not None else None)


def normalize_text(col: Column, special_case_apostrophes: bool = False) -> Column:
    """F1 — reference ``normalize_text`` (s2and/text.py:312-338).

    fold -> lower -> (optionally drop apostrophes) -> non-alpha runs to a
    single space -> squeeze whitespace -> trim. NULL/empty -> ''.
    """
    c = F.lower(ascii_fold(col))
    if special_case_apostrophes:
        c = F.regexp_replace(c, "'", "")
    c = F.regexp_replace(c, r"[^a-zA-Z\s]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.coalesce(c, F.lit(""))


def normalize_text_ascii(col: Column, special_case_apostrophes: bool = False) -> Column:
    """F1, ASCII-only fast path: identical to ``normalize_text`` for ASCII
    inputs but 100% JVM-side (no UDF) — used by oracle-checked queries so
    DuckDB can express the exact same transform."""
    c = F.lower(col)
    if special_case_apostrophes:
        c = F.regexp_replace(c, "'", "")
    c = F.regexp_replace(c, r"[^a-zA-Z\s]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.coalesce(c, F.lit(""))


# ---------------------------------------------------------------------------
# Set Jaccard (F11) — pure column expression (JVM-side, codegen'd)
# ---------------------------------------------------------------------------

def set_jaccard(a1: Column, a2: Column) -> Column:
    """F11 — reference set ``jaccard`` (s2and/text.py:604-629).
    |intersection|/|union| over array columns (deduped); NULL if either
    side is empty."""
    a1d, a2d = F.array_distinct(a1), F.array_distinct(a2)
    score = F.size(F.array_intersect(a1d, a2d)) / F.size(F.array_union(a1d, a2d))
    return F.when((F.size(a1d) > 0) & (F.size(a2d) > 0), score)


# ---------------------------------------------------------------------------
# Blocking key (F4)
# ---------------------------------------------------------------------------

def compute_block_key(name_col: Column) -> Column:
    """F4 — reference ``compute_block`` (s2and/text.py:632-653):
    first-initial + ' ' + last token; single-token names block to
    themselves; empty -> ''. Pure column expression."""
    parts = F.split(name_col, " ")
    return (
        F.when(F.length(name_col) == 0, F.lit(""))
        .when(F.size(parts) == 1, F.element_at(parts, 1))
        .otherwise(
            F.concat(
                F.substring(F.element_at(parts, 1), 1, 1),
                F.lit(" "),
                F.element_at(parts, -1),
            )
        )
    )
