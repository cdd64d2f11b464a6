"""Reference-parity featurization: the full 39-dimensional pairwise
feature vector over *signatures* + *papers* tables (SURVEY.md §2.5
FE1-FE2; reference s2and/featurizer.py:301-517, feature order
featurizer.py:129-225).

This is the operator surface a reference user needs for drop-in parity
work: given DataFrames shaped like FIXTURES.md §2/3

    signatures(signature_id, paper_id, author_info struct<first, middle,
               last, suffix, position, email, affiliations array>, ...)
    papers(paper_id, title, abstract, journal_name, venue, year,
           authors array<struct<position,author_name>>, references array)

it reproduces the reference's signature/paper preprocessing
(s2and/data.py:542-641, 1704-1790) and the 39 pair features, as column
expressions + the package's Arrow-batched kernels. The production ER
pipeline (pipeline.py) uses the leaner north-star feature set; this
module exists for reference parity and for corpora that carry the full
bibliographic payload.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, MapType, StringType

from ent_res_feedback_spark.functions import text as T
from ent_res_feedback_spark.functions.expr import let
from ent_res_feedback_spark.functions.strdist import name_text_features
from ent_res_feedback_spark.functions.text import (
    AFFILIATIONS_STOP_WORDS,
    NAME_PREFIXES,
    STOPWORDS,
    VENUE_STOP_WORDS,
    abs_diff,
    char_ngrams,
    compute_block_key,
    counter_jaccard,
    equal,
    equal_middle,
    name_counts_min_max,
    normalize_text,
    set_jaccard,
    word_ngrams,
)
from ent_res_feedback_spark.functions.vectors import specter_sim

#: feature order = reference FeaturizationInfo.get_feature_names()
#: (featurizer.py:129-225)
FEATURE_NAMES_39 = [
    "first_names_equal",            # 0
    "middle_initials_overlap",      # 1
    "middle_names_equal",           # 2
    "middle_one_missing",           # 3
    "single_char_first",            # 4
    "single_char_middle",           # 5
    "affiliation_overlap",          # 6
    "email_prefix_equal",           # 7
    "email_suffix_equal",           # 8
    "coauthor_overlap",             # 9
    "coauthor_similarity",          # 10
    "coauthor_match",               # 11
    "venue_overlap",                # 12
    "year_diff",                    # 13
    "title_overlap_words",          # 14
    "title_overlap_chars",          # 15
    "references_authors_overlap",   # 16
    "references_titles_overlap",    # 17
    "references_venues_overlap",    # 18
    "references_author_blocks_jaccard",  # 19
    "references_self_citation",     # 20
    "references_overlap",           # 21
    "position_diff",                # 22
    "abstract_count",               # 23
    "english_count",                # 24
    "same_language",                # 25
    "language_reliability_count",   # 26
    "first_name_count_min",         # 27
    "last_first_name_count_min",    # 28
    "last_name_count_min",          # 29
    "last_first_initial_count_min", # 30
    "first_name_count_max",         # 31
    "last_first_name_count_max",    # 32
    "specter_cosine_sim",           # 33
    "journal_overlap",              # 34
    "levenshtein",                  # 35
    "prefix",                       # 36
    "lcs",                          # 37
    "jaro",                         # 38
]


@pandas_udf(MapType(StringType(), IntegerType()))
def _initials_counter(middle: pd.Series) -> pd.Series:
    """Counter of middle-token first letters WITH multiplicity (reference
    featurizer.py:339-354 builds Counter([p[0] for p in middle.split()]))."""
    return middle.map(
        lambda m: dict(Counter(p[0] for p in (m or "").split(" ") if len(p) > 0))
    )


# ---------------------------------------------------------------------------
# preprocessing (reference data.py:542-641 signatures, 1704-1790 papers)
# ---------------------------------------------------------------------------

def preprocess_signatures(
    signatures: DataFrame,
    papers: DataFrame,
    name_counts: DataFrame | None = None,
) -> DataFrame:
    """Signature-level derived columns (reference preprocess_signatures,
    data.py:542-641): normalize first/middle jointly then re-split with a
    single leading-honorific strip; last/suffix normalization; coauthor
    sets + blocks + char n-grams; affiliation word n-grams; email prefix;
    NameCounts via broadcast join (missing -> 1; NULL when first is an
    initial)."""
    ai = F.col("author_info")
    first_n = normalize_text(ai["first"])
    first_na = normalize_text(ai["first"], special_case_apostrophes=True)
    middle_n = normalize_text(ai["middle"])

    def split_first_middle(first_col):
        """(first, middle) as ONE struct: the token array is referenced
        ~9x across the strip/first/middle expressions, so every layer is
        let-bound (``expr.let``) — the unbound form re-ran the
        split+normalize chain ~20x per row per variant (round-6; values
        unchanged). Projected as a struct then flattened from the
        attribute so the whole thing evaluates once."""
        joined = F.concat_ws(" ", first_col, middle_n)
        raw = F.filter(F.split(joined, " "), lambda t: F.length(t) > 0)

        # strip ONE leading honorific (reference data.py:565-571)
        def stripped_of(toks):
            return F.when(
                (F.size(toks) > 0)
                & F.element_at(toks, 1).isin(*sorted(NAME_PREFIXES)),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            ).otherwise(toks)

        def parts_of(toks):
            first = F.when(
                F.size(toks) > 0, F.element_at(toks, 1)
            ).otherwise(F.lit(""))
            middle = F.when(
                F.size(toks) > 1,
                F.concat_ws(" ", F.slice(toks, 2, F.size(toks) - 1)),
            ).otherwise(F.lit(""))
            return F.struct(first.alias("first"), middle.alias("middle"))

        return let(let(raw, stripped_of), parts_of)

    sig = signatures.select(
        "signature_id",
        "paper_id",
        ai["position"].alias("position"),
        ai["email"].alias("email"),
        ai["affiliations"].alias("affiliations_raw"),
        split_first_middle(first_n).alias("_fm"),
        split_first_middle(first_na).alias("_fm_na"),
        normalize_text(ai["last"]).alias("last_norm"),
        normalize_text(ai["suffix"]).alias("suffix_norm"),
    ).select(
        "signature_id",
        "paper_id",
        "position",
        "email",
        "affiliations_raw",
        F.col("_fm")["first"].alias("first_norm"),
        F.col("_fm_na")["first"].alias("first_norm_na"),
        F.col("_fm")["middle"].alias("middle_norm"),
        F.col("_fm_na")["middle"].alias("middle_norm_na"),
        "last_norm",
        "suffix_norm",
    )

    # coauthors: other authors on the same paper (data.py:573-592)
    coauth = papers.select(
        "paper_id",
        F.col("authors").alias("_authors"),
    )
    sig = sig.join(coauth, "paper_id", "left")
    empty_authors = F.array().cast("array<struct<position:int,author_name:string>>")
    others = F.filter(
        F.coalesce(F.col("_authors"), empty_authors),
        lambda a: a["position"] != F.col("position"),
    )
    co_names = F.transform(others, lambda a: normalize_text_inline(a["author_name"]))
    sig = sig.withColumn("coauthors", F.array_distinct(co_names)).drop("_authors")
    sig = sig.withColumn(
        "coauthor_blocks",
        F.array_distinct(F.transform(F.col("coauthors"), compute_block_key)),
    )
    sig = sig.withColumn(
        "coauthor_ngrams",
        char_ngrams(F.concat_ws(" ", F.col("coauthors")), stopwords=None),
    )

    affil_joined = F.concat_ws(
        " ",
        F.transform(
            F.coalesce(F.col("affiliations_raw"), F.array().cast("array<string>")),
            lambda a: normalize_text_inline(a),
        ),
    )
    sig = sig.withColumn(
        "affiliation_ngrams", word_ngrams(affil_joined, stopwords=AFFILIATIONS_STOP_WORDS)
    )
    sig = sig.withColumn(
        "email_prefix",
        F.when(
            F.col("email").isNotNull() & (F.length("email") > 0),
            F.element_at(F.split(F.col("email"), "@"), 1),
        ),
    )

    # NameCounts (data.py:608-627): lookups default to 1; first/first_last
    # are NULL (reference: NaN) for initial-only first names
    if name_counts is not None:
        sig = _join_name_counts(sig, name_counts)
    else:
        sig = sig.withColumn(
            "name_counts",
            F.struct(
                F.lit(None).cast("long").alias("first"),
                F.lit(None).cast("long").alias("first_last"),
                F.lit(None).cast("long").alias("last"),
                F.lit(None).cast("long").alias("last_first_initial"),
            ),
        )
    return sig.withColumn("middle_initials", _initials_counter(F.col("middle_norm_na")))


def normalize_text_inline(col):
    """normalize_text for nested lambda contexts (no UDF re-entry —
    ASCII-normalization column expression; full unicode folding of nested
    array elements would need the UDF per element, which Spark lambdas
    can't nest — bibliographic author names in the parity fixtures are
    ASCII after the reference's own normalization)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-zA-Z\s]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.coalesce(c, F.lit(""))


def _join_name_counts(sig: DataFrame, name_counts: DataFrame) -> DataFrame:
    """name_counts(kind, key, count) with kind in
    {first, last, first_last, last_first_initial} — broadcast-joined
    (reference loads 4 corpus-frequency dicts, data.py:451-472)."""
    def lookup(kind, key_col, out):
        tbl = name_counts.where(F.col("kind") == kind).select(
            F.col("key").alias(f"_k_{out}"), F.col("count").alias(out)
        )
        return tbl

    first_last = F.trim(F.concat_ws(" ", F.col("first_norm"), F.col("last_norm")))
    lfi = F.trim(
        F.concat_ws(
            " ",
            F.col("last_norm"),
            F.when(F.length("first_norm") > 0, F.col("first_norm")).otherwise(F.lit("")),
        )
    )
    sig = (
        sig.withColumn("_k_c_first", F.col("first_norm"))
        .withColumn("_k_c_last", F.col("last_norm"))
        .withColumn("_k_c_first_last", first_last)
        .withColumn("_k_c_lfi", lfi)
    )
    for kind, keycol, out in [
        ("first", "_k_c_first", "c_first"),
        ("last", "_k_c_last", "c_last"),
        ("first_last", "_k_c_first_last", "c_first_last"),
        ("last_first_initial", "_k_c_lfi", "c_lfi"),
    ]:
        tbl = lookup(kind, keycol, out)
        sig = sig.join(
            F.broadcast(tbl), sig[keycol] == tbl[f"_k_{out}"], "left"
        ).drop(f"_k_{out}")
    gate = F.length("first_norm") > 1
    sig = sig.withColumn(
        "name_counts",
        F.struct(
            F.when(gate, F.coalesce("c_first", F.lit(1))).cast("long").alias("first"),
            F.when(gate, F.coalesce("c_first_last", F.lit(1)))
            .cast("long")
            .alias("first_last"),
            F.coalesce("c_last", F.lit(1)).cast("long").alias("last"),
            F.coalesce("c_lfi", F.lit(1)).cast("long").alias("last_first_initial"),
        ),
    )
    return sig.drop("c_first", "c_last", "c_first_last", "c_lfi",
                    "_k_c_first", "_k_c_last", "_k_c_first_last", "_k_c_lfi")


def preprocess_papers(
    papers: DataFrame, languages: DataFrame | None = None
) -> DataFrame:
    """Paper-level derived columns (reference preprocess_paper_1/2,
    data.py:1704-1790): normalized title/venue/journal + word/char
    n-grams; reference_details n-gram bags aggregated over the CONCATENATED
    referenced papers' strings; language struct (from ``languages`` table
    or the textstats heuristic)."""
    from ent_res_feedback_spark.operators.textstats import language_id

    base = papers.select(
        "paper_id",
        normalize_text(F.col("title")).alias("title_norm"),
        normalize_text(F.col("venue")).alias("venue_norm"),
        normalize_text(F.col("journal_name")).alias("journal_norm"),
        F.col("abstract").isNotNull().alias("has_abstract"),
        F.col("year"),
        F.col("references"),
        F.transform(
            F.coalesce(
                F.col("authors"),
                F.array().cast("array<struct<position:int,author_name:string>>"),
            ),
            lambda a: normalize_text_inline(a["author_name"]),
        ).alias("author_names"),
    )
    if languages is not None:
        base = base.join(languages, "paper_id", "left")
    else:
        base = base.withColumn("language", language_id(F.col("title_norm")))

    base = base.select(
        "*",
        word_ngrams(F.col("title_norm")).alias("title_ngrams_words"),
        char_ngrams(F.col("title_norm")).alias("title_ngrams_chars"),
        char_ngrams(F.col("venue_norm"), stopwords=VENUE_STOP_WORDS).alias(
            "venue_ngrams"
        ),
        char_ngrams(F.col("journal_norm"), stopwords=VENUE_STOP_WORDS).alias(
            "journal_ngrams"
        ),
    )

    # reference_details (data.py:1752-1790): concatenate referenced papers'
    # author names / titles / venues+journals, then ONE n-gram bag each
    refs = base.select("paper_id", F.explode_outer("references").alias("ref_id"))
    mini = base.select(
        F.col("paper_id").alias("ref_id"),
        F.col("title_norm").alias("r_title"),
        F.col("venue_norm").alias("r_venue"),
        F.col("journal_norm").alias("r_journal"),
        F.col("author_names").alias("r_authors"),
    )
    joined = refs.join(mini, "ref_id", "left")
    agg = joined.groupBy("paper_id").agg(
        F.concat_ws(" ", F.flatten(F.collect_list("r_authors"))).alias("_ref_names"),
        F.concat_ws(" ", F.collect_list("r_title")).alias("_ref_titles"),
        F.concat_ws(" ", F.collect_list("r_venue")).alias("_ref_venues"),
        F.concat_ws(" ", F.collect_list("r_journal")).alias("_ref_journals"),
        F.flatten(F.collect_list("r_authors")).alias("_ref_author_list"),
    )
    venues_plus = F.when(
        F.col("_ref_venues") == F.col("_ref_journals"), F.col("_ref_venues")
    ).otherwise(F.concat_ws(" ", F.col("_ref_venues"), F.col("_ref_journals")))
    agg = agg.select(
        "paper_id",
        char_ngrams(F.trim(F.col("_ref_names")), stopwords=None).alias(
            "ref_authors_ngrams"
        ),
        char_ngrams(F.col("_ref_titles")).alias("ref_titles_ngrams"),
        char_ngrams(venues_plus, stopwords=VENUE_STOP_WORDS).alias(
            "ref_venues_ngrams"
        ),
        _counts_map(
            F.transform(F.col("_ref_author_list"), compute_block_key)
        ).alias("ref_blocks_counter"),
    )
    return base.join(agg, "paper_id", "left")


def _counts_map(arr):
    """array<string> -> map<string,int> with multiplicities (Counter).

    Both the input array and its distinct view are let-bound
    (``expr.let``): the per-distinct-element count filters the full
    array, so an unbound input (here: a compute_block_key transform,
    i.e. a normalize chain per element) was re-normalized once per
    distinct value — O(d * n) regexp passes per row (round-6; values
    unchanged)."""
    def of_arr(a):
        def of_distinct(d):
            return F.map_from_arrays(
                d,
                F.transform(
                    d, lambda x: F.size(F.filter(a, lambda y: y == x))
                ),
            )

        return let(F.array_distinct(a), of_distinct)

    return let(arr, of_arr)


# ---------------------------------------------------------------------------
# the 39 pair features
# ---------------------------------------------------------------------------

def pair_features_39(pairs: DataFrame) -> DataFrame:
    """Adds the 39 named feature columns to a pair frame whose sides are
    preprocessed signature+paper columns suffixed _1/_2 (build with
    operators.pairs.within_block_pairs over the joined sig⋈paper frame).
    Mirrors reference _single_pair_featurize (featurizer.py:301-517);
    missing values are NULL (reference: NaN)."""
    c = F.col

    email_both = (
        c("email_1").isNotNull() & (F.length("email_1") > 0)
        & c("email_2").isNotNull() & (F.length("email_2") > 0)
    )

    def email_part(col_name, part):
        e = c(col_name)
        e = F.when(e.contains("@"), e).otherwise(F.concat(e, F.lit("@MISSING")))
        sp = F.split(e, "@")
        if part == "prefix":
            return F.concat_ws(
                "", F.slice(sp, 1, F.size(sp) - 1)
            )
        return F.element_at(sp, -1)

    eng_or_unk = lambda side: F.when(  # noqa: E731
        c(f"language_{side}")["lang"].isin("en", "un"), 1
    ).otherwise(0)
    english_count = eng_or_unk(1) + eng_or_unk(2)

    year_ok = lambda side: F.when(  # noqa: E731
        c(f"year_{side}").isNotNull() & (c(f"year_{side}") > 0), c(f"year_{side}")
    )

    out = pairs.select(
        "*",
        # name similarity (0-5)
        equal(c("first_norm_na_1"), c("first_norm_na_2")).cast("double").alias(
            "first_names_equal"
        ),
        counter_jaccard(c("middle_initials_1"), c("middle_initials_2")).alias(
            "middle_initials_overlap"
        ),
        equal_middle(c("middle_norm_na_1"), c("middle_norm_na_2"))
        .cast("double")
        .alias("middle_names_equal"),
        (
            ((F.length("middle_norm_na_1") == 0) & (F.length("middle_norm_na_2") != 0))
            | ((F.length("middle_norm_na_2") == 0) & (F.length("middle_norm_na_1") != 0))
        ).cast("double").alias("middle_one_missing"),
        ((F.length("first_norm_na_1") == 1) | (F.length("first_norm_na_2") == 1))
        .cast("double")
        .alias("single_char_first"),
        (
            F.exists(F.split(c("middle_norm_na_1"), " "), lambda t: F.length(t) == 1)
            | F.exists(F.split(c("middle_norm_na_2"), " "), lambda t: F.length(t) == 1)
        ).cast("double").alias("single_char_middle"),
        # affiliation (6)
        counter_jaccard(c("affiliation_ngrams_1"), c("affiliation_ngrams_2")).alias(
            "affiliation_overlap"
        ),
        # email (7-8)
        F.when(
            email_both,
            (email_part("email_1", "prefix") == email_part("email_2", "prefix"))
            .cast("double"),
        ).alias("email_prefix_equal"),
        F.when(
            email_both,
            (email_part("email_1", "suffix") == email_part("email_2", "suffix"))
            .cast("double"),
        ).alias("email_suffix_equal"),
        # coauthors (9-11)
        set_jaccard(c("coauthor_blocks_1"), c("coauthor_blocks_2")).alias(
            "coauthor_overlap"
        ),
        counter_jaccard(
            c("coauthor_ngrams_1"), c("coauthor_ngrams_2"), denominator_max=5000
        ).alias("coauthor_similarity"),
        set_jaccard(c("coauthors_1"), c("coauthors_2")).alias("coauthor_match"),
        # venue (12)
        counter_jaccard(c("venue_ngrams_1"), c("venue_ngrams_2")).alias(
            "venue_overlap"
        ),
        # year (13)
        abs_diff(year_ok(1), year_ok(2), cap=50).alias("year_diff"),
        # title (14-15)
        counter_jaccard(c("title_ngrams_words_1"), c("title_ngrams_words_2")).alias(
            "title_overlap_words"
        ),
        counter_jaccard(c("title_ngrams_chars_1"), c("title_ngrams_chars_2")).alias(
            "title_overlap_chars"
        ),
        # references (16-21)
        counter_jaccard(
            c("ref_authors_ngrams_1"), c("ref_authors_ngrams_2"), denominator_max=5000
        ).alias("references_authors_overlap"),
        counter_jaccard(c("ref_titles_ngrams_1"), c("ref_titles_ngrams_2")).alias(
            "references_titles_overlap"
        ),
        counter_jaccard(c("ref_venues_ngrams_1"), c("ref_venues_ngrams_2")).alias(
            "references_venues_overlap"
        ),
        counter_jaccard(c("ref_blocks_counter_1"), c("ref_blocks_counter_2")).alias(
            "references_author_blocks_jaccard"
        ),
        (
            F.array_contains(
                F.coalesce(c("references_1"), F.array().cast("array<long>")),
                c("paper_id_2"),
            )
            | F.array_contains(
                F.coalesce(c("references_2"), F.array().cast("array<long>")),
                c("paper_id_1"),
            )
        ).cast("double").alias("references_self_citation"),
        set_jaccard(
            F.coalesce(c("references_1"), F.array().cast("array<long>")).cast(
                "array<string>"
            ),
            F.coalesce(c("references_2"), F.array().cast("array<long>")).cast(
                "array<string>"
            ),
        ).alias("references_overlap"),
        # misc (22-26)
        abs_diff(c("position_1"), c("position_2"), cap=50).alias("position_diff"),
        (c("has_abstract_1").cast("int") + c("has_abstract_2").cast("int"))
        .cast("double")
        .alias("abstract_count"),
        english_count.cast("double").alias("english_count"),
        (c("language_1")["lang"] == c("language_2")["lang"]).cast("double").alias(
            "same_language"
        ),
        (
            c("language_1")["is_reliable"].cast("int")
            + c("language_2")["is_reliable"].cast("int")
        ).cast("double").alias("language_reliability_count"),
        # name counts (27-32)
        *[
            col.cast("double")
            for col in name_counts_min_max(c("name_counts_1"), c("name_counts_2"))
        ],
        # specter (33): cosine+1 gated on both sides english-or-unknown
        specter_sim(
            c("embedding_1"), c("embedding_2"), english_gate=(english_count == 2)
        ).alias("specter_cosine_sim"),
        # journal (34)
        counter_jaccard(c("journal_ngrams_1"), c("journal_ngrams_2")).alias(
            "journal_overlap"
        ),
        # advanced name similarity (35-38)
        *name_text_features(c("first_norm_na_1"), c("first_norm_na_2")),
    )
    return out


def feature_vector_39(pairs_with_features: DataFrame, out: str = "features") -> DataFrame:
    """Assemble the canonical 39-element array column (FE2 ordering)."""
    return pairs_with_features.withColumn(
        out, F.array(*[F.col(n) for n in FEATURE_NAMES_39])
    )


# ---------------------------------------------------------------------------
# FE4 / M2 / M3 — nameless feature view + classifier blend
# ---------------------------------------------------------------------------

#: reference featurizer.py:117-124: the nameless featurizer drops the
#: name_similarity [0-5], name_counts [27-32] and advanced_name_similarity
#: [35-38] groups; everything else stays, in order.
_NAME_GROUP_INDICES = frozenset(
    list(range(0, 6)) + list(range(27, 33)) + list(range(35, 39))
)
NAMELESS_FEATURE_NAMES = [
    n for i, n in enumerate(FEATURE_NAMES_39) if i not in _NAME_GROUP_INDICES
]


def nameless_feature_view(
    pairs_with_features: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """FE4 — the name-free projection the nameless classifier consumes
    (reference many_pairs_featurize nameless_indices_to_use,
    featurizer.py:637-641 + 696-698)."""
    keys = keys or ["doc_id_1", "doc_id_2"]
    return pairs_with_features.select(*keys, *NAMELESS_FEATURE_NAMES)


def blended_score_col(main_score, nameless_score):
    """M2/M3 — the production blend: the plain average of the main and
    nameless classifier outputs (reference model.py:286-296:
    (clf.predict_proba + nameless_clf.predict_proba) / 2)."""
    return (main_score + nameless_score) / F.lit(2.0)


def score_pairs_blended(
    features_df: DataFrame,
    weights_main: dict,
    weights_nameless: dict,
    out: str = "score",
) -> DataFrame:
    """Attach the blended match score: logistic(main features) averaged
    with logistic(nameless features), both as pure column expressions."""
    from ent_res_feedback_spark.operators.scoring import logistic_score_col

    main = logistic_score_col(
        weights_main, [c for c in weights_main if c != "bias"]
    )
    nameless = logistic_score_col(
        weights_nameless, [c for c in weights_nameless if c != "bias"]
    )
    return features_df.withColumn(out, blended_score_col(main, nameless))
