"""Deterministic synthetic corpus of interleaved text+media documents.

Shape per BASELINE.json ``input_hint``:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

One document = one entity mention (the analog of a reference *signature*,
s2and/data.py:54-83). Span convention (this engine's document model):

    offset 0 : kind='text'  — the name-bearing span
    offset 1 : kind='text'  — affiliation-like context
    offset 2+: interleaved kind='media' spans (opaque media_ref) and
               kind='text' title/context spans

Noise patterns mirror the reference dummy fixture
(/root/reference/tests/dummy/signatures.json; FIXTURES.md §1): apostrophes
and honorifics ("Dr A'bdul" vs "Abdul"), initial-only first names, shared
last names across entities (homonyms), spelling variants of one entity
(synonyms), missing middles/affiliations. One HOT blocking key gets >=10x
the median block population so skew handling is actually exercised.

Gold outputs: ``gold(doc_id, cluster_id)`` and
``labeled_pairs(doc_id_1, doc_id_2, label, block_key)`` — the claims-eval
shape (s2and/eval.py:871-931).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

FIRST_NAMES = [
    "alan", "alice", "andrei", "anna", "amir", "ahmed", "adrian", "aisha",
    "amelia", "anton", "arthur", "abram", "boris", "carol", "chen", "david",
    "elena", "fatima", "george", "hiro", "irene", "jose", "kavya", "liang",
    "maria", "nikolai", "omar", "priya", "qing", "rahul", "sara", "tomas",
    "uma", "viktor", "wei", "xin", "yuki", "zara",
]
MIDDLE_NAMES = ["", "", "", "b", "c", "de", "maria", "jean", "k", "lee", "von"]
LAST_NAMES = [
    "smith", "muller", "sato", "kumar", "garcia", "chen", "ivanov",
    "kowalski", "okafor", "haddad", "nguyen", "silva", "oconnor", "abdul",
    "tanaka", "rossi", "dubois", "larsen", "novak", "petrov",
]
LAST_NAME_SUFFIXES = ["son", "sen", "ov", "ini", "escu", "berg", "feld", "mann"]
AFFIL_DEPTS = [
    "computer", "physics", "mathematics", "biology", "chemistry",
    "statistics", "linguistics", "economics", "neuroscience", "astronomy",
    "geology", "robotics", "genomics", "materials", "oceanography", "ecology",
]
AFFIL_KINDS = ["science", "engineering", "studies", "systems", "theory",
               "methods", "informatics", "analytics"]
AFFIL_CODES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
               "theta", "iota", "kappa"]
TITLE_WORDS = [
    "learning", "systems", "networks", "analysis", "clustering", "models",
    "inference", "graphs", "optimization", "retrieval", "resolution",
    "entities", "records", "linkage", "scalable", "distributed",
]


@dataclass
class CorpusConfig:
    n_entities: int = 60
    max_docs_per_entity: int = 6
    seed: int = 42
    hot_block_entities: int = 12  # entities stacked into ONE hot block
    hot_block_boost: int = 4      # extra doc multiplier inside the hot block
    media_spans_per_doc: int = 2
    emit_labeled_pairs: bool = True  # False skips the O(sum block^2) driver
    # loop — benchmark corpora only need the documents


def _variant_first(rng: random.Random, first: str) -> str:
    """Synonym noise for first names (same entity, different surface)."""
    roll = rng.random()
    if roll < 0.20:
        return first[0]  # initial only
    if roll < 0.30 and len(first) > 3:
        return first[0] + "'" + first[1:]  # apostrophe variant
    if roll < 0.40:
        return "Dr " + first  # honorific, stripped by the mention extractor
    return first


def generate_corpus(config: CorpusConfig | None = None):
    """Returns (documents, gold, labeled_pairs) as lists of plain dicts /
    tuples, ready for ``spark.createDataFrame`` or the DuckDB oracle.

    documents: [{doc_id, spans:[(kind,text,media_ref,offset), ...]}]
    gold:      [(doc_id, cluster_id)]
    """
    cfg = config or CorpusConfig()
    rng = random.Random(cfg.seed)

    entities = []
    hot_last = LAST_NAMES[0]
    hot_first_initial = FIRST_NAMES[0][0]
    hot_pool = [f for f in FIRST_NAMES if f[0] == hot_first_initial]
    rng.shuffle(hot_pool)
    used_names: set[tuple[str, str]] = set()
    for e in range(cfg.n_entities):
        if e < cfg.hot_block_entities:
            # homonyms share the BLOCK (first initial + last name) but not
            # the full first name (reference dummy fixture pattern:
            # ahmed/amir sattar in block "a sattar")
            first = hot_pool[e % len(hot_pool)]
            last = hot_last
        else:
            # unique (first, last) per entity; the base pool is ~700 combos,
            # so large corpora extend the surname space with deterministic
            # suffixes (alphabetic — they must survive normalization)
            for attempt in range(1000):
                first = rng.choice(FIRST_NAMES)
                last = rng.choice(LAST_NAMES[1:])
                if attempt >= 20:
                    last = last + rng.choice(LAST_NAME_SUFFIXES)
                if attempt >= 200:
                    last = last + rng.choice(LAST_NAME_SUFFIXES) + rng.choice(
                        LAST_NAME_SUFFIXES
                    )
                if (first, last) not in used_names:
                    break
            else:
                raise ValueError(
                    f"could not find a unique name for entity {e}; "
                    "name space exhausted"
                )
        used_names.add((first, last))
        middle = rng.choice(MIDDLE_NAMES)
        # 3-token affiliation: 1280 combos -> cross-entity collisions are
        # rare even inside the hot block, so affiliation can separate
        # same-name homonyms (the scorer's homonym defense)
        affil = " ".join(
            [rng.choice(AFFIL_DEPTS), rng.choice(AFFIL_KINDS), rng.choice(AFFIL_CODES)]
        )
        entities.append(
            {"eid": e, "first": first, "middle": middle, "last": last, "affil": affil}
        )

    documents = []
    gold = []
    doc_seq = 0
    for ent in entities:
        n_docs = rng.randint(1, cfg.max_docs_per_entity)
        if ent["eid"] < cfg.hot_block_entities:
            n_docs *= cfg.hot_block_boost
        for _ in range(n_docs):
            doc_id = f"d{doc_seq:06d}"
            doc_seq += 1
            first = _variant_first(rng, ent["first"])
            middle = ent["middle"] if rng.random() > 0.3 else ""
            name = " ".join(p for p in [first, middle, ent["last"]] if p)
            affil = ent["affil"] if rng.random() > 0.1 else ""
            title = " ".join(rng.sample(TITLE_WORDS, 4))
            spans = [
                ("text", name, None, 0),
                ("text", affil, None, 1),
            ]
            off = 2
            for m in range(cfg.media_spans_per_doc):
                spans.append(("media", None, f"media://{doc_id}/{m}", off))
                off += 1
                if m == 0:
                    spans.append(("text", title, None, off))
                    off += 1
            documents.append({"doc_id": doc_id, "spans": spans})
            gold.append((doc_id, f"e{ent['eid']}"))

    if not cfg.emit_labeled_pairs:
        return documents, gold, []

    # labeled pairs: all within-block pairs under the reference blocking key
    # (first-initial + last name on the normalized, honorific-stripped name)
    from ent_res_feedback_spark.oracle import extract_mention_py

    by_block: dict[str, list[str]] = {}
    gold_map = dict(gold)
    for d in documents:
        by_block.setdefault(extract_mention_py(d)["block"], []).append(d["doc_id"])
    labeled_pairs = []
    for bk, ids in sorted(by_block.items()):
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                labeled_pairs.append(
                    (
                        ids[i],
                        ids[j],
                        int(gold_map[ids[i]] == gold_map[ids[j]]),
                        bk,
                    )
                )
    return documents, gold, labeled_pairs


DOCUMENTS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def corpus_to_spark(spark, documents):
    rows = [(d["doc_id"], d["spans"]) for d in documents]
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


# ---------------------------------------------------------------------------
# Distributed generator: same document structure, synthesized entirely in
# Spark (hash-seeded pseudo-randomness — deterministic, no rand()). This is
# the scale path: the Python generator above tops out around 10^6 docs;
# this one generates 10^9+ docs as a narrow pipeline and is what the
# scaling benchmark uses.
# ---------------------------------------------------------------------------

def spark_corpus(
    spark,
    n_entities: int,
    hot_block_entities: int = 12,
    hot_block_boost: int = 4,
    seed: int = 42,
):
    """documents(doc_id, spans) + gold(doc_id, cluster_id), generated
    distributively. Entity attributes and per-doc noise derive from
    xxhash64(eid/doc, tag, seed) — fully deterministic and partition-
    independent. Surname space = base x suffix x suffix (~1200 names), so
    block density stays realistic as n_entities grows; the first
    ``hot_block_entities`` entities are forced into ONE hot block with a
    ``hot_block_boost`` document multiplier (skew realism). Each entity
    has 1-10 docs (times the boost); a doc's first name is an initial
    with 25% chance, else "Dr "-prefixed with 10%, and 10% of docs have
    no affiliation."""
    from pyspark.sql import functions as F

    def arr(values):
        return F.array(*[F.lit(v) for v in values])

    def pick(values, col, tag):
        h = F.pmod(F.xxhash64(col, F.lit(seed), F.lit(tag)), F.lit(len(values)))
        return F.element_at(arr(values), h.cast("int") + 1)

    ent = spark.range(n_entities).withColumnRenamed("id", "eid")
    is_hot = F.col("eid") < hot_block_entities
    hot_firsts = [f for f in FIRST_NAMES if f[0] == FIRST_NAMES[0][0]]

    first = F.when(is_hot, pick(hot_firsts, F.col("eid"), "hf")).otherwise(
        pick(FIRST_NAMES, F.col("eid"), "f")
    )
    last = F.when(is_hot, F.lit(LAST_NAMES[0])).otherwise(
        F.concat(
            pick(LAST_NAMES[1:], F.col("eid"), "l"),
            pick(LAST_NAME_SUFFIXES, F.col("eid"), "ls1"),
            pick(LAST_NAME_SUFFIXES, F.col("eid"), "ls2"),
        )
    )
    middle = pick(MIDDLE_NAMES, F.col("eid"), "m")
    affil = F.concat_ws(
        " ",
        pick(AFFIL_DEPTS, F.col("eid"), "a1"),
        pick(AFFIL_KINDS, F.col("eid"), "a2"),
        pick(AFFIL_CODES, F.col("eid"), "a3"),
    )
    n_docs = (
        F.pmod(F.xxhash64(F.col("eid"), F.lit(seed), F.lit("n")), F.lit(10))
        .cast("int")
        + 1
    ) * F.when(is_hot, F.lit(hot_block_boost)).otherwise(F.lit(1))

    ent = ent.select(
        "eid",
        first.alias("first"),
        last.alias("last"),
        middle.alias("middle"),
        affil.alias("affil"),
        n_docs.alias("n_docs"),
    )

    docs = ent.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("n_docs") - 1)).alias("k")
    )
    doc_key = F.xxhash64(F.col("eid"), F.col("k"), F.lit(seed))
    roll = lambda tag: F.pmod(  # noqa: E731
        F.xxhash64(F.col("eid"), F.col("k"), F.lit(seed), F.lit(tag)), F.lit(100)
    )
    first_v = (
        F.when(roll("iv") < 25, F.substring("first", 1, 1))
        .when(roll("hv") < 10, F.concat(F.lit("Dr "), F.col("first")))
        .otherwise(F.col("first"))
    )
    middle_v = F.when(roll("mv") < 30, F.lit("")).otherwise(F.col("middle"))
    affil_v = F.when(roll("av") < 10, F.lit("")).otherwise(F.col("affil"))
    name = F.trim(
        F.regexp_replace(
            F.concat_ws(" ", first_v, middle_v, F.col("last")), r"\s+", " "
        )
    )
    title = F.concat_ws(
        " ",
        *[pick(TITLE_WORDS, doc_key + F.lit(i), f"t{i}") for i in range(4)],
    )
    doc_id = F.format_string(
        "d%012d", F.col("eid") * (10 * hot_block_boost) + F.col("k")
    )
    span = lambda kind, text, ref, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"),
        (text if text is not None else F.lit(None).cast("string")).alias("text"),
        (ref if ref is not None else F.lit(None).cast("string")).alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    out = docs.select(
        doc_id.alias("doc_id"),
        F.array(
            span("text", name, None, 0),
            span("text", affil_v, None, 1),
            span("media", None, F.concat(F.lit("media://"), doc_id, F.lit("/0")), 2),
            span("text", title, None, 3),
            span("media", None, F.concat(F.lit("media://"), doc_id, F.lit("/1")), 4),
        ).alias("spans"),
        F.concat(F.lit("e"), F.col("eid").cast("string")).alias("_gold_entity"),
    )
    gold = out.select("doc_id", F.col("_gold_entity").alias("cluster_id"))
    return out.drop("_gold_entity"), gold
