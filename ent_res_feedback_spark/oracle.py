"""Pure-Python reference-semantics oracle (no Spark).

A mini-implementation of the reference pipeline semantics — normalize ->
block (first-initial+last-name, s2and/text.py:632-653) -> within-block
pairs -> name features (jellyfish-equivalent kernels shared with
functions/strdist.py) -> constraint chain (data.py:776-891 subset) ->
logistic score -> threshold -> union-find transitive closure. The parity
tests (tests/test_pipeline_e2e.py) compare the Spark pipeline's labeled-
pair co-membership decisions against this oracle: pairwise F1 >= 0.99 is
the acceptance gate (BASELINE.json).
"""

from __future__ import annotations

import math
import re
import unicodedata

from ent_res_feedback_spark.functions.strdist import (
    jaro_winkler_similarity,
    prefix_dist_kernel,
)

_NON_ALPHA = re.compile(r"[^a-zA-Z\s]+")
_WS = re.compile(r"\s+")

_FOLD_MAP = str.maketrans({
    "ß": "ss", "ø": "o", "æ": "ae", "œ": "oe", "đ": "d", "ð": "d",
    "þ": "th", "ł": "l", "ħ": "h", "ı": "i",
})


def normalize_name_py(text: str | None, special_case_apostrophes: bool = False) -> str:
    """Mirrors functions.text.normalize_text (reference s2and/text.py:312-338)."""
    if not text:
        return ""
    s = text.translate(_FOLD_MAP)
    s = unicodedata.normalize("NFKD", s).encode("ascii", "ignore").decode("ascii")
    s = s.lower()
    if special_case_apostrophes:
        s = s.replace("'", "")
    s = _NON_ALPHA.sub(" ", s)
    return _WS.sub(" ", s).strip()


def block_key_py(name: str) -> str:
    """Mirrors functions.text.compute_block_key (reference text.py:632-653)."""
    if len(name) == 0:
        return ""
    parts = name.split(" ")
    if len(parts) == 1:
        return parts[0]
    return parts[0][0] + " " + parts[-1]


def split_name(norm_name: str) -> tuple[str, str, str]:
    """(first, middle, last) from a normalized full name."""
    parts = norm_name.split(" ")
    if len(parts) == 0 or norm_name == "":
        return "", "", ""
    if len(parts) == 1:
        return parts[0], "", ""
    return parts[0], " ".join(parts[1:-1]), parts[-1]


def levenshtein_py(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# ---------------------------------------------------------------------------
# Pair features + constraint + score (the oracle's scoring semantics)
# ---------------------------------------------------------------------------

#: Logistic fusion weights for the match score over
#: [jaro_winkler(first), 1 - lev_norm(first), 1 - prefix_dist(first),
#:  middle_compatible, affil_jaccard (0.5 when missing)] + bias.
#: Deliberately simple and strongly separable on name evidence; the SAME
#: weights are broadcast into the Spark scorer so Spark-vs-oracle parity
#: isolates the distributed plumbing, not the model.
#: Calibration (tau = 0.5 ⟺ z >= 0):
#:   all-neutral evidence (initial-only first, missing affil)  z = -0.8  NO
#:   full name match + affil match                             z = +3.7  YES
#:   full name match + affil missing                           z = +1.2  YES
#:   full name match + affil MISmatch (homonym!)               z = -1.3  NO
#:   initial-only + affil match                                z = +1.7  YES
#: i.e. saturated name similarity alone cannot merge across a clear
#: affiliation mismatch — the homonym defense the reference learns via
#: LightGBM over coauthor/venue/reference features.
DEFAULT_WEIGHTS = {
    "jw_first": 2.0,
    "lev_first": 1.0,
    "prefix_first": 1.0,
    "middle_compat": 1.0,  # always 1.0 post-constraint (conflicts are
    # disallowed upstream); kept for API parity, folds into the bias
    "affil_jaccard": 5.0,
    "bias": -6.3,
}

DEFAULT_TAU = 0.5
LARGE_DISTANCE = 1e4  # reference s2and/consts.py CLUSTER_SEEDS_LOOKUP['disallow']


def middle_compatible_py(m1: str, m2: str) -> float:
    """1.0 if middles don't conflict (subset of the reference middle rule,
    data.py:866-890): empty middles are compatible; initials must overlap."""
    t1 = [w for w in m1.split() if w]
    t2 = [w for w in m2.split() if w]
    if not t1 or not t2:
        return 1.0
    i1 = {w[0] for w in t1}
    i2 = {w[0] for w in t2}
    return 1.0 if i1 & i2 else 0.0


def name_features_py(
    first_1: str, first_2: str, middle_1: str, middle_2: str,
    affil_1: str, affil_2: str,
) -> dict:
    f: dict[str, float] = {}
    if len(first_1) > 1 and len(first_2) > 1:
        f["jw_first"] = jaro_winkler_similarity(first_1, first_2)
        f["lev_first"] = 1.0 - levenshtein_py(first_1, first_2) / max(
            len(first_1), len(first_2)
        )
        f["prefix_first"] = 1.0 - prefix_dist_kernel(first_1, first_2)
    else:
        # initial-only first names carry no string-distance evidence;
        # neutral 0.5 (the Spark scorer fills NULL -> 0.5 identically)
        f["jw_first"] = f["lev_first"] = f["prefix_first"] = 0.5
    f["middle_compat"] = middle_compatible_py(middle_1, middle_2)
    t1 = {w for w in affil_1.split() if w}
    t2 = {w for w in affil_2.split() if w}
    f["affil_jaccard"] = (len(t1 & t2) / len(t1 | t2)) if t1 and t2 else 0.5
    return f


def constraint_py(first_1: str, first_2: str, last_1: str, last_2: str,
                  middle_1: str, middle_2: str) -> float | None:
    """Subset of the reference constraint chain (data.py:776-891) that is
    derivable from the documents table: last-name mismatch -> disallow,
    first-initial mismatch -> disallow, non-prefix first names -> disallow,
    conflicting middle initials -> disallow. Returns LARGE_DISTANCE or
    None (no constraint)."""
    if last_1 != last_2:
        return LARGE_DISTANCE
    if first_1 and first_2 and first_1[0] != first_2[0]:
        return LARGE_DISTANCE
    if first_1 and first_2:
        prefix = first_1.startswith(first_2) or first_2.startswith(first_1)
        if not prefix:
            return LARGE_DISTANCE
    if middle_compatible_py(middle_1, middle_2) == 0.0:
        return LARGE_DISTANCE
    return None


def logistic_score_py(features: dict, weights: dict = DEFAULT_WEIGHTS) -> float:
    z = weights["bias"] + sum(
        weights[k] * features[k] for k in features if k in weights
    )
    return 1.0 / (1.0 + math.exp(-z))


class UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller id wins under the ids' NATIVE order,
            # matching Spark CC's component=min under the column type's
            # order (str() ordering would diverge for numeric ids: '10'<'9')
            lo, hi = (ra, rb) if ra <= rb else (rb, ra)
            self.parent[hi] = lo


NAME_PREFIXES_PY = {
    "dr", "prof", "professor", "mr", "miss", "mrs", "ms", "mx", "sir",
    "phd", "md", "doctor",
}


def extract_mention_py(doc: dict) -> dict:
    """Mirror of operators/mentions.extract_mentions for one doc dict
    (corpus.py shape): normalize (apostrophe special case), strip leading
    honorifics, split first/middle/last, S2 block key."""
    text_spans = sorted(
        (s for s in doc["spans"] if s[0] == "text"), key=lambda s: s[3]
    )
    if not text_spans:  # media-only document: no match evidence
        return {"first": "", "middle": "", "last": "", "affil": "",
                "block": "", "name": ""}
    name = normalize_name_py(text_spans[0][1], special_case_apostrophes=True)
    affil = normalize_name_py(text_spans[1][1]) if len(text_spans) > 1 else ""
    toks = [t for t in name.split(" ") if t]
    rounds = 0
    while len(toks) > 1 and toks[0] in NAME_PREFIXES_PY and rounds < 2:
        toks = toks[1:]
        rounds += 1
    name = " ".join(toks)
    first, middle, last = split_name(name)
    return {
        "first": first, "middle": middle, "last": last,
        "affil": affil, "block": block_key_py(name), "name": name,
    }


def cluster_documents_py(documents: list[dict], tau: float = DEFAULT_TAU,
                         weights: dict = DEFAULT_WEIGHTS) -> dict[str, str]:
    """Full oracle pipeline: doc dicts (corpus.py shape) -> {doc_id:
    cluster_id} where cluster_id = min doc_id of the transitive cluster."""
    mentions = {d["doc_id"]: extract_mention_py(d) for d in documents}

    by_block: dict[str, list[str]] = {}
    for doc_id, m in mentions.items():
        if m["block"]:  # nameless docs stay singletons (engine parity)
            by_block.setdefault(m["block"], []).append(doc_id)

    uf = UnionFind()
    for ids in by_block.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            uf.find(ids[i])
            for j in range(i + 1, len(ids)):
                m1, m2 = mentions[ids[i]], mentions[ids[j]]
                c = constraint_py(m1["first"], m2["first"], m1["last"],
                                  m2["last"], m1["middle"], m2["middle"])
                if c is not None:
                    continue  # disallow: never an edge
                feats = name_features_py(m1["first"], m2["first"],
                                         m1["middle"], m2["middle"],
                                         m1["affil"], m2["affil"])
                if logistic_score_py(feats, weights) >= tau:
                    uf.union(ids[i], ids[j])
    return {doc_id: uf.find(doc_id) for doc_id in mentions}


def pairwise_f1_py(pred: dict[str, str], gold: dict[str, str],
                   labeled_pairs: list[tuple]) -> dict:
    """Claims-eval shape (reference s2and/eval.py:871-1061): P/R/F1 of
    predicted co-membership vs gold label over the labeled pairs."""
    tp = fp = fn = tn = 0
    for d1, d2, label, _bk in labeled_pairs:
        same = pred.get(d1) == pred.get(d2)
        if label == 1 and same:
            tp += 1
        elif label == 1:
            fn += 1
        elif same:
            fp += 1
        else:
            tn += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "tn": tn,
            "precision": precision, "recall": recall, "f1": f1}
