"""Dedup operators vs brute-force Python oracles on small corpora."""

import itertools
import random

from ent_res_feedback_spark.operators import dedup


def _mkdocs(spark, seed=3, n=80, vocab=20, dup_rate=0.3):
    rng = random.Random(seed)
    # alphabetic vocab: the dedup operators fingerprint NORMALIZED text
    # (digits fold away), so tokens must survive normalization unchanged
    words = ["".join(chr(ord("a") + int(c)) for c in str(i)) + "x" for i in range(vocab)]
    rows = []
    texts = []
    for i in range(n):
        if texts and rng.random() < dup_rate:
            base = rng.choice(texts)
            if rng.random() < 0.5:
                text = base  # exact dup
            else:  # near dup: drop/append one word
                toks = base.split()
                if rng.random() < 0.5 and len(toks) > 3:
                    toks = toks[:-1]
                else:
                    toks = toks + [rng.choice(words)]
                text = " ".join(toks)
        else:
            text = " ".join(rng.choice(words) for _ in range(rng.randint(6, 14)))
        texts.append(text)
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def test_exact_duplicates_match_bruteforce(spark):
    df, rows = _mkdocs(spark)
    got = {
        (r["fingerprint"], r["survivor_id"], r["group_size"])
        for r in dedup.exact_duplicates(df).collect()
    }
    groups = {}
    for i, t in rows:
        groups.setdefault(t, []).append(i)
    want_groups = {tuple(sorted(v)) for v in groups.values() if len(v) > 1}
    got_groups = {(sid, size) for _, sid, size in got}
    assert {(g[0], len(g)) for g in want_groups} == got_groups


def _shingle_set(text, n=3):
    toks = [t for t in text.split() if t]
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)}


def test_minhash_lsh_finds_exact_dups_and_verifies(spark):
    df, rows = _mkdocs(spark, n=60)
    out = dedup.minhash_lsh_duplicates(df, verify_threshold=0.999).collect()
    got = {(r["doc_id_1"], r["doc_id_2"]) for r in out}
    # exact dups MUST collide in every band -> all exact-dup pairs found
    groups = {}
    for i, t in rows:
        groups.setdefault(t, []).append(i)
    want = set()
    for v in groups.values():
        for a, b in itertools.combinations(sorted(v), 2):
            want.add((a, b))
    assert want <= got
    # and everything returned really passes the verify threshold
    # (verification jaccard is over word 3-gram shingle sets)
    text_of = dict(rows)
    for a, b in got:
        s1, s2 = _shingle_set(text_of[a]), _shingle_set(text_of[b])
        assert len(s1 & s2) / len(s1 | s2) >= 0.999

