"""String-distance kernels (SURVEY.md §2.2 F6-F7), Arrow-batched.

The reference computes jellyfish Jaro-Winkler / Levenshtein / MetricLCS /
prefix distance per pair in Python workers (s2and/text.py:246-263,
341-371). Here Jaro-Winkler and prefix distance run inside a pandas UDF
over Arrow batches; Levenshtein is 100% JVM-side (``levenshtein_norm``)
via the Spark builtin. Jaro-Winkler semantics are pinned to the standard
definition (prefix weight 0.1, boost threshold 0.7, max prefix 4) and are
bit-identical to DuckDB's ``jaro_winkler_similarity`` (property-tested in
tests/test_strdist.py), which is what makes the DuckDB oracle usable.

The hot path is the WIDTH-BUCKETED NUMPY kernels (``_vectorized_udf``
below): each Arrow batch is grouped by string width and each bucket runs
the whole dynamic program as vectorized numpy array ops over the padded
codepoint matrix; the scalar per-pair Python kernels only catch
over-width outliers (and serve as the property-test referees).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

# ---------------------------------------------------------------------------
# Kernels
# ---------------------------------------------------------------------------

def jaro_similarity(s1: str, s2: str) -> float:
    """Standard Jaro similarity; 0.0 when either string is empty (matches
    DuckDB; jellyfish agrees for non-degenerate inputs)."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - window)
        hi = min(i + window + 1, l2)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions // 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def jaro_winkler_similarity(
    s1: str, s2: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7
) -> float:
    """Jaro-Winkler (reference uses jellyfish.jaro_winkler_similarity,
    s2and/text.py:262)."""
    j = jaro_similarity(s1, s2)
    if j > boost_threshold:
        prefix_len = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix_len += 1
        j += prefix_len * prefix_weight * (1.0 - j)
    return j


def prefix_dist_kernel(s1: str, s2: str) -> float:
    """F6 — reference ``prefix_dist`` (s2and/text.py:246-254):
    1 - longest-common-prefix / min-length."""
    if s1 == s2:
        return 0.0
    if not s1 or not s2:
        return 1.0
    min_len = min(len(s1), len(s2))
    i = 0
    while i < min_len and s1[i] == s2[i]:
        i += 1
    return 1.0 - i / min_len if i else 1.0


# ---------------------------------------------------------------------------
# Arrow-batched column functions
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# numpy-vectorized batch kernels (the north-star "batched Jaro-Winkler ...
# pandas-UDF vectorized, never per-row Python"). Strings become fixed-width
# uint32 codepoint matrices; every step is a vector op across the whole
# Arrow batch. Exactly equal to the scalar kernels (property-tested in
# tests/test_strdist.py), ~40-100x faster, and crucially they keep Python
# CPU per batch far below JVM CPU so executor cores aren't oversubscribed
# by Python workers.
# ---------------------------------------------------------------------------

_MAX_VEC_LEN = 48  # longer strings (rare for names) fall back to scalar


def _to_char_matrix(strs, width, fill):
    """list[str] -> (n, width) uint32 codepoint matrix, padded with
    ``fill`` (use distinct fills per side so padding never matches)."""
    import numpy as np

    n = len(strs)
    arr = np.frombuffer(
        np.array(strs, dtype=f"U{width}").tobytes(), dtype=np.uint32
    ).reshape(n, width).copy()
    arr[arr == 0] = fill
    return arr


def _jaro_winkler_numpy(a_list, b_list):
    """Vectorized Jaro-Winkler over two equal-length string lists."""
    import numpy as np

    n = len(a_list)
    la = np.fromiter((len(s) for s in a_list), dtype=np.int64, count=n)
    lb = np.fromiter((len(s) for s in b_list), dtype=np.int64, count=n)
    W = int(max(la.max(initial=1), lb.max(initial=1), 1))
    A = _to_char_matrix(a_list, W, fill=0xFFFFFFFE)
    B = _to_char_matrix(b_list, W, fill=0xFFFFFFFD)

    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    m1 = np.zeros((n, W), dtype=bool)
    m2 = np.zeros((n, W), dtype=bool)
    js = np.arange(W)
    rows = np.arange(n)
    for i in range(W):
        active = i < la
        lo = np.maximum(0, i - window)
        hi = np.minimum(i + window + 1, lb)
        # first unmatched j in [lo, hi) with B[j] == A[i]: one argmax per row
        cand = (
            (js[None, :] >= lo[:, None])
            & (js[None, :] < hi[:, None])
            & (B == A[:, i][:, None])
            & ~m2
            & active[:, None]
        )
        first_j = np.argmax(cand, axis=1)
        has = cand[rows, first_j]
        m2[rows[has], first_j[has]] = True
        m1[has, i] = True
    matches = m1.sum(axis=1)

    # transpositions: compact matched chars in order on both sides
    order1 = np.argsort(~m1, axis=1, kind="stable")
    order2 = np.argsort(~m2, axis=1, kind="stable")
    a_m = np.take_along_axis(A, order1, axis=1)
    b_m = np.take_along_axis(B, order2, axis=1)
    upto = js[None, :] < matches[:, None]
    t = ((a_m != b_m) & upto).sum(axis=1) // 2

    safe_m = np.maximum(matches, 1)
    safe_la = np.maximum(la, 1)
    safe_lb = np.maximum(lb, 1)
    jaro = (
        matches / safe_la + matches / safe_lb + (matches - t) / safe_m
    ) / 3.0
    jaro = np.where((matches == 0) | (la == 0) | (lb == 0), 0.0, jaro)

    # winkler boost: common prefix up to 4 chars
    prefix = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    for i in range(min(4, W)):
        alive &= (i < la) & (i < lb) & (A[:, i] == B[:, i])
        prefix += alive
    boost = jaro > 0.7
    return np.where(boost, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


def _prefix_dist_numpy(a_list, b_list):
    import numpy as np

    n = len(a_list)
    la = np.fromiter((len(s) for s in a_list), dtype=np.int64, count=n)
    lb = np.fromiter((len(s) for s in b_list), dtype=np.int64, count=n)
    W = int(max(la.max(initial=1), lb.max(initial=1), 1))
    A = _to_char_matrix(a_list, W, fill=0xFFFFFFFE)
    B = _to_char_matrix(b_list, W, fill=0xFFFFFFFD)
    minlen = np.minimum(la, lb)
    alive = np.ones(n, dtype=bool)
    common = np.zeros(n, dtype=np.int64)
    for i in range(W):
        alive &= (i < minlen) & (A[:, i] == B[:, i])
        common += alive
    out = np.where(
        common > 0, 1.0 - common / np.maximum(minlen, 1), 1.0
    )
    equal = (la == lb) & ((A == B) | (js_ge(la, W))).all(axis=1)
    return np.where(equal, 0.0, out)


def js_ge(lengths, W):
    import numpy as np

    return np.arange(W)[None, :] >= lengths[:, None]


def _vectorized_udf(np_kernel, scalar_kernel):
    """pandas UDF: numpy-vectorized path for short strings, scalar
    fallback for oversize rows, NULL propagation."""
    import numpy as np

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        out = np.full(n, np.nan)
        av = a.to_numpy(dtype=object)
        bv = b.to_numpy(dtype=object)
        ok = np.fromiter(
            (
                x is not None and y is not None
                and len(x) <= _MAX_VEC_LEN and len(y) <= _MAX_VEC_LEN
                for x, y in zip(av, bv)
            ),
            dtype=bool,
            count=n,
        )
        idx = np.where(ok)[0]
        if len(idx):
            # width-bucketing: batch cost is O(W * n), so
            # processing short-name rows separately from the occasional
            # long row keeps W small for the bulk of the batch
            widths = np.fromiter(
                (max(len(av[i]), len(bv[i])) for i in idx),
                dtype=np.int64,
                count=len(idx),
            )
            # first bucket is widths >= 0 so both-empty rows (width 0) hit
            # the numpy kernel and return 0.0 like the scalar kernels do,
            # instead of falling through every bucket as NaN
            for bound in (6, 12, _MAX_VEC_LEN):
                sel = idx[(widths <= bound) & (widths > (-1 if bound == 6 else prev))]
                if len(sel):
                    out[sel] = np_kernel([av[i] for i in sel], [bv[i] for i in sel])
                prev = bound
        for i in np.where(~ok)[0]:
            if av[i] is not None and bv[i] is not None:
                out[i] = scalar_kernel(av[i], bv[i])
        return pd.Series(out).astype("float64")

    return _udf


jaro_winkler = _vectorized_udf(_jaro_winkler_numpy, jaro_winkler_similarity)
prefix_dist = _vectorized_udf(_prefix_dist_numpy, prefix_dist_kernel)


def levenshtein_norm(c1: Column, c2: Column) -> Column:
    """F7 'levenshtein' — edit distance normalized by max length
    (reference s2and/text.py:366-370). JVM builtin: stays in codegen."""
    return F.levenshtein(c1, c2) / F.greatest(F.length(c1), F.length(c2))
