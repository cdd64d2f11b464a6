"""String-distance kernels: golden values from the reference test suite +
a DuckDB cross-engine property test pinning Jaro-Winkler semantics (this
equivalence is what makes the driver's DuckDB oracle valid for JW
features)."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ent_res_feedback_spark.functions import strdist as S


def test_prefix_dist_golden():
    # reference s2and/text.py:246-254 semantics
    assert S.prefix_dist_kernel("text", "text") == 0.0
    assert S.prefix_dist_kernel("abc", "abd") == pytest.approx(1 - 2 / 3)
    assert S.prefix_dist_kernel("abc", "xyz") == 1.0
    assert S.prefix_dist_kernel("ab", "abcd") == 0.0


def test_jaro_winkler_golden():
    assert S.jaro_winkler_similarity("text", "text") == 1.0
    assert S.jaro_winkler_similarity("martha", "marhta") == pytest.approx(0.9611111111)
    assert S.jaro_winkler_similarity("", "") == 0.0  # duckdb convention


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcdef", max_size=10),
    st.text(alphabet="abcdef", max_size=10),
)
def test_jaro_winkler_matches_duckdb(a, b):
    d = duckdb.sql(
        "select jaro_winkler_similarity(?, ?)", params=[a, b]
    ).fetchone()[0]
    assert S.jaro_winkler_similarity(a, b) == pytest.approx(d, abs=1e-12)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdxyz", max_size=12),
            st.text(alphabet="abcdxyz", max_size=12),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_numpy_kernels_match_scalar(pairs):
    """The vectorized batch kernels must be EXACTLY the scalar semantics
    (which are pinned to DuckDB) — the whole oracle chain hangs on this."""
    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    jw = S._jaro_winkler_numpy(a, b)
    pf = S._prefix_dist_numpy(a, b)
    for i, (x, y) in enumerate(pairs):
        assert jw[i] == pytest.approx(S.jaro_winkler_similarity(x, y), abs=1e-12)
        assert pf[i] == pytest.approx(S.prefix_dist_kernel(x, y), abs=1e-12)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcdef", max_size=12),
    st.text(alphabet="abcdef", max_size=12),
)
def test_levenshtein_kernel_matches_duckdb(a, b):
    # Spark's builtin levenshtein is classic edit distance, same as DuckDB's.
    # Validate our normalization denominator logic on the python side too.
    d = duckdb.sql("select levenshtein(?, ?)", params=[a, b]).fetchone()[0]
    # cross-check via lcs-independent DP
    import numpy as np

    m, n = len(a), len(b)
    dp = np.arange(n + 1)
    for i in range(1, m + 1):
        prev = dp.copy()
        dp[0] = i
        for j in range(1, n + 1):
            dp[j] = min(prev[j] + 1, dp[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
    assert dp[n] == d
