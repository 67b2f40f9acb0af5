"""Property tests for the string distances — randomized differential
checks against naive per-pair references, plus metric properties
(identity, symmetry, bounds). The hypothesis tests drive the numpy batch
kernels the scorer's pandas UDF runs, with no Spark session; the
Column-side Levenshtein gets one seeded random batch in one Spark job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparklink.distances import affine_gap, jaro_winkler, levenshtein_distance

# small alphabet forces prefix overlaps, transpositions, and repeats —
# the regimes where DP kernels break; short strings keep the naive
# references O(n^2)-cheap
ALPHABET = "abcz "
WORD = st.text(alphabet=ALPHABET, min_size=0, max_size=12)


def _lev_ref(a: str, b: str) -> float:
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[n] / max(m, n, 1)


def _jaro_ref(a: str, b: str, prefix_scale: float = 0.1) -> float:
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and a[i] == b[j]:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if ma[i]:
            while not mb[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    jaro = (m / la + m / lb + (m - t / 2) / m) / 3
    p = 0
    for x, y in zip(a, b):
        if x != y or p == 4:
            break
        p += 1
    return jaro + p * prefix_scale * (1 - jaro)


def test_levenshtein_matches_naive_dp(spark):
    """The same regime as the hypothesis tests (small alphabet, <= 12
    chars), drawn once from a seeded generator so it costs one Spark job."""
    rng = np.random.default_rng(3)
    word = lambda: "".join(rng.choice(list(ALPHABET), size=int(rng.integers(0, 13))))  # noqa: E731
    pairs = [(word(), word()) for _ in range(1000)]
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, l string, r string")
    got = dict(df.select("i", levenshtein_distance(F.col("l"), F.col("r"))).collect())
    assert [got[i] for i in range(len(pairs))] == [_lev_ref(a, b) for a, b in pairs]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(WORD, WORD), min_size=1, max_size=8))
def test_jaro_winkler_matches_naive(pairs):
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    got = jaro_winkler(a, b)
    # kernel semantics: Winkler boost applied unconditionally (see
    # distances.py docstring — deliberate, matches dedupe, not DuckDB's
    # 0.7-thresholded variant), which _jaro_ref mirrors
    want = np.array([_jaro_ref(x, y) for x, y in pairs])
    np.testing.assert_allclose(got, want, atol=1e-6)


@settings(max_examples=150, deadline=None)
@given(WORD, WORD)
def test_metric_properties(x, y):
    sx, sy = pd.Series([x, y, x]), pd.Series([y, x, x])
    d = affine_gap(sx, sy)
    assert 0.0 <= d[0] <= 1.0
    assert abs(d[0] - d[1]) < 1e-5  # symmetry
    assert abs(d[2]) < 1e-7  # identity
    jw = jaro_winkler(sx, sy)
    assert 0.0 <= jw[0] <= 1.0
    assert abs(jw[0] - jw[1]) < 1e-6
    assert abs(jw[2] - 1.0) < 1e-9
