"""Distance functions vs brute-force scalar oracles (SURVEY §5): the numpy
batch kernels, and the Column-side Levenshtein in one Spark job."""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparklink.distances import affine_gap, jaro_winkler, levenshtein_distance

WORDS = [
    "martha",
    "marhta",
    "dixon",
    "dicksonx",
    "duane",
    "dwayne",
    "",
    "a",
    "ab",
    "abc",
    "abcd",
    "hello world",
    "helo wrld",
    "jellyfish",
    "smellyfish",
    "account billing 12345",
    "account biling 12354",
    "the same exact string",
]


def _lev_ref(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
    return d[la][lb] / max(la, lb, 1)


def _jaro_ref(s1: str, s2: str) -> float:
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    md = max(max(len(s1), len(s2)) // 2 - 1, 0)
    m2 = [False] * len(s2)
    a, bb = [], []
    for i, c in enumerate(s1):
        for j in range(max(0, i - md), min(len(s2), i + md + 1)):
            if not m2[j] and s2[j] == c:
                m2[j] = True
                a.append(c)
                break
    bb = [s2[j] for j in range(len(s2)) if m2[j]]
    m = len(a)
    if m == 0:
        return 0.0
    t = sum(x != y for x, y in zip(a, bb)) / 2
    j = (m / len(s1) + m / len(s2) + (m - t) / m) / 3
    p = 0
    for x, y in zip(s1[:4], s2[:4]):
        if x != y:
            break
        p += 1
    return j + p * 0.1 * (1 - j)


PAIRS = list(itertools.product(WORDS, WORDS))


# accents, and strings past the 64-char cap that agree on their prefix
LEV_CASES = [
    ("kitten", "sitting"),
    ("café", "cafe"),
    ("naïve résumé", "naive resume"),
    ("x" * 80, "x" * 79 + "y"),  # both truncate to the same 64-char prefix
    ("x" * 70, "y" * 5),
    ("the quick brown fox", "the quack brown fax"),
    ("short", "a much much longer string than the other side"),
]


def test_levenshtein_vs_oracle(spark):
    """distances.levenshtein_distance — the production comparator — equals
    the naive DP over 64-char prefixes with NULL read as '', in one Spark
    job: symmetric (reversed pairs) and 0 on identical pairs."""
    base = PAIRS + LEV_CASES + [(None, "abc"), ("abc", None), (None, None), (None, "")]
    rows = base + [(b, a) for a, b in base] + [(a, a) for a, _ in base]
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(rows)], "i int, l string, r string")
    got = dict(df.select("i", levenshtein_distance(F.col("l"), F.col("r"))).collect())
    cap = lambda x: (x or "")[:64]  # noqa: E731
    want = [_lev_ref(cap(a), cap(b)) for a, b in rows]
    assert [got[i] for i in range(len(rows))] == want
    assert all(got[i] == 0.0 for i in range(2 * len(base), len(rows)))


def test_jaro_winkler_vs_oracle():
    a = pd.Series([p[0] for p in PAIRS])
    b = pd.Series([p[1] for p in PAIRS])
    got = jaro_winkler(a, b)
    want = np.array([_jaro_ref(x, y) for x, y in PAIRS])
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_jaro_winkler_known_values():
    got = jaro_winkler(pd.Series(["martha", "dixon"]), pd.Series(["marhta", "dicksonx"]))
    np.testing.assert_allclose(got, [0.9611111111, 0.8133333333], atol=1e-6)


def test_affine_gap_properties():
    a = pd.Series([p[0] for p in PAIRS])
    b = pd.Series([p[1] for p in PAIRS])
    d = affine_gap(a, b)
    assert ((d >= 0) & (d <= 1)).all()
    # identity: d(x, x) == 0
    same = affine_gap(pd.Series(WORDS), pd.Series(WORDS))
    np.testing.assert_allclose(same, 0.0, atol=1e-7)
    # symmetry
    d_ba = affine_gap(b, a)
    np.testing.assert_allclose(d, d_ba, atol=1e-5)
    # one contiguous gap cheaper than scattered gaps of the same total length
    contig = affine_gap(pd.Series(["abcdefgh"]), pd.Series(["abcdefghxxxx"]))[0]
    scattered = affine_gap(pd.Series(["abcdefgh"]), pd.Series(["axbcxdefxghx"]))[0]
    assert contig < scattered


def test_nulls_treated_as_empty():
    d = affine_gap(pd.Series([None, "abc", None]), pd.Series(["abc", None, None]))
    np.testing.assert_array_equal(d, affine_gap(pd.Series(["", "abc", ""]), pd.Series(["abc", "", ""])))
    j = jaro_winkler(pd.Series([None]), pd.Series([None]))
    np.testing.assert_allclose(j, [1.0])


@pytest.mark.parametrize("fn", [jaro_winkler, affine_gap])
def test_empty_batch(fn):
    assert len(fn(pd.Series([], dtype=object), pd.Series([], dtype=object))) == 0


def test_long_strings_capped_not_crashing():
    a = pd.Series(["x" * 5000])
    b = pd.Series(["x" * 4999 + "y"])
    assert 0.0 <= affine_gap(a, b)[0] <= 1.0
    assert 0.0 <= jaro_winkler(a, b)[0] <= 1.0


@pytest.mark.parametrize("fn", [jaro_winkler, affine_gap])
def test_cache_block_chunk_invariance(fn):
    """The DP kernels process length-sorted cache blocks; per-row results
    must be bit-identical for ANY block size (incl. one block == the old
    batch-wide loop) and invariant to input row order."""
    import sparklink.distances as D

    rng = np.random.default_rng(11)
    alpha = list("abcdef -'")
    mk = lambda: "".join(rng.choice(alpha, size=int(rng.integers(0, 70))))
    a = pd.Series([mk() for _ in range(4000)] + ["", "a", None])
    b = pd.Series([mk() for _ in range(4000)] + [None, "", "a"])
    saved = D._DP_CHUNK
    try:
        D._DP_CHUNK = 10**9  # single block: the unblocked reference
        ref = fn(a, b)
        for chunk in (17, 256, 1024):
            D._DP_CHUNK = chunk
            assert np.array_equal(fn(a, b), ref), chunk
    finally:
        D._DP_CHUNK = saved
    # row-order invariance: results permute with the rows
    perm = rng.permutation(len(a))
    out_perm = fn(a.iloc[perm].reset_index(drop=True), b.iloc[perm].reset_index(drop=True))
    assert np.array_equal(out_perm, ref[perm])
