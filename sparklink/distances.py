"""Vectorized string/numeric comparators (SURVEY §2.6).

Every string comparator operates on whole Arrow batches as numpy tensors —
no per-row Python (BASELINE.json input_hint). Strings are encoded once per
batch into padded (B, L) uint32 codepoint matrices; DP recurrences iterate
over string positions only (≤ max_len steps), each step a vectorized op
across the batch. Horizontal DP dependencies are resolved with the
prefix-min trick: min_k<=j (t[k] + (j-k)) = j + cummin(t - arange).

Comparator semantics follow the dedupe variable types observed at their
call sites [lib]:
  String/ShortString -> affine-gap distance (csv_example/csv_example.py:103-104)
  Text               -> TF-IDF cosine (record_linkage_example.py:111-114)
  Set                -> Jaccard overlap (patent_example/patent_example.py:116-119)
  LatLong            -> Haversine (patent_example/patent_example.py:115)
  Price              -> relative diff (record_linkage_example.py:115)
  Exact              -> 0/1 (csv_example/csv_example.py:105)
Raw distances need not bit-match dedupe's C implementations: the F1 target
is on cluster decisions, with the LR weights fit to labeled pairs
(SURVEY §7 hard parts (a)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from sparklink.blocking import ranked_vocab
from sparklink.session import session_expr

# Rows per cache block in the DP kernels. At Arrow's 10k-row default
# batch the batch-wide (B, L) temporaries (~8 live arrays x 48-64
# iterations) stream ~0.5-1 GB through DRAM per batch; on a 32-core
# box with one shared memory interface that collapses parallel wall
# efficiency (measured 0.15-0.29 at 24 workers, tools/kernel_bench.py).
# Blocking to ~1k rows keeps the working set (~1-2 MB) cache-resident,
# and sorting rows by length first lets each block's DP loop stop at
# the block's own max string length instead of the batch max.
_DP_CHUNK = 1024

# --------------------------------------------------------------------------
# batch string encoding
# --------------------------------------------------------------------------


def _encode(s: pd.Series, max_len: int) -> tuple[np.ndarray, np.ndarray]:
    """Series[str|None] -> (codes (B, max_len) int32 zero-padded, lengths (B,))."""
    vals = s.fillna("").astype(str).str.slice(0, max_len)
    lens = vals.str.len().to_numpy(dtype=np.int32)
    b = len(vals)
    codes = np.zeros((b, max_len), dtype=np.int32)
    if b:
        # O(total chars) join; Series.str.pad(...).sum() would concatenate
        # quadratically
        flat = "".join(vals.str.pad(max_len, side="right", fillchar="\x00").tolist())
        arr = np.frombuffer(flat.encode("utf-32-le"), dtype=np.uint32).astype(np.int32)
        codes = arr.reshape(b, max_len)
    return codes, lens


def _trim_common(ca: np.ndarray, la: np.ndarray, cb: np.ndarray, lb: np.ndarray):
    """Strip the common prefix and suffix of each row pair (in code space).

    The standard practical reduction for affine-gap (weights are refit
    against the comparator, SURVEY §2.6 note). Returns new (ca, la, cb,
    lb); rows become left-aligned slices of the middles. Candidate
    near-duplicate pairs share long prefixes, so this removes most DP
    work.
    """
    B, L = ca.shape
    if B == 0:
        return ca, la, cb, lb
    minlen = np.minimum(la, lb)
    neq = ca != cb
    any_neq = neq.any(axis=1)
    first_diff = np.where(any_neq, np.argmax(neq, axis=1), L)
    p = np.minimum(first_diff, minlen)  # common prefix length
    # common suffix: compare reversed-by-length alignment
    idx = np.arange(L)
    ra = np.take_along_axis(ca, (la[:, None] - 1 - idx) % L, axis=1)
    ra[idx[None, :] >= la[:, None]] = -1
    rb = np.take_along_axis(cb, (lb[:, None] - 1 - idx) % L, axis=1)
    rb[idx[None, :] >= lb[:, None]] = -2
    rneq = ra != rb
    rfirst = np.where(rneq.any(axis=1), np.argmax(rneq, axis=1), L)
    s = np.minimum(rfirst, minlen - p)  # suffix can't overlap prefix
    na, nb = la - p - s, lb - p - s
    # gather middles left-aligned
    ga = np.take_along_axis(ca, (p[:, None] + idx) % L, axis=1)
    ga[idx[None, :] >= na[:, None]] = 0
    gb = np.take_along_axis(cb, (p[:, None] + idx) % L, axis=1)
    gb[idx[None, :] >= nb[:, None]] = 0
    return ga, na.astype(np.int32), gb, nb.astype(np.int32)


def _length_blocks(la: np.ndarray, lb: np.ndarray):
    """Yield (row_indices, block_max_len) cache blocks for the DP kernels.

    Rows are sorted by max(la, lb) so each block is length-homogeneous:
    the DP loop runs only to the block's own max length and the (rows,
    len) temporaries stay cache-resident. Per-row results are exact and
    bit-identical to the batch-wide loop — every DP recurrence here is
    row-independent and left-to-right in the column index, so dropping
    columns beyond the block max and regrouping rows changes no value.
    """
    B = len(la)
    if B == 0:
        return
    key = np.maximum(la, lb)
    if B <= _DP_CHUNK:
        yield np.arange(B), int(key.max())
        return
    order = np.argsort(key, kind="stable")
    for s in range(0, B, _DP_CHUNK):
        idx = order[s : s + _DP_CHUNK]
        yield idx, int(key[idx[-1]])


def _equal_fastpath(a: pd.Series, b: pd.Series, equal_value: float, core) -> np.ndarray:
    """Skip the DP for rows where the strings are identical — the dominant
    case on near-duplicate candidate pairs (exact-equal normalized text).
    ~2-4x end-to-end on dedupe workloads."""
    av = a.fillna("").astype(str).to_numpy(dtype=object)
    bv = b.fillna("").astype(str).to_numpy(dtype=object)
    out = np.full(len(av), equal_value, dtype=np.float64)
    neq = av != bv
    if neq.any():
        idx = np.nonzero(neq)[0]
        out[idx] = core(pd.Series(av[idx]), pd.Series(bv[idx]))
    return out


# --------------------------------------------------------------------------
# Jaro-Winkler (similarity in [0,1])
# --------------------------------------------------------------------------


def jaro_winkler(a: pd.Series, b: pd.Series, max_len: int = 64, prefix_scale: float = 0.1) -> np.ndarray:
    return _equal_fastpath(a, b, 1.0, lambda x, y: _jaro_winkler_core(x, y, max_len, prefix_scale))


def _jaro_winkler_core(a: pd.Series, b: pd.Series, max_len: int = 64, prefix_scale: float = 0.1) -> np.ndarray:
    ca, la = _encode(a, max_len)
    cb, lb = _encode(b, max_len)
    B = len(la)
    if B == 0:
        return np.zeros(0)
    m = np.zeros(B, dtype=np.float32)
    t = np.zeros(B, dtype=np.float32)
    for idx, mx in _length_blocks(la, lb):
        if mx:  # mx == 0: both empty -> m = t = 0
            m[idx], t[idx] = _jaro_block(ca[idx, :mx], la[idx], cb[idx, :mx], lb[idx], mx)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / np.maximum(la, 1) + m / np.maximum(lb, 1) + (m - t) / np.where(m > 0, m, 1)) / 3.0
    jaro = np.where(m > 0, jaro, 0.0)
    both_empty = (la == 0) & (lb == 0)
    jaro = np.where(both_empty, 1.0, jaro)
    # Winkler common-prefix boost (<=4)
    pref_eq = np.cumprod((ca[:, :4] == cb[:, :4]) & (ca[:, :4] != 0), axis=1)
    prefix = pref_eq.sum(axis=1).astype(np.float32)
    return (jaro + prefix * prefix_scale * (1.0 - jaro)).astype(np.float64)


def _jaro_block(
    ca: np.ndarray, la: np.ndarray, cb: np.ndarray, lb: np.ndarray, L: int
) -> tuple[np.ndarray, np.ndarray]:
    """Match count and transpositions for one length-homogeneous block."""
    B = len(la)
    match_dist = np.maximum(np.maximum(la, lb) // 2 - 1, 0)  # (B,)
    j_pos = np.arange(L)
    valid_b = j_pos[None, :] < lb[:, None]
    avail = valid_b.copy()
    matched_a = np.zeros((B, L), dtype=bool)
    matched_j = np.zeros((B, L), dtype=bool)
    for i in range(L):
        in_a = la > i
        if not in_a.any():
            break
        window = np.abs(j_pos[None, :] - i) <= match_dist[:, None]
        cand = (cb == ca[:, i : i + 1]) & avail & window & in_a[:, None]
        has = cand.any(axis=1)
        j_first = np.argmax(cand, axis=1)
        rows = np.nonzero(has)[0]
        avail[rows, j_first[rows]] = False
        matched_j[rows, j_first[rows]] = True
        matched_a[rows, i] = True
    m = matched_a.sum(axis=1).astype(np.float32)
    # transpositions: compact matched chars of a (i order) vs b (j order)
    out_a = np.zeros((B, L), dtype=np.int32)
    out_b = np.zeros((B, L), dtype=np.int32)
    ra, ia = np.nonzero(matched_a)
    slot_a = np.cumsum(matched_a, axis=1)[ra, ia] - 1
    out_a[ra, slot_a] = ca[ra, ia]
    rb, jb = np.nonzero(matched_j)
    slot_b = np.cumsum(matched_j, axis=1)[rb, jb] - 1
    out_b[rb, slot_b] = cb[rb, jb]
    t = ((out_a != out_b) & (out_a != 0)).sum(axis=1).astype(np.float32) / 2.0
    return m, t


# --------------------------------------------------------------------------
# Affine-gap (Gotoh) normalized distance — dedupe's String comparator [lib]
# --------------------------------------------------------------------------


def affine_gap(
    a: pd.Series,
    b: pd.Series,
    max_len: int = 48,
    mismatch: float = 1.0,
    gap_open: float = 1.0,
    gap_extend: float = 0.35,
) -> np.ndarray:
    return _equal_fastpath(a, b, 0.0, lambda x, y: _affine_gap_core(x, y, max_len, mismatch, gap_open, gap_extend))


def _affine_gap_core(
    a: pd.Series,
    b: pd.Series,
    max_len: int = 48,
    mismatch: float = 1.0,
    gap_open: float = 1.0,
    gap_extend: float = 0.35,
) -> np.ndarray:
    """Normalized Gotoh alignment distance in [0,1].

    Vectorized across the batch; per-row horizontal gap recurrence
    Y[j] = min(M[j-1]+open, Y[j-1]+ext) solved by prefix-min scan
    (min_k<j of M[k]+open+(j-1-k)*ext). O(max_len) python-level steps.
    """
    ca, la = _encode(a, max_len)
    cb, lb = _encode(b, max_len)
    B = len(la)
    if B == 0:
        return np.zeros(0)
    la0, lb0 = la, lb  # normalize by original lengths
    ca, la, cb, lb = _trim_common(ca, la, cb, lb)
    final = np.zeros(B, dtype=np.float32)
    for idx, m in _length_blocks(la, lb):
        if m:  # m == 0: both middles empty -> distance 0
            final[idx] = _affine_block(
                ca[idx, :m], la[idx], cb[idx, :m], lb[idx], m, mismatch, gap_open, gap_extend
            )
    denom = np.maximum(np.maximum(la0, lb0), 1).astype(np.float32)
    return np.clip(final / denom, 0.0, 1.0).astype(np.float64)


def _affine_block(
    ca: np.ndarray,
    la: np.ndarray,
    cb: np.ndarray,
    lb: np.ndarray,
    L: int,
    mismatch: float,
    gap_open: float,
    gap_extend: float,
) -> np.ndarray:
    B = len(la)
    INF = np.float32(1e9)
    j_idx = np.arange(L + 1, dtype=np.float32)
    # row 0: aligning prefix of b against empty prefix of a = gap
    M = np.full((B, L + 1), INF, dtype=np.float32)
    M[:, 0] = 0.0
    gap0 = gap_open + (j_idx[1:] - 1) * gap_extend
    Y = np.full((B, L + 1), INF, dtype=np.float32)
    Y[:, 1:] = gap0[None, :]
    X = np.full((B, L + 1), INF, dtype=np.float32)
    best_prev = np.minimum(M, np.minimum(X, Y))  # row i-1 combined
    M_prev, X_prev = M, X
    final = np.where(lb == 0, la * 0.0, np.where(la == 0, gap_open + np.maximum(lb - 1, 0) * gap_extend, INF)).astype(
        np.float32
    )
    final = np.where((la == 0) & (lb == 0), 0.0, final)
    ext_ramp = j_idx * gap_extend
    for i in range(1, L + 1):
        active = la >= i
        if not active.any():
            break
        cost = (ca[:, i - 1 : i] != cb).astype(np.float32) * mismatch  # (B, L)
        M_cur = np.full((B, L + 1), INF, dtype=np.float32)
        M_cur[:, 1:] = best_prev[:, :-1] + cost
        X_cur = np.minimum(M_prev + gap_open, X_prev + gap_extend)
        # Y_cur[j] = min over k<j of (min(M_cur,X_cur)[k] + open + (j-1-k)*ext)
        base = np.minimum(M_cur, X_cur)
        scan = np.minimum.accumulate(base + gap_open - gap_extend - ext_ramp, axis=1)
        Y_cur = np.full((B, L + 1), INF, dtype=np.float32)
        Y_cur[:, 1:] = scan[:, :-1] + ext_ramp[1:]
        best = np.minimum(M_cur, np.minimum(X_cur, Y_cur))
        hit = active & (la == i)
        if hit.any():
            final = np.where(hit, best[np.arange(B), lb], final)
        best_prev = np.where(active[:, None], best, best_prev)
        M_prev = np.where(active[:, None], M_cur, M_prev)
        X_prev = np.where(active[:, None], X_cur, X_prev)
    return final


# --------------------------------------------------------------------------
# Column-expression comparators (pure JVM, codegen'd)
# --------------------------------------------------------------------------


def levenshtein_distance(l: Column, r: Column, max_len: int = 64) -> Column:
    """Normalized Levenshtein distance in [0,1]: edits / max(len_l, len_r, 1)
    over the first ``max_len`` characters, NULL read as ''. Spark's
    levenshtein built-in — no Arrow hop, no Python worker. The quotient of
    two exact small integers is the exact rational any engine computes, so
    values match DuckDB's levenshtein()/greatest(length) bit for bit."""
    tl = F.substring(F.coalesce(l, F.lit("")), 1, max_len)
    tr = F.substring(F.coalesce(r, F.lit("")), 1, max_len)
    return F.levenshtein(tl, tr).cast("double") / F.greatest(F.length(tl), F.length(tr), F.lit(1)).cast("double")


def exact_cmp(l: Column, r: Column) -> Column:
    """1.0 if equal else 0.0 (dedupe Exact, csv_example/csv_example.py:105)."""
    return F.when(l.isNull() | r.isNull(), F.lit(None)).otherwise((l == r).cast("double"))


def jaccard_arrays(l: Column, r: Column) -> Column:
    """Jaccard similarity of two array<string> columns (Set fields)."""
    inter = F.size(F.array_intersect(l, r)).cast("double")
    union = F.size(F.array_union(l, r)).cast("double")
    return F.when(l.isNull() | r.isNull(), F.lit(None)).otherwise(
        F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    )


def haversine_km(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    """Great-circle distance, closed form (patent_example/patent_example.py:115)."""
    rad = lambda c: F.radians(c)  # noqa: E731
    dlat, dlng = rad(lat2 - lat1), rad(lng2 - lng1)
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rad(lat1)) * F.cos(rad(lat2)) * F.pow(F.sin(dlng / 2), 2)
    return F.lit(6371.0088) * 2 * F.atan2(F.sqrt(h), F.sqrt(1 - h))


def price_diff(l: Column, r: Column) -> Column:
    """Relative numeric difference on positive values (dedupe Price [lib])."""
    return F.when(l.isNull() | r.isNull() | (l <= 0) | (r <= 0), F.lit(None)).otherwise(
        F.abs(l - r) / F.greatest(l, r)
    )


def rel_num_diff(l: Column, r: Column) -> Column:
    return F.when(l.isNull() | r.isNull(), F.lit(None)).otherwise(
        F.abs(l - r) / F.greatest(F.abs(l), F.abs(r), F.lit(1.0))
    )


# --------------------------------------------------------------------------
# TF-IDF cosine as a DataFrame sub-plan (Text comparator; SURVEY §2.6)
# --------------------------------------------------------------------------


def _default_token_hash(c: Column) -> Column:
    return F.pmod(F.xxhash64(c), F.lit(1 << 31)).cast("int")


def _tfidf_array_columns(n_docs: int, top_m: int, max_df_frac: float, hash_expr) -> tuple[Column, ...]:
    """The column expressions of :func:`tfidf_token_arrays_from_vocab`, in
    the order it applies them."""
    ranked = ranked_vocab(n_docs, max_df_frac)
    hw0 = F.transform(
        F.slice(ranked, 1, top_m),
        lambda s: F.struct(hash_expr(s["token"]).alias("h"), s["w"].alias("w")),
    ).alias("hw0")
    # sort (h asc, w desc), then keep only the first (max-weight) entry of
    # each hash run. hws must be a MATERIALIZED column: referencing the
    # array_sort inside the filter lambda would re-sort once per element.
    hws = F.array_sort(
        "hw0",
        lambda a, b: F.when(a["h"] < b["h"], -1)
        .when(a["h"] > b["h"], 1)
        .otherwise(F.when(a["w"] > b["w"], -1).when(a["w"] < b["w"], 1).otherwise(0)),
    ).alias("hws")
    # element_at is 1-based: element_at(hws, i) at 0-based position i is
    # the PREVIOUS element (greatest() guards ANSI index-0 for i=0, where
    # the i=0 arm of the OR keeps the element regardless)
    hw = F.filter(
        "hws",
        lambda x, i: (i == 0) | (x["h"] != F.element_at(F.col("hws"), F.greatest(i, F.lit(1)))["h"]),
    ).alias("hw")
    # norm can be 0 with a NON-empty hw: a record whose every token has
    # df == n_docs gets idf 0 for all of them (common in tiny corpora,
    # possible at any scale) — 0/0 is fatal under ANSI; emit 0-weights
    norm = F.sqrt(F.aggregate("hw", F.lit(0.0), lambda acc, s: acc + s["w"] * s["w"])).alias("norm")
    safe_w = lambda s: F.when(F.col("norm") > 0, s["w"] / F.col("norm")).otherwise(F.lit(0.0))  # noqa: E731
    return (
        F.col("record_id"),
        hw0,
        F.size("hw0") > 0,
        hws,
        hw,
        F.col("hw"),
        norm,
        F.transform("hw", lambda s: s["h"]).alias("tfh"),
        F.transform("hw", lambda s: safe_w(s).cast("float")).alias("tfw"),
    )


def tfidf_token_arrays_from_vocab(
    vocab: DataFrame,
    n_docs: int,
    top_m: int = 48,
    max_df_frac: float = 0.5,
    hash_expr=None,
) -> DataFrame:
    """(record_id, tfh array<int> sorted, tfw array<float> aligned) from
    the collected per-record vocab frame (blocking.record_token_vocab) —
    no window, no extra shuffle. The corpus vocab comes from
    SparkDedupe._token_stats, the one tokenization of a corpus.

    This is the scale-path representation for the Text comparator: pair
    cosine becomes a per-row sorted-merge dot product inside one Arrow
    batch (sparse_dot) instead of a pairs-x-tokens equi-join (which
    shuffles |pairs| * avg_tokens rows — the measured bottleneck).

    Keep the top_m tokens of blocking.ranked_vocab (df <= max_df_frac *
    n_docs, weight tf*log((n+1)/(df+1)), (w desc, token asc)), hash each
    token, then L2-normalize. A record whose every token is stop-worded
    out gets no row.

    Within-row hash dedup: two DISTINCT tokens of one record colliding on
    the 31-bit hash would break sparse_dot's assume_unique=True sorted
    merge (undefined indices -> silently wrong score, ~5e-7/record — r2
    VERDICT #3). Duplicate hashes are collapsed at build (keep max
    weight), so per-row hash uniqueness holds BY CONSTRUCTION and the
    32-bit tradeoff stays bounded noise instead of UB. The collapse is
    array-side (sort + adjacent-filter over <=top_m elements) — no extra
    shuffle. ``hash_expr`` (token Column -> int Column) is injectable so
    tests can force collisions; default pmod(xxhash64, 2^31).

    The expressions are built once per session and corpus constants
    (session.session_expr)."""
    hash_expr = hash_expr or _default_token_hash
    rid, hw0, nonempty, hws, hw, hw_ref, norm, tfh, tfw = session_expr(
        ("tfidf_arrays", n_docs, top_m, max_df_frac, hash_expr),
        lambda: _tfidf_array_columns(n_docs, top_m, max_df_frac, hash_expr),
    )
    # one select per materialized step: each step's array is read more
    # than once by the next
    agg = vocab.select(rid, hw0).filter(nonempty).select(rid, hws).select(rid, hw).select(rid, hw_ref, norm)
    # int32 hashes + float32 weights: halves the Arrow transfer per pair
    return agg.select(rid, tfh, tfw)


def sparse_dot(ha: pd.Series, wa: pd.Series, hb: pd.Series, wb: pd.Series) -> np.ndarray:
    """Batch sparse dot of aligned (sorted-hash, weight) array pairs.

    Whole-batch vectorized: every row's arrays are flattened into ONE
    concatenated key array with the row index packed into the high bits
    (keys are 31-bit non-negative hashes, rows << 2^31 count per batch, so
    row*2^32 + hash stays unique and sorted), then a single intersect1d
    merge + scatter-add produces all dots — no per-row Python loop in the
    scoring hot path. assume_unique=True is safe because the array builder
    (tfidf_token_arrays_from_vocab) collapses within-row hash duplicates
    at build time; cross-record collisions (two different tokens scoring
    as a match) remain the documented 32-bit-noise tradeoff.
    """
    n = len(ha)
    out = np.zeros(n)
    if n == 0:
        return out

    def flat(vals, dtype):
        parts = [np.asarray(x if x is not None else (), dtype=dtype) for x in vals]
        lens = np.array([len(p) for p in parts], dtype=np.int64)
        return (np.concatenate(parts) if parts else np.array((), dtype=dtype)), lens

    A, la = flat(ha.values, np.int64)
    B, lb = flat(hb.values, np.int64)
    if len(A) == 0 or len(B) == 0:
        return out
    WA, _ = flat(wa.values, np.float64)
    WB, _ = flat(wb.values, np.float64)
    KA = np.repeat(np.arange(n, dtype=np.int64), la) * (1 << 32) + A
    KB = np.repeat(np.arange(n, dtype=np.int64), lb) * (1 << 32) + B
    common, ia, ib = np.intersect1d(KA, KB, assume_unique=True, return_indices=True)
    if len(common):
        np.add.at(out, common >> 32, WA[ia] * WB[ib])
    return out
