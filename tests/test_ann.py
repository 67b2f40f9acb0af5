"""ANN operators (sparklink/ann.py): the unit-vector plan shape, and
brute-force / LSH top-k at a production embedding width against a numpy
reference that folds each dot left to right, like the engine and the SQL
oracles."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

DIM = 768
RAGGED_ID = 7  # this corpus row has DIM - 1 elements


def _fold_dot(a: np.ndarray, b: np.ndarray) -> float | None:
    if len(a) != len(b):
        return None  # zip_with pads the shorter side with NULLs
    acc = 0.0
    for x in (a * b).tolist():
        acc += x
    return acc


def _unit(v: np.ndarray) -> np.ndarray:
    n = np.sqrt(_fold_dot(v, v))
    return v / n if n > 0 else v


def _corpus(spark, n: int = 40, seed: int = 7):
    rng = np.random.default_rng(seed)
    vecs = {i: rng.standard_normal(DIM if i != RAGGED_ID else DIM - 1).astype(np.float32) for i in range(n)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()], "vec_id int, embedding array<float>"
    )
    return df, {i: _unit(v.astype(np.float64)) for i, v in vecs.items()}


def _topk_ref(units, query_ids, candidates, k):
    """(query_id, vec_id, cos, rank): cos rounded to 6 dp, ranked by cos
    desc with NULLs last, then vec_id asc."""
    out = set()
    for q in query_ids:
        scored = []
        for c in candidates(q):
            d = _fold_dot(units[c], units[q])
            scored.append((c, None if d is None else round(d, 6)))
        scored.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        out |= {(q, c, cos, r) for r, (c, cos) in enumerate(scored[:k], start=1)}
    return out


def _rows(df):
    return {(r.query_id, r.vec_id, r.cos, r.rank) for r in df.collect()}


def test_unit_vectors_fold_the_norm_once(spark):
    """The norm is bound as a column, so the optimized plan holds ONE norm
    fold — not a second copy inside the per-element division lambda."""
    from sparklink.ann import with_unit_vectors

    df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id int, embedding array<float>")
    out = with_unit_vectors(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1, plan
    assert {r.vec_id: list(r.unit) for r in out.collect()} == {1: [0.6, 0.8], 2: [0.0, 0.0]}


def test_high_dim_ragged_topk_matches_numpy(spark):
    """dim 768 with one ragged corpus row: brute-force and LSH top-k equal
    the numpy reference; the ragged row scores NULL and ranks last."""
    from sparklink.ann import _hyperplanes, brute_force_topk, lsh_topk

    corpus, units = _corpus(spark)
    ids = sorted(units)
    n_planes, seed = 3, 5
    planes = _hyperplanes(DIM, n_planes, seed)

    def bucket(i):
        dots = [_fold_dot(units[i], p) for p in planes]
        return sum(1 << b for b, d in enumerate(dots) if d is not None and round(d, 6) >= 0)

    buckets = {i: bucket(i) for i in ids}
    assert buckets[RAGGED_ID] == 0
    # one query shares the ragged row's bucket, so LSH scores it too
    query_ids = [0, 1, 2, min(i for i in ids if i != RAGGED_ID and buckets[i] == 0)]
    queries = corpus.filter(F.col("vec_id").isin(query_ids)).select(F.col("vec_id").alias("query_id"), "embedding")
    k = len(ids)

    want = _topk_ref(units, query_ids, lambda q: [c for c in ids if c != q], k)
    assert any(c == RAGGED_ID and cos is None for _, c, cos, _ in want)
    assert _rows(brute_force_topk(corpus, queries, k=k)) == want

    want = _topk_ref(units, query_ids, lambda q: [c for c in ids if c != q and buckets[c] == buckets[q]], k)
    assert any(c == RAGGED_ID for _, c, _, _ in want)
    assert _rows(lsh_topk(corpus, queries, k=k, n_planes=n_planes, dim=DIM, seed=seed)) == want
