"""Round-2 additions: NN-chain HAC, fingerprint chaining, categorical
dummies, structured name/address variables, cross-source id collisions,
vectorized sparse_dot, distributed IVF."""

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparklink.cluster import _avg_linkage_labels


# ---------------------------------------------------------------------------
# HAC: NN-chain == global-greedy reference; 2000-node component is fast
# ---------------------------------------------------------------------------


def _greedy_avg_linkage(d, cut):
    """Reference O(n^3) global-min average-linkage (the r1 implementation)."""
    n = d.shape[0]
    active = list(range(n))
    members = {i: [i] for i in range(n)}
    d = d.copy()
    while len(active) > 1:
        best = (None, None, np.inf)
        for ii in range(len(active)):
            for jj in range(ii + 1, len(active)):
                a_, b_ = active[ii], active[jj]
                if d[a_, b_] < best[2]:
                    best = (a_, b_, d[a_, b_])
        a_, b_, dist = best
        if dist > cut:
            break
        na, nb = len(members[a_]), len(members[b_])
        for c in active:
            if c not in (a_, b_):
                d[a_, c] = d[c, a_] = (d[a_, c] * na + d[b_, c] * nb) / (na + nb)
        members[a_] += members.pop(b_)
        active.remove(b_)
    lab = {}
    for root in active:
        for m in members[root]:
            lab[m] = root
    return np.array([lab[i] for i in range(n)])


def _partition_sets(labels):
    groups = {}
    for i, l in enumerate(labels):
        groups.setdefault(l, set()).add(i)
    return sorted(map(frozenset, groups.values()), key=lambda s: min(s))


def test_nnchain_matches_greedy_on_random_matrices():
    rng = np.random.default_rng(3)
    for trial in range(20):
        n = int(rng.integers(3, 40))
        d = rng.uniform(0, 1, size=(n, n))
        d = (d + d.T) / 2
        np.fill_diagonal(d, 0.0)
        cut = float(rng.uniform(0.2, 0.8))
        got = _partition_sets(_avg_linkage_labels(d, cut))
        want = _partition_sets(_greedy_avg_linkage(d, cut))
        assert got == want, f"trial {trial}: NN-chain != greedy (n={n}, cut={cut})"


def test_nnchain_2000_nodes_under_5s():
    rng = np.random.default_rng(5)
    n = 2000
    d = rng.uniform(0.3, 1.0, size=(n, n))
    d = (d + d.T) / 2
    np.fill_diagonal(d, 0.0)
    t0 = time.time()
    labels = _avg_linkage_labels(d, 0.5)
    dt = time.time() - t0
    assert len(labels) == n
    assert dt < 5.0, f"2000-node HAC took {dt:.1f}s"


def test_refine_weak_chain_still_splits(spark):
    # A-B strong, B-C strong, A-C explicitly very weak: average linkage at
    # cut keeps the chain intact or splits depending on evidence; the
    # over-merge case is three weakly tied groups
    from sparklink.cluster import refine_components

    edges = spark.createDataFrame(
        [("a", "b", 0.95), ("b", "c", 0.55), ("a", "c", 0.05)],
        "id_a string, id_b string, score double",
    )
    comps = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], "record_id string, component string"
    )
    out = refine_components(edges, comps, threshold=0.5).toPandas().set_index("record_id")["canon_id"]
    assert out["a"] == out["b"]
    assert out["c"] != out["a"]


# ---------------------------------------------------------------------------
# checkpoint fingerprint chaining (ADVICE r1, high)
# ---------------------------------------------------------------------------


def test_predicate_change_invalidates_downstream(spark, fixture_dfs, tmp_path):
    from sparklink import blocking as B
    from sparklink.checkpoints import Catalog
    from sparklink.pipeline import SparkDedupe, default_transcript_predicates

    transcripts, truth, labeled = fixture_dfs
    wh = str(tmp_path / "wh")
    dd = SparkDedupe(catalog=Catalog(spark, wh))
    records = dd.canonical_records(transcripts)
    dd.fit(records, labeled)
    dd.partition(transcripts)
    writes0 = [m["stage"] for m in dd.catalog.metrics() if m.get("event") == "write"]
    assert {"records", "blocking_map", "scored_pairs", "entity_map"} <= set(writes0)

    # same warehouse, DIFFERENT predicates: blocking_map AND scored_pairs
    # AND entity_map must recompute; records may resume
    preds = default_transcript_predicates()[:2]
    dd2 = SparkDedupe(
        model=dd.model, threshold=dd.threshold, predicates=preds, catalog=Catalog(spark, wh)
    )
    dd2.partition(transcripts)
    events = dd2.catalog.metrics()
    writes = {m["stage"] for m in events if m.get("event") == "write"}
    hits = {m["stage"] for m in events if m.get("event") == "resume_hit"}
    assert {"blocking_map", "scored_pairs", "entity_map"} <= writes
    assert "records" in hits


def test_input_change_invalidates_records(spark, fixture_dfs, tmp_path):
    from sparklink.checkpoints import Catalog
    from sparklink.pipeline import SparkDedupe
    from sparklink.synth import make_transcripts

    transcripts, truth, labeled = fixture_dfs
    wh = str(tmp_path / "wh2")
    dd = SparkDedupe(catalog=Catalog(spark, wh))
    records = dd.canonical_records(transcripts)
    dd.fit(records, labeled)
    dd.partition(transcripts)

    other_pd, _ = make_transcripts(n_entities=30, seed=9)
    other = spark.createDataFrame(other_pd)
    dd2 = SparkDedupe(model=dd.model, threshold=dd.threshold, catalog=Catalog(spark, wh))
    dd2.partition(other)
    events = dd2.catalog.metrics()
    writes = {m["stage"] for m in events if m.get("event") == "write"}
    # different input data -> every stage recomputes, nothing stale resumes
    assert {"records", "blocking_map", "scored_pairs", "entity_map"} <= writes


# ---------------------------------------------------------------------------
# categorical per-category dummies + structured name/address variables
# ---------------------------------------------------------------------------


def test_categorical_dummy_features(spark):
    from sparklink.score import FieldModel, Variable

    v = Variable("ctype", "categorical", has_missing=False, categories=("phone", "email", "chat"))
    model = FieldModel(variables=[v])
    # 3 categories -> 6 unordered combos, baseline dropped -> 5 dummies
    assert len(model.feature_cols()) == 5
    pairs = spark.createDataFrame(
        [
            ("phone", "phone"),
            ("phone", "email"),
            ("email", "phone"),
            ("chat", "chat"),
            (None, "chat"),
        ],
        "ctype_a string, ctype_b string",
    )
    out = model.distance_frame(pairs).toPandas()
    pe = "d_cat_ctype__phone__email"
    cc = "d_cat_ctype__chat__chat"
    assert out[pe].tolist() == [0.0, 1.0, 1.0, 0.0, 0.0]  # unordered combo hit
    assert out[cc].tolist() == [0.0, 0.0, 0.0, 1.0, 0.0]  # null row -> all 0
    # (phone,phone) is the dropped baseline: all dummies zero on row 0
    assert out.loc[0, model.feature_cols()].sum() == 0.0

    # LR separates three planted category-combination populations
    rng = np.random.default_rng(0)
    rows, labels = [], []
    for _ in range(300):
        if rng.random() < 0.5:
            rows.append(("phone", "phone"))
            labels.append(1)
        else:
            rows.append(("phone", "chat") if rng.random() < 0.5 else ("email", "chat"))
            labels.append(0)
    df = spark.createDataFrame(rows, "ctype_a string, ctype_b string")
    feats = model.distance_frame(df).toPandas()
    feats["label"] = labels
    model.fit(feats)
    p = model.predict_proba(feats)
    assert ((p > 0.5).astype(int) == np.array(labels)).mean() > 0.95
    # round-trip keeps categories
    m2 = FieldModel.from_json(model.to_json())
    assert m2.variables[0].categories == ("phone", "email", "chat")


def test_name_variable_beats_whole_string_on_swaps(spark):
    from sparklink.score import FieldModel, Variable

    pairs = spark.createDataFrame(
        [
            ("JOHN SMITH", "SMITH, JOHN"),        # same person, swapped form
            ("MARY ANN DOE", "DOE, MARY"),        # middle name dropped
            ("JOHN SMITH", "JANE SMYTHE"),        # different person
        ],
        "name_a string, name_b string",
    )
    m_name = FieldModel(variables=[Variable("name", "name", has_missing=False)])
    m_jw = FieldModel(variables=[Variable("name", "shortstring", has_missing=False)])
    dn = m_name.distance_frame(pairs).toPandas()["d_name_name"]
    dj = m_jw.distance_frame(pairs).toPandas()["d_shortstring_name"]
    assert dn[0] > 0.99          # component-wise: perfect match on swap
    assert dn[0] > dj[0] + 0.1   # whole-string JW penalizes the swap
    assert dn[1] > 0.9
    assert dn[2] < dn[0]


def test_address_variable_components(spark):
    from sparklink.score import FieldModel, Variable

    pairs = spark.createDataFrame(
        [
            ("123 N Main St Apt 4", "123 north main st unit 4"),
            ("123 N Main St", "456 N Main St"),  # number mismatch
        ],
        "addr_a string, addr_b string",
    )
    m = FieldModel(variables=[Variable("addr", "address", has_missing=False)])
    d = m.distance_frame(pairs).toPandas()["d_address_addr"]
    assert d[0] > 0.7
    assert d[1] < d[0]  # house-number mismatch costs the exact component


def test_text_variable_has_missing_forced_false():
    from sparklink.score import Variable

    v = Variable("conv_text", "text")  # default has_missing=True must not break scoring
    assert v.has_missing is False


# ---------------------------------------------------------------------------
# cross-source id collisions + gazetteer persistence
# ---------------------------------------------------------------------------


def test_cross_source_id_collision_hydrates_own_side(spark):
    from sparklink.pipeline import SparkDedupe, default_transcript_model

    # same conv_id 'x' in both sources with DIFFERENT text: the pair (x, x)
    # must compare left-text vs right-text, not contaminate
    cols = "conv_id string, conv_text string, first_user_text string, last_assistant_text string, tools array<string>, n_turns int"
    left = spark.createDataFrame([("x", "alpha beta gamma", "alpha", "gamma", ["t1"], 3)], cols)
    right = spark.createDataFrame([("x", "delta epsilon zeta", "delta", "zeta", ["t2"], 3)], cols)
    pairs = spark.createDataFrame([("x", "x")], "id_a string, id_b string")
    dd = SparkDedupe(model=default_transcript_model())
    out = dd._pair_features_two(left, right, pairs).toPandas()
    assert len(out) == 1
    assert out.loc[0, "id_a"] == "x" and out.loc[0, "id_b"] == "x"
    assert out.loc[0, "first_user_text_a"] == "alpha"
    assert out.loc[0, "first_user_text_b"] == "delta"


# ---------------------------------------------------------------------------
# vectorized sparse_dot parity + distributed IVF training
# ---------------------------------------------------------------------------


def test_sparse_dot_vectorized_parity():
    from sparklink.distances import sparse_dot

    rng = np.random.default_rng(11)
    n = 200
    ha, wa, hb, wb = [], [], [], []
    for i in range(n):
        la, lb = int(rng.integers(0, 10)), int(rng.integers(0, 10))
        a = np.sort(rng.choice(50, size=la, replace=False)).astype(np.int64)
        b = np.sort(rng.choice(50, size=lb, replace=False)).astype(np.int64)
        ha.append(a if i % 7 else None)
        wa.append(rng.uniform(size=la) if i % 7 else None)
        hb.append(b)
        wb.append(rng.uniform(size=lb))
    got = sparse_dot(pd.Series(ha), pd.Series(wa), pd.Series(hb), pd.Series(wb))
    for i in range(n):
        if ha[i] is None or len(ha[i]) == 0 or len(hb[i]) == 0:
            want = 0.0
        else:
            common, ia, ib = np.intersect1d(ha[i], hb[i], assume_unique=True, return_indices=True)
            want = float(np.dot(np.asarray(wa[i])[ia], np.asarray(wb[i])[ib]))
        assert abs(got[i] - want) < 1e-12


def test_ivf_training_distributed(spark):
    from sparklink.ann import train_ivf_centroids, with_unit_vectors

    rng = np.random.default_rng(2)
    # three well-separated gaussian blobs in 16d
    centers = rng.standard_normal((3, 16)) * 4
    rows = [(i, (centers[i % 3] + rng.standard_normal(16) * 0.1).tolist()) for i in range(90)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents0 = train_ivf_centroids(emb, n_cells=3, iters=0)  # init only
    cents1 = train_ivf_centroids(emb, n_cells=3, iters=1)
    assert cents1.shape == (3, 16)
    np.testing.assert_allclose(np.linalg.norm(cents1, axis=1), 1.0, atol=1e-9)

    # numpy reference for ONE Lloyd step from the same init: assign by
    # argmax of 6dp-rounded cosine (first index wins ties, mirroring
    # _argmin_cell), update = normalized mean — the distributed
    # posexplode+groupBy plan must reproduce it exactly
    u = (
        with_unit_vectors(emb)
        .select("vec_id", "unit")
        .toPandas()
        .sort_values("vec_id")["unit"]
        .map(np.asarray)
    )
    U = np.stack(u.to_numpy())
    sims = np.round(U @ cents0.T, 6)
    assign = sims.argmax(axis=1)  # np.argmax keeps first max — same tiebreak
    want = cents0.copy()
    for cell in range(3):
        members = U[assign == cell]
        if len(members):
            v = members.mean(axis=0)
            want[cell] = v / np.linalg.norm(v)
    np.testing.assert_allclose(cents1, want, atol=1e-9)

    # determinism: same input, same seed -> identical centroids
    np.testing.assert_array_equal(cents1, train_ivf_centroids(emb, n_cells=3, iters=1))


def test_multimodal_chunk_sums_and_strict(spark):
    from sparklink.multimodal import decode_stub, extract_features, synth_media

    payload = bytes(range(40))
    means, sums = decode_stub(payload, "image", dim=8)
    # floor boundaries: chunk j = bytes[j*40//8 : (j+1)*40//8] (5 each)
    assert sums == [sum(range(j * 5, (j + 1) * 5)) for j in range(8)]
    np.testing.assert_allclose(means, [s / 5 / 255.0 for s in sums], rtol=1e-6)
    with pytest.raises(NotImplementedError):
        decode_stub(payload, "image", strict=True)
    feats = extract_features(synth_media(spark, n=12, seed=3), dim=8).toPandas()
    assert len(feats) == 12
    assert (feats["chunk_sums"].map(len) == 8).all()


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """connected_components with checkpoint_dir uses reliable df.checkpoint
    (replicated storage on a real cluster): same components, checkpoint
    files written, lineage truncated (plan roots at the checkpoint RDD)."""
    import os

    from sparklink.cluster import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(20)] + [("z1", "z2")],
        "id_a string, id_b string",
    )
    ckdir = str(tmp_path / "cc_ck")
    got = connected_components(edges, checkpoint_dir=ckdir).toPandas()
    lab = got.set_index("record_id")["component"]
    assert (lab[[f"n{i:02d}" for i in range(21)]] == "n00").all()
    assert lab["z1"] == lab["z2"] == "z1"
    files = [os.path.join(r, f) for r, _, fs in os.walk(ckdir) for f in fs]
    assert files, "reliable checkpoint wrote no files"


def test_ivf_training_dim256_fast(spark):
    """Dimension-independence of the distributed Lloyd update (VERDICT r1):
    dim=256 must train without per-dimension aggregate expressions — the
    posexplode+groupBy(cell,pos) plan's driver traffic is n_cells x dim
    tiny rows per iteration."""
    import time

    from sparklink.ann import train_ivf_centroids

    rng = np.random.default_rng(4)
    rows = [(i, rng.standard_normal(256).tolist()) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t0 = time.time()
    cents = train_ivf_centroids(emb, n_cells=4, iters=2)
    dt = time.time() - t0
    assert cents.shape == (4, 256)
    np.testing.assert_allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-9)
    assert dt < 60, f"dim=256 IVF training took {dt:.0f}s"


def test_scorer_single_arrow_node(spark, fixture_dfs):
    """Plan-shape contract (PLANS.md §1): all scorer pandas UDFs evaluate in
    ONE ArrowEvalPython node — one Arrow serialization round-trip per batch.
    Guards against a refactor splitting the kernels into separate nodes."""
    from sparklink.canonicalize import canonicalize
    from sparklink.pipeline import SparkDedupe

    transcripts, truth, labeled = fixture_dfs
    dd = SparkDedupe()
    records = canonicalize(transcripts).persist()
    bm = dd.blocking_map(records)
    pairs = spark.createDataFrame(
        [(a, b) for a, b in zip(*[iter(sorted(r.conv_id for r in records.select("conv_id").head(8)))] * 2)],
        "id_a string, id_b string",
    )
    withd = dd._pair_features(records, pairs)
    plan = withd._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, f"expected 1 ArrowEvalPython node, plan has {plan.count('ArrowEvalPython')}"
