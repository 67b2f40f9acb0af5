"""Round-4 hardening: conditional repartition guards, model feature-layout
validation, nickname/middle-name components, ANN auto method selection,
per-run blocking stats, and catalog-staged resumable match_new."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    # once AQE finalizes a plan its toString repeats the tree under
    # "== Initial Plan ==" — keep only the live section so node counts
    # aren't doubled
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


# ---------------------------------------------------------------------------
# widen_to_parallelism: widen narrow inputs, never reshuffle wide ones
# (r3 VERDICT "What's wrong" #1)
# ---------------------------------------------------------------------------


def test_widen_to_parallelism_is_identity_on_wide_input(spark):
    from sparklink.util import widen_to_parallelism

    par = spark.sparkContext.defaultParallelism
    # a shuffle-derived frame is AQE's business AND probing it would
    # execute the upstream shuffle as side jobs (r4: .rdd finalizes the
    # adaptive plan) — returned untouched without any probe
    wide = spark.range(1000).repartition(par * 2)
    assert widen_to_parallelism(wide) is wide  # no new plan node at all
    # a narrow scan-only frame (the sandbox small-input case) is probed
    # for free and spread
    narrow = spark.range(1000).coalesce(1)
    widened = widen_to_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == par


def test_minhash_adds_no_exchange_on_wide_input(spark):
    """The 100 TB deploy-path check: minhash over an already-wide corpus
    must add exactly ONE Exchange (the signature groupBy) beyond whatever
    the input plan carries — no full-text reshuffle guard firing."""
    from sparklink.dedup import minhash_signatures

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(200).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(F.lit("some repeated text payload "), F.col("id")).alias("text"),
    ).repartition(par)
    base_exchanges = _plan(wide).count("Exchange")
    sig_exchanges = _plan(minhash_signatures(wide, k=8)).count("Exchange")
    assert sig_exchanges == base_exchanges + 1, (base_exchanges, sig_exchanges)


# ---------------------------------------------------------------------------
# FieldModel feature-layout validation (r3 ADVICE, medium)
# ---------------------------------------------------------------------------


def test_from_json_refuses_stale_weight_count():
    from sparklink.score import FieldModel, Variable

    m = FieldModel(variables=[Variable("who", "name", has_missing=False)])
    art = json.loads(m.to_json())
    # a pre-middle-component artifact: 2 weights for what is now a
    # 3-feature variable, and no feature_layout record
    art["weights"] = [1.0, 2.0]
    del art["feature_layout"]
    with pytest.raises(ValueError, match="weight count"):
        FieldModel.from_json(json.dumps(art))


def test_from_json_refuses_stale_feature_layout():
    from sparklink.score import FieldModel, Variable

    m = FieldModel(variables=[Variable("who", "name", has_missing=False)])
    art = json.loads(m.to_json())
    art["feature_layout"] = ["d_name_who__first", "d_name_who__last"]  # old 2-component layout
    art["weights"] = [1.0, 2.0]
    with pytest.raises(ValueError, match="feature layout"):
        FieldModel.from_json(json.dumps(art))


def test_roundtrip_with_layout_passes():
    from sparklink.score import FieldModel, Variable

    m = FieldModel(variables=[Variable("who", "name", has_missing=False)])
    m.weights = np.arange(len(m.feature_cols()), dtype=np.float64)
    m2 = FieldModel.from_json(m.to_json())
    assert m2.feature_cols() == m.feature_cols()
    np.testing.assert_allclose(m2.weights, m.weights)


def test_score_expr_checks_weight_alignment():
    from sparklink.score import FieldModel, Variable

    m = FieldModel(variables=[Variable("a", "exact", has_missing=False)])
    m.weights = np.array([1.0, 2.0])  # one feature, two weights
    with pytest.raises(ValueError, match="weight count"):
        m.score_expr()


# ---------------------------------------------------------------------------
# Nickname folding + middle-name component (r3 VERDICT #5)
# ---------------------------------------------------------------------------


def test_nickname_scores_as_first_name_match(spark):
    from sparklink.score import FieldModel, Variable

    pairs = spark.createDataFrame(
        [
            ("BILL SMITH", "WILLIAM SMITH"),
            ("Bob Jones", "JONES, ROBERT"),
            ("Peggy Doe", "Margaret Doe"),
            ("BILL SMITH", "ROBERT SMITH"),  # different canonical names
        ],
        "name_a string, name_b string",
    )
    m = FieldModel(variables=[Variable("name", "name", has_missing=False)])
    d = m.distance_frame(pairs).toPandas()
    assert (d["d_name_name__first"][:3] > 0.999).all(), d["d_name_name__first"].tolist()
    assert d["d_name_name__first"][3] < 0.8


def test_middle_name_component(spark):
    from sparklink.score import FieldModel, Variable

    pairs = spark.createDataFrame(
        [
            ("JOHN Q SMITH", "SMITH, JOHN QUINCY"),   # initial ≡ full middle
            ("JOHN PAUL SMITH", "JOHN GEORGE SMITH"),  # conflicting middles
            ("JOHN SMITH", "JOHN QUINCY SMITH"),       # one side missing -> neutral
            ("MARY ANN SUE DOE", "DOE, MARY ANN SUE"), # multi-token middle
        ],
        "name_a string, name_b string",
    )
    m = FieldModel(variables=[Variable("name", "name", has_missing=False)])
    assert m.variables[0].components == ("first", "last", "middle")
    d = m.distance_frame(pairs).toPandas()
    mid = d["d_name_name__middle"]
    assert mid[0] == 1.0
    assert mid[1] < 0.8
    assert mid[2] == 1.0
    assert mid[3] > 0.999
    assert (d["d_name_name__first"] > 0.999).all()
    assert (d["d_name_name__last"] > 0.999).all()


# ---------------------------------------------------------------------------
# ANN method='auto' (r3 VERDICT #6)
# ---------------------------------------------------------------------------


def test_ann_auto_method_resolution():
    from sparklink.ann import _resolve_method

    assert _resolve_method("auto", np.zeros((256, 256))) == "pandas"
    assert _resolve_method("auto", np.zeros((8, 64))) == "expr"
    assert _resolve_method("expr", np.zeros((256, 256))) == "expr"
    assert _resolve_method("pandas", np.zeros((8, 64))) == "pandas"


def test_ann_auto_parity_with_expr_small(spark):
    """Default (auto) on a small codebook must equal the oracle-parity
    expr path bit-for-bit."""
    from sparklink.ann import assign_cells, unit_centroids, with_unit_vectors

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    cents = unit_centroids(emb, [7, 70, 140, 210])
    u = with_unit_vectors(emb).select("vec_id", "unit")
    got_auto = assign_cells(u, cents).select("vec_id", "cell").toPandas().sort_values("vec_id")
    got_expr = assign_cells(u, cents, method="expr").select("vec_id", "cell").toPandas().sort_values("vec_id")
    assert got_auto["cell"].tolist() == got_expr["cell"].tolist()


# ---------------------------------------------------------------------------
# Per-run blocking stats in the metrics table (r3 VERDICT #8)
# ---------------------------------------------------------------------------


def test_partition_logs_predicate_stats(spark, fixture_dfs, tmp_path):
    from sparklink.checkpoints import Catalog
    from sparklink.pipeline import SparkDedupe
    from sparklink.score import FieldModel

    transcripts, _, _ = fixture_dfs
    art = json.load(open("models/transcript_model.json"))
    cat = Catalog(spark, str(tmp_path / "wh"))
    dd = SparkDedupe(model=FieldModel.from_json(json.dumps(art)), threshold=float(art["threshold"]), catalog=cat)
    dd.partition(transcripts)
    stats = [m for m in cat.metrics() if m.get("event") == "predicate_stats"]
    preds = {m["predicate"] for m in stats}
    assert "first_tok(first_user_text)" in preds
    assert "canopy(conv_text)" in preds
    assert any(p.startswith("mh") for p in preds)
    for m in stats:
        assert m["n_keys"] >= 1 and m["n_entries"] >= m["n_keys"]
        assert m["n_candidate_pairs"] >= 0
    # resume must NOT re-aggregate / re-log (stats are per BUILD)
    n_before = len(stats)
    dd2 = SparkDedupe(model=FieldModel.from_json(json.dumps(art)), threshold=float(art["threshold"]), catalog=Catalog(spark, str(tmp_path / "wh")))
    dd2.partition(transcripts)
    stats_after = [m for m in dd2.catalog.metrics() if m.get("event") == "predicate_stats"]
    assert len(stats_after) == n_before


# ---------------------------------------------------------------------------
# match_new: catalog-staged, resumable, and no dropped records
# (r3 VERDICT #2, "What's wrong" #2/#3, ADVICE low)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def match_new_fixture(spark, tmp_path_factory):
    """Parquet-backed base/delta split + a partitioned base map, shared by
    the catalog-staging tests (parquet inputs give stable input
    fingerprints across pipeline instances, like production)."""
    from sparklink.synth import write_fixture

    root = tmp_path_factory.mktemp("mn")
    paths = write_fixture(spark, str(root / "data"), n_entities=24, seed=5)
    t = spark.read.parquet(paths["transcripts"])
    ids = sorted(r.conv_id for r in t.select("conv_id").distinct().collect())
    delta_ids = set(ids[::4])
    base_p, delta_p = str(root / "base_t"), str(root / "delta_t")
    t.filter(~F.col("conv_id").isin(list(delta_ids))).write.parquet(base_p)
    t.filter(F.col("conv_id").isin(list(delta_ids))).write.parquet(delta_p)
    return base_p, delta_p, delta_ids, str(root)


def _mk_dd(spark, wh):
    from sparklink.checkpoints import Catalog
    from sparklink.pipeline import SparkDedupe
    from sparklink.score import FieldModel

    art = json.load(open("models/transcript_model.json"))
    return SparkDedupe(
        model=FieldModel.from_json(json.dumps(art)),
        threshold=float(art["threshold"]),
        catalog=Catalog(spark, wh),
    )


def test_match_new_stages_through_catalog_and_resumes(spark, match_new_fixture):
    import os

    from sparklink.checkpoints import Catalog

    base_p, delta_p, delta_ids, root = match_new_fixture
    wh = os.path.join(root, "wh")
    dd = _mk_dd(spark, wh)
    base_t = spark.read.parquet(base_p)
    em_base = dd.partition(base_t)
    base_records = dd.canonical_records(base_t)

    delta_t = spark.read.parquet(delta_p)
    d1 = dd.match_new(delta_t, base_records, em_base).toPandas().sort_values("record_id").reset_index(drop=True)
    assert set(d1["record_id"]) == delta_ids

    # the incremental run is staged into a CHILD warehouse — durable
    # tables, not executor-local localCheckpoint blocks
    child_wh = os.path.join(wh, "match_new_batch")
    child = Catalog(spark, child_wh)
    written = {r["stage"] for r in child._lineage() if r.get("event") == "write"}
    # close_chains=True runs the in-batch pipeline over the WHOLE batch;
    # there is no separate unmatched_new stage
    assert {"gazetteer_matches", "records", "blocking_map", "scored_pairs", "entity_map"} <= written

    # kill/resume: a FRESH pipeline + catalog over the same warehouse must
    # resume every incremental stage and produce the identical delta
    dd2 = _mk_dd(spark, wh)
    em_base2 = dd2.partition(base_t)  # resume-hits the parent stages
    base_records2 = dd2.canonical_records(base_t)
    d2 = dd2.match_new(spark.read.parquet(delta_p), base_records2, em_base2).toPandas().sort_values(
        "record_id"
    ).reset_index(drop=True)
    assert d1[["record_id", "canon_id"]].equals(d2[["record_id", "canon_id"]])
    hits = {m["stage"] for m in child.metrics() if m.get("event") == "resume_hit"}
    assert {"gazetteer_matches", "entity_map"} <= hits


def test_match_new_without_catalog_still_works(spark, match_new_fixture):
    """The catalog-less fallback (localCheckpoint boundaries) keeps the
    r3 behavior for ad-hoc use."""
    from sparklink.pipeline import SparkDedupe
    from sparklink.score import FieldModel

    base_p, delta_p, delta_ids, _ = match_new_fixture
    art = json.load(open("models/transcript_model.json"))
    dd = SparkDedupe(model=FieldModel.from_json(json.dumps(art)), threshold=float(art["threshold"]))
    base_t = spark.read.parquet(base_p)
    em_base = dd.partition(base_t).localCheckpoint(eager=True)
    delta = dd.match_new(spark.read.parquet(delta_p), dd.canonical_records(base_t), em_base)
    assert {r.record_id for r in delta.select("record_id").collect()} == delta_ids


def test_match_new_unresolved_canonical_falls_back_to_batch(spark, match_new_fixture):
    """A gazetteer match whose canonical record is MISSING from the
    supplied entity map must fall back into the in-batch pool (not vanish
    from the delta) — the CLI accepts --entity-map and
    --transcripts-existing independently (r3 ADVICE)."""
    from sparklink.pipeline import SparkDedupe
    from sparklink.score import FieldModel

    base_p, delta_p, delta_ids, _ = match_new_fixture
    art = json.load(open("models/transcript_model.json"))
    dd = SparkDedupe(model=FieldModel.from_json(json.dumps(art)), threshold=float(art["threshold"]))
    base_t = spark.read.parquet(base_p)
    base_records = dd.canonical_records(base_t)

    # a new batch that is an exact copy of one existing conversation ->
    # guaranteed gazetteer hit on that record
    target = base_t.select("conv_id").distinct().orderBy("conv_id").limit(1).collect()[0][0]
    clone = base_t.filter(F.col("conv_id") == target).withColumn("conv_id", F.lit("zz_clone"))

    # a trivially valid entity map that OMITS the matched record
    em_partial = base_records.filter(F.col("conv_id") != target).select(
        F.col("conv_id").alias("record_id"),
        F.col("conv_id").alias("canon_id"),
        F.lit(None).cast("double").alias("cluster_score"),
    )
    delta = dd.match_new(clone, base_records, em_partial).toPandas()
    assert list(delta["record_id"]) == ["zz_clone"]  # present, via the in-batch pool
    assert delta["canon_id"].iloc[0] == "zz_clone"  # its own batch cluster, map untouched


# ---------------------------------------------------------------------------
# CLI: stored threshold 0.0 applies (r3 ADVICE, falsy-zero)
# ---------------------------------------------------------------------------


def test_cli_set_threshold_zero_applies():
    from sparklink.cli import _set_threshold
    from sparklink.pipeline import SparkDedupe

    dd = SparkDedupe()
    _set_threshold(dd, 0.0)
    assert dd.threshold == 0.0
    _set_threshold(dd, None)
    assert dd.threshold == 0.0  # None leaves the current value alone


# ---------------------------------------------------------------------------
# er_name_scores: name split + nickname fold + middle semantics, cross-engine
# ---------------------------------------------------------------------------


def test_er_name_scores_matches_duckdb_oracle(spark):
    """The production name-component path (_name_components split,
    _canonical_first diminutive fold, _middle_score) must value-match the
    DuckDB mirror at sf0.001 — the same comparison the driver's
    correctness gate runs at sf0.01."""
    import duckdb
    import pandas as pd

    from sparklink.queries import ORACLES, QUERIES

    sf = "/root/testdata/sf0.001"
    got = QUERIES["er_name_scores"](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
    want = con.execute(ORACLES["er_name_scores"]).df()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[sorted(df.columns)].copy()
        for c in ("first_sim", "last_sim", "middle_sim"):
            df[c] = df[c].astype("float64").round(6)
        df["doc_id"] = df["doc_id"].astype("int64")
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    pd.testing.assert_frame_equal(norm(got), norm(want))
    # fixture must actually exercise the semantics it claims to pin:
    # folded nicknames score 1.0, mismatched canonicals score < 1.0
    g = norm(got)
    assert (g.first_sim == 1.0).any() and (g.first_sim < 1.0).any()
    assert (g.middle_sim == 1.0).all()  # null / initial-agreement cases only


# ---------------------------------------------------------------------------
# r4: driver plan-size hardening (PLANS.md #18)
# ---------------------------------------------------------------------------


def test_widen_probe_runs_no_jobs_on_shuffle_frames(spark):
    """Under AQE, .rdd on a shuffle-bearing lazy frame finalizes the plan
    and EXECUTES upstream stages as untracked side jobs; the widen guard
    must not probe such frames at all."""
    from sparklink.util import widen_to_parallelism

    sc = spark.sparkContext
    agg = spark.range(100000).groupBy((F.col("id") % 7).alias("k")).count()
    before = list(sc.statusTracker().getJobIdsForGroup())
    out = widen_to_parallelism(agg)
    after = list(sc.statusTracker().getJobIdsForGroup())
    assert out is agg  # untouched: partitioning is AQE's business
    assert before == after  # and, critically, no side jobs ran


def test_address_multi_token_unit(spark):
    """Multi-token street units compare space/hyphen-insensitively
    ('Suite 100 B' ≡ 'Ste 100-B'), and a LEADING unit marker must not
    swallow the street (two-token cap)."""
    from sparklink.score import FieldModel, Variable

    pairs = spark.createDataFrame(
        [
            ("12 Main St Suite 100 B", "12 Main Street Ste 100-B"),   # multi-token unit, equal
            ("12 Main St Suite 100 B", "12 Main Street Suite 100B"),  # spacing variant, equal
            ("12 Main St Apt 4", "12 Main Street Apt 5"),             # conflicting unit
            ("12 Main St", "12 Main Street"),                          # both unit-less -> neutral 1.0
        ],
        "addr_a string, addr_b string",
    )
    m = FieldModel(variables=[Variable("addr", "address", has_missing=False)])
    d = m.distance_frame(pairs).toPandas()
    u = d["d_address_addr__unit"]
    assert u[0] == 1.0 and u[1] == 1.0, u.tolist()
    assert u[2] == 0.0
    assert u[3] == 1.0
    assert (d["d_address_addr__street"] > 0.999).all()  # street never polluted by the unit
    assert (d["d_address_addr__number"] == 1.0).all()


def test_synth_vocab_scale_one_is_bit_identical():
    """vocab_scale=1 must reproduce the historical fixture byte-for-byte
    (bench/oracle comparability across rounds); scale>1 multiplies the
    template space for the large-corpus quality rows."""
    import hashlib

    import pandas as pd

    from sparklink.synth import _scaled_vocab, make_transcripts

    t, tr = make_transcripts(n_entities=50, seed=7, vocab_scale=1)
    h = hashlib.md5(pd.util.hash_pandas_object(t).values.tobytes()).hexdigest()
    h2 = hashlib.md5(pd.util.hash_pandas_object(tr).values.tobytes()).hexdigest()
    # fingerprints captured on the pre-vocab_scale generator
    assert (h, h2) == ("1068078776d3f1db8deab0880374161d", "688ed214c973cf099d71e0300b52c286")
    assert len(_scaled_vocab(10)) == 10 * len(_scaled_vocab(1))
    t10, _ = make_transcripts(n_entities=50, seed=7, vocab_scale=10)
    assert not t.equals(t10)


def test_entity_map_truncates_refine_subtree(spark):
    """entity_map(refine=True) must not compose the refine applyInPandas
    subtree (referenced 3x downstream) into its output plan — persist
    chains embed whole cached plans into every consumer's executed-plan
    string and the driver pays minutes of stringify/analysis (PLANS.md
    #18). The refine boundary is a checkpoint: downstream sees LogicalRDD."""
    from sparklink.cluster import entity_map

    records = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["conv_id"])
    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8), ("c", "d", 0.2)],
        ["id_a", "id_b", "score"],
    )
    em = entity_map(scored, records, threshold=0.5, refine=True)
    plan = em._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandas" not in plan  # refine subtree truncated
    assert "LogicalRDD" in plan  # the checkpoint boundary is what remains
    # and the result is still correct
    rows = {r["record_id"]: r["canon_id"] for r in em.collect()}
    assert rows == {"a": "a", "b": "a", "c": "a", "d": "d"}


# ---------------------------------------------------------------------------
# bench CPU-tree accounting (scaling-evidence harness): live children and
# reaped children must both be charged to the root's tree
# ---------------------------------------------------------------------------


def test_tree_cpu_seconds_counts_live_and_reaped_children():
    import os
    import subprocess
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _tree_cpu_seconds

    burn = "import time; t=time.process_time()\nwhile time.process_time()-t < 1.0: pass"
    before = _tree_cpu_seconds(os.getpid())
    # reaped child: finished + waited-on -> counted via cutime/cstime
    subprocess.run([_sys.executable, "-c", burn], check=True)
    after_reaped = _tree_cpu_seconds(os.getpid())
    assert after_reaped - before >= 0.8, "reaped child CPU not charged to tree"
    # live child: still running at sample time -> counted via its own stat
    p = subprocess.Popen([_sys.executable, "-c", burn + "\nimport time; time.sleep(5)"])
    try:
        import time as _time

        _time.sleep(2.0)  # let it finish the 1 s burn, still alive (sleeping)
        during = _tree_cpu_seconds(os.getpid())
        assert during - after_reaped >= 0.8, "live child CPU not charged to tree"
    finally:
        p.kill()
        p.wait()


def test_tree_cpu_breakdown_buckets_by_process_kind():
    import os
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _tree_cpu_breakdown

    bd = _tree_cpu_breakdown(os.getpid())
    assert set(bd) == {"driver_py", "jvm", "workers_py"}
    # this test process is the root: all its own CPU lands in driver_py
    assert bd["driver_py"] > 0.0


def test_first_initial_matches_full_first_name(spark):
    from sparklink.score import FieldModel, Variable

    pairs = spark.createDataFrame(
        [
            ("J SMITH", "JOHN SMITH"),        # abbreviated given name
            ("SMITH, J", "JOHN SMITH"),       # comma form, initial side
            ("K SMITH", "JOHN SMITH"),        # initial CONFLICTS
            ("JOHN SMITH", "JOHN SMITH"),     # full equality still 1.0
        ],
        "name_a string, name_b string",
    )
    m = FieldModel(variables=[Variable("name", "name", has_missing=False)])
    d = m.distance_frame(pairs).toPandas()
    first = d["d_name_name__first"]
    assert first[0] >= 0.9 and first[1] >= 0.9
    assert first[2] < 0.8  # wrong initial is a mismatch, not an abbreviation
    assert first[3] == 1.0
    assert (d["d_name_name__last"] > 0.999).all()


def test_match_new_closes_in_batch_chains(spark):
    """new-B ~ new-A ~ existing-X where only A clears the gazetteer
    threshold: close_chains=True (default) lands B in X's entity via its
    in-batch cluster with A; close_chains=False reproduces the old
    unmatched-only behavior (B becomes its own new entity)."""
    from sparklink.linkage import SparkGazetteer
    from sparklink.pipeline import SparkDedupe
    from sparklink.score import FieldModel

    art = json.load(open("models/transcript_model.json"))
    model = FieldModel.from_json(json.dumps(art))

    shared = [
        "hello I need help with my cloud storage quota being exceeded",
        "sure let me look up the storage account details for you today",
        "the quota shows eighty five percent utilisation on the main bucket",
    ]
    unique_a = [
        "also please rotate the access keys zqx for vault kharbum seven",
        "done the new keys vrlp are active and the old pair is revoked",
        "thanks confirming ticket muzvo four four one closed as resolved",
    ]
    # B opens with A's (and X's) first turn so the prefix/token predicates
    # block B with A; the rest of B is a drift of A's UNIQUE tail, so
    # B ~ A is strong while B ~ X rests on one turn only
    drift_b = [
        shared[0],
        "also please rotate the access keys zqx for vault kharbum seven now",
        "done the new keys vrlp are active and old pair has been revoked",
        "thank you confirming the ticket muzvo four four one is now resolved",
        "and the vault kharbum seven access rotation is logged for audit",
    ]

    def conv(cid, texts):
        return [(cid, i, "user" if i % 2 == 0 else "assistant", t, None, None) for i, t in enumerate(texts)]

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    # X: shared + filler unrelated to A/B's unique tail
    x_rows = conv("x1", shared + [
        "separately the billing invoice for march needs a manual adjustment",
        "applied the credit of forty units to the march billing statement",
        "great that settles the invoice discrepancy we discussed earlier",
    ])
    a_rows = conv("a1", shared + unique_a)   # half X's content, half unique
    b_rows = conv("b1", drift_b)  # mostly A's unique tail, one turn of X's
    base_t = spark.createDataFrame(x_rows, schema)
    new_t = spark.createDataFrame(a_rows + b_rows, schema)

    dd = SparkDedupe(model=model, threshold=0.5)
    base_records = dd.canonical_records(base_t)
    em_base = base_records.select(
        F.col("conv_id").alias("record_id"),
        F.col("conv_id").alias("canon_id"),
        F.lit(None).cast("double").alias("cluster_score"),
    )

    # pick a threshold strictly between score(A,X) and score(B,X)
    gaz = SparkGazetteer(model=model, predicates=dd.predicates, threshold=0.0)
    gaz.index(base_records)
    new_records = dd.canonical_records(new_t)
    s = {r["messy_id"]: r["score"] for r in gaz.search(new_records, n_matches=1).collect()}
    gaz.unindex()
    s_b = s.get("b1", 0.0)  # B may produce no X candidate at all — stronger still
    assert s["a1"] > s_b, f"fixture must separate A/B vs X: {s}"
    thr = (s["a1"] + s_b) / 2.0

    closed = dd.match_new(new_t, base_records, em_base, threshold=thr)
    got = {r["record_id"]: r["canon_id"] for r in closed.collect()}
    assert got["a1"] == "x1"  # gazetteer assignment
    assert got["b1"] == "x1"  # chain-closed through A's in-batch cluster

    legacy = dd.match_new(new_t, base_records, em_base, threshold=thr, close_chains=False)
    got_legacy = {r["record_id"]: r["canon_id"] for r in legacy.collect()}
    assert got_legacy["a1"] == "x1"
    assert got_legacy["b1"] == "b1"  # old behavior: B is a new entity


# ---------------------------------------------------------------------------
# round-4 self-review fixes
# ---------------------------------------------------------------------------


def test_address_unit_marker_needs_word_boundary(spark):
    """'ste' inside 'western'/'chester' must NOT parse as a suite marker:
    the pair ('100 western ave', '100 western avenue') differs only in
    street-type abbreviation and must score street-equal with a neutral
    unit, not a fabricated unit conflict."""
    from sparklink.score import FieldModel, Variable

    pairs = spark.createDataFrame(
        [
            ("100 western ave", "100 western avenue"),
            ("12 chester st", "12 chester street"),
            ("5 baptist rd apt 3b", "5 baptist road apt 3-b"),  # real unit still parses
        ],
        "addr_a string, addr_b string",
    )
    m = FieldModel(variables=[Variable("addr", "address", has_missing=False)])
    d = m.distance_frame(pairs).toPandas()
    assert (d["d_address_addr__street"] > 0.999).all(), d["d_address_addr__street"].tolist()
    assert (d["d_address_addr__unit"] == 1.0).all(), d["d_address_addr__unit"].tolist()
    assert (d["d_address_addr__number"] == 1.0).all()


def test_partition_probe_refuses_intersect_and_truncated_plans(spark):
    from sparklink.util import _partition_probe_is_free

    a = spark.range(10).toDF("x")
    b = spark.range(5).toDF("x")
    assert _partition_probe_is_free(a)
    assert not _partition_probe_is_free(a.intersect(b))
    assert not _partition_probe_is_free(a.exceptAll(b))
    # a plan string at the maxPlanStringLength cap can hide shuffle nodes
    # past the truncation point — must be treated as unsafe
    import pyspark.sql.functions as F

    wide = a
    for i in range(60):
        wide = wide.withColumn(f"c{i}", F.concat(F.lit("v" * 400), F.col("x").cast("string")))
    plan = wide._jdf.queryExecution().analyzed().toString()
    if len(plan) >= 90_000:  # cap-dependent; holds under the session conf
        assert not _partition_probe_is_free(wide)


def test_scaling_summary_exact_metric_gated_count_and_true_median(tmp_path, monkeypatch):
    import bench

    lines = [
        {"metric": "scoring_scaling_efficiency_1_to_4", "value": 0.70, "cpu_efficiency": 0.80, "gated": False},
        {"metric": "scoring_scaling_efficiency_1_to_4", "value": 0.80, "cpu_efficiency": 0.90, "gated": True},
        {"metric": "scoring_scaling_efficiency_1_to_4", "value": 0.90, "cpu_efficiency": 0.95},
        {"metric": "scoring_scaling_efficiency_1_to_4", "value": 0.95, "cpu_efficiency": 0.97, "gated": True},
        # a different core pair: reported under its OWN rung, never mixed
        # into the 1->4 headline fields
        {"metric": "scoring_scaling_efficiency_2_to_8", "value": 0.10, "cpu_efficiency": 0.10},
        # full-pipeline metric (no scoring_ prefix): excluded entirely
        {"metric": "scaling_efficiency_1_to_4", "value": 0.10, "unit": "fraction"},
        # multi-JVM executor rung: its own row, must not break the
        # numeric rung sort or leak into the 1_to_4 headline
        {"metric": "scoring_scaling_efficiency_1x8core_to_4x8core_executors", "value": 0.66, "cpu_efficiency": 0.73, "gated": True},
    ]
    d = tmp_path / "bench_results"
    d.mkdir()
    (d / "scaling_r4.jsonl").write_text("\n".join(json.dumps(r) for r in lines))
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    s = bench._scaling_summary()
    assert s["n_readings"] == 4 and s["n_gated"] == 2
    assert s["wall_efficiency_median"] == 0.85  # true even-count median
    assert s["cpu_efficiency_median"] == 0.925
    # per-rung breakdown: 1_to_4 mirrors the headline, 2_to_8 is its own row
    assert set(s["pairs"]) == {"1_to_4", "2_to_8", "1x8core_to_4x8core_executors"}
    assert s["pairs"]["1_to_4"]["wall_efficiency_median"] == 0.85
    assert s["pairs"]["2_to_8"] == {
        "n_readings": 1,
        "n_gated": 0,
        "wall_efficiency_median": 0.1,
        "cpu_efficiency_median": 0.1,
    }
    # executor rung sorts after the thread rungs and keeps its own stats
    assert list(s["pairs"])[-1] == "1x8core_to_4x8core_executors"
    assert s["pairs"]["1x8core_to_4x8core_executors"]["wall_efficiency_median"] == 0.66


def test_get_spark_caps_blas_threads_per_task(spark):
    """A Spark task is the unit of parallelism; this container's OpenBLAS
    otherwise fans a single numpy matmul across all 32 visible cores
    (measured 31.9 CPU-s/wall-s), so 32 Arrow workers would run 1024
    runnable BLAS threads. get_spark must cap BLAS at one thread in the
    driver env (inherited by forked local-mode python workers) and carry
    the same cap to real executors via executorEnv."""
    import os

    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        assert os.environ.get(v) == "1"
        assert spark.conf.get(f"spark.executorEnv.{v}") == "1"
    # and the cap genuinely reaches the python workers
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    @F.udf(StringType())
    def worker_env():
        import os as _os

        return _os.environ.get("OPENBLAS_NUM_THREADS", "missing")

    got = spark.range(1).select(worker_env().alias("v")).head()[0]
    assert got == "1"


# ---------------------------------------------------------------------------
# hydrated_pairs / score_hydrated: the staged stage boundary the N-vs-4N
# executor proxy scores. Splitting scored_pairs at the hydration boundary
# must not change a single score, and the 4 hash-slices of the staged
# frame must score to exactly the full result (disjoint exact cover).
# ---------------------------------------------------------------------------
def test_score_hydrated_equals_scored_pairs(spark, fixture_dfs, tmp_path):
    import json as _json

    from pyspark.sql import functions as F

    from sparklink.pipeline import SparkDedupe
    from sparklink.score import FieldModel

    transcripts, _, _ = fixture_dfs
    art = _json.load(open("models/transcript_model.json"))
    dd = SparkDedupe(model=FieldModel.from_json(_json.dumps(art)), threshold=float(art["threshold"]))
    records = dd.canonical_records(transcripts)
    bm = dd.blocking_map(records)

    def key(df):
        return {
            (r["id_a"], r["id_b"], round(r["score"], 9))
            for r in df.select("id_a", "id_b", "score").collect()
        }

    full = key(dd.scored_pairs(records, bm))
    assert full, "fixture produced no scored pairs"

    # staged roundtrip: materialize the hydrated frame partitioned by the
    # executor-mode slice hash, re-read, score — identical scores
    hyd = dd.hydrated_pairs(records, bm).withColumn(
        "slice", F.pmod(F.xxhash64("id_a", "id_b"), F.lit(4))
    )
    path = str(tmp_path / "hyd.parquet")
    hyd.write.partitionBy("slice").parquet(path)
    staged = spark.read.parquet(path)
    assert key(dd.score_hydrated(staged)) == full

    # per-slice scoring is a disjoint exact cover of the full result
    sliced = [key(dd.score_hydrated(staged.where(F.col("slice") == k))) for k in range(4)]
    assert sum(len(s) for s in sliced) == len(full)
    union = set().union(*sliced)
    assert union == full


# ---------------------------------------------------------------------------
# Staged-boundary parity for the dedup/ANN plan-library ops: their plans
# read the signature/bucket frame three times (size agg + anti-join probe
# + self-join), so at scale a caller materializes that frame once and
# passes it in. Staged and inline paths must produce identical pairs.
# ---------------------------------------------------------------------------
def test_minhash_lsh_pairs_staged_sigs_parity(spark, tmp_path):
    from sparklink import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inline = dedup.minhash_lsh_pairs(docs, k=32, bands=8).collect()
    sigs = dedup.minhash_signatures(docs, k=32)
    path = str(tmp_path / "sigs.parquet")
    sigs.write.parquet(path)
    staged = dedup.minhash_lsh_pairs(
        docs, k=32, bands=8, sigs=spark.read.parquet(path)
    ).collect()
    key = lambda rows: {(r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in rows}  # noqa: E731
    assert key(inline) and key(staged) == key(inline)


def test_cosine_neardup_staged_buckets_parity(spark, tmp_path):
    from sparklink.ann import _hyperplanes, cosine_neardup_pairs, neardup_buckets

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = list(_hyperplanes(int(emb.select(F.size("embedding")).head()[0]), 16, seed=3))
    inline = cosine_neardup_pairs(emb, threshold=0.8, planes=planes, bands=4).collect()
    path = str(tmp_path / "buckets.parquet")
    neardup_buckets(emb, planes, bands=4).write.parquet(path)
    staged = cosine_neardup_pairs(
        emb, threshold=0.8, planes=planes, bands=4, buckets=spark.read.parquet(path)
    ).collect()
    key = lambda rows: {(r.id_a, r.id_b, round(r.cos, 9)) for r in rows}  # noqa: E731
    assert key(inline) == key(staged)
