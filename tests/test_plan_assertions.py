"""Physical-plan assertions (scan pruning / pushdown) + bench-harness units.

The 100 TB posture claims in BENCH.md/PLANS.md rest on two Catalyst
properties that nothing previously pinned in CI: parquet scans must prune
to the columns the query needs (a scan that reads all columns for a
narrow projection re-reads the corpus), and record-level filters must
reach the scan as PushedFilters. These tests lock both, plus the r4
ADVICE fixes in bench.py's scaling summary.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sparklink.canonicalize import canonicalize


def _formatted_plan(df) -> str:
    """Post-AQE executed plan as text (same capture as test_round5._plan),
    which carries Scan parquet nodes with ReadSchema/PushedFilters."""
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def transcripts_parquet(spark, fixture_dfs, tmp_path_factory):
    """Transcript fixture written to parquet WITH two junk columns the
    engine never reads — pruning must drop them at the scan."""
    transcripts, _, _ = fixture_dfs
    path = str(tmp_path_factory.mktemp("plans") / "transcripts_wide.parquet")
    (
        transcripts.withColumn("junk_blob", F.repeat(F.lit("x"), 64))
        .withColumn("junk_num", F.monotonically_increasing_id())
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def test_canonicalize_scan_prunes_unused_columns(spark, transcripts_parquet):
    """canonicalize over a wide parquet must not read columns it never
    touches: ReadSchema in the formatted plan excludes the junk columns.
    At 100 TB the junk columns ARE most of the bytes (raw payloads,
    embeddings riding along in the same table)."""
    df = canonicalize(spark.read.parquet(transcripts_parquet))
    plan = _formatted_plan(df)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    for scan in scans:
        assert "junk_blob" not in scan, scan
        assert "junk_num" not in scan, scan
    # sanity: the columns it DOES need are read
    for col in ("conv_id", "turn_idx", "text"):
        assert any(col in scan for scan in scans), scans


def test_record_filter_pushes_down_to_scan(spark, transcripts_parquet):
    """A conv_id predicate over the parquet source must surface in
    PushedFilters (partition-pruning's row-group analogue)."""
    df = spark.read.parquet(transcripts_parquet).filter(F.col("conv_id") == "c-0001")
    plan = _formatted_plan(df)
    assert "PushedFilters" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(conv_id" in pushed, pushed


def test_canonicalize_single_exchange(spark, transcripts_parquet):
    """dedup_turns' window and the groupBy share the conv_id hash
    partitioning; the plan must contain exactly ONE shuffle of the turn
    rows (module docstring's one-shuffle contract)."""
    df = canonicalize(spark.read.parquet(transcripts_parquet))
    plan = _formatted_plan(df)
    n_exchanges = sum(1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln)
    assert n_exchanges == 1, plan


def test_index_predicates_add_no_exchange_over_token_stats(spark, fixture_dfs):
    """Canopy keys and minhash band keys read SparkDedupe._token_stats'
    persisted frames, which are partitioned by record_id: neither adds an
    Exchange beyond those inside the cached frame it reads (the minhash
    k-min aggregate is keyed by record_id, so it rides the cached layout)."""
    from sparklink import blocking as B
    from sparklink.pipeline import SparkDedupe

    transcripts, _, _ = fixture_dfs
    records = canonicalize(transcripts).localCheckpoint(eager=True)
    dd = SparkDedupe()
    st = dd._token_stats(records)
    try:
        canopy = B.tfidf_canopy_keys_from_vocab(st.vocab, st.n_docs, "conv_text", top_m=4)
        bands = B.minhash_band_keys_from_tokens(st.toks)
        for base, keys in ((st.vocab, canopy), (st.toks, bands)):
            plan = _formatted_plan(keys)
            assert plan.count("Exchange") == _formatted_plan(base).count("Exchange"), plan
    finally:
        dd.release_token_stats()


def test_scaling_summary_tolerates_unknown_rung_keys(monkeypatch, tmp_path):
    """r4 ADVICE: an unrecognized rung naming variant must sort last, not
    crash the whole headline summary with ValueError."""
    import bench

    results = tmp_path / "bench_results"
    results.mkdir()
    rows = [
        {"metric": "scoring_scaling_efficiency_1_to_4", "value": 0.9, "cpu_efficiency": 0.95, "gated": True},
        {
            "metric": "scoring_scaling_efficiency_1x2core_to_4x2core_executors",
            "value": 0.97,
            "cpu_efficiency": 0.99,
            "cpu_seconds": {"4_executors": 200.0},
        },
        # the naming variant the r4 ADVICE warned about — no leading int
        {"metric": "scoring_scaling_efficiency_weird-rung_to_somewhere", "value": 0.5},
    ]
    with open(results / "scaling_r4.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    out = bench._scaling_summary()
    assert out is not None
    keys = list(out["pairs"])
    assert keys[-1] == "weird-rung_to_somewhere"  # sorted last, present
    assert "1_to_4" in keys and "1x2core_to_4x2core_executors" in keys
    assert out["pairs"]["1_to_4"]["n_gated"] == 1


def test_scaling_summary_shortleg_quarantine(monkeypatch, tmp_path):
    """Executor-rung readings whose leg-B window is seconds long measure
    JVM spawn stagger, not scaling — they must summarize under a
    _shortleg key, not pollute the rung median."""
    import bench

    results = tmp_path / "bench_results"
    results.mkdir()
    rows = [
        {
            "metric": "scoring_scaling_efficiency_1x2core_to_4x2core_executors",
            "value": 0.66,
            "cpu_seconds": {"4_executors": 40.0},  # 40 / (4*2) = 5 s < 15 s
        },
        {
            "metric": "scoring_scaling_efficiency_1x2core_to_4x2core_executors",
            "value": 0.97,
            "cpu_seconds": {"4_executors": 400.0},  # 50 s per executor — real
        },
    ]
    with open(results / "scaling_r4.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    out = bench._scaling_summary()
    pairs = out["pairs"]
    assert pairs["1x2core_to_4x2core_executors"]["n_readings"] == 1
    assert pairs["1x2core_to_4x2core_executors"]["wall_efficiency_median"] == 0.97
    assert pairs["1x2core_to_4x2core_executors_shortleg"]["wall_efficiency_median"] == 0.66
