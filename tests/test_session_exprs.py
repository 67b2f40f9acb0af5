"""Column expressions built once per session (session.session_expr).

The per-batch paths reuse stored expressions; these tests pin that a
stored expression is never stale (new weights, other extra columns, other
predicates, a new SparkContext), that the store stays flat across batches,
and that repeated batches stop recompiling generated code.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparklink.canonicalize import canonicalize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _store(spark) -> dict:
    return getattr(spark.sparkContext, "_sparklink_exprs", {})


def test_refit_changes_scores(spark):
    from sparklink.score import FieldModel, Variable

    model = FieldModel([Variable("n", "relnum", has_missing=False)])
    feats = pd.DataFrame({"d_relnum_n": [0.0, 0.2, 0.8, 1.0], "label": [0, 0, 1, 1]})
    frame = spark.createDataFrame(feats[["d_relnum_n"]])

    def spark_scores():
        return np.array([r["score"] for r in model.score(frame).orderBy("d_relnum_n").collect()])

    model.fit(feats)
    first = spark_scores()
    np.testing.assert_allclose(first, model.predict_proba(feats), rtol=1e-12)
    model.fit(feats.assign(label=[1, 1, 0, 0]))
    second = spark_scores()
    np.testing.assert_allclose(second, model.predict_proba(feats), rtol=1e-12)
    assert (np.diff(first) > 0).all() and (np.diff(second) < 0).all()


def test_canonicalize_extra_cols_build_their_own(spark, fixture_dfs):
    transcripts = fixture_dfs[0].withColumn("source", F.lit("web"))
    plain = canonicalize(transcripts)
    with_source = canonicalize(transcripts, extra_cols=["source"])
    again = canonicalize(transcripts)
    assert "source" not in plain.columns and "source" not in again.columns
    assert with_source.columns == plain.columns[:-1] + ["source", "n_tokens"]
    assert {r["source"] for r in with_source.select("source").distinct().collect()} == {"web"}
    assert again.exceptAll(plain).count() == 0 and plain.count() == again.count()


def test_predicate_lists_build_their_own(spark):
    from sparklink.blocking import Predicate, build_blocking_map, first_n_chars, first_token

    recs = spark.createDataFrame([("c1", "alpha beta"), ("c2", "alpine gamma")], "conv_id string, t string")
    by_token = [Predicate("tok(t)", "t", first_token)]
    by_prefix = [Predicate("pre2(t)", "t", lambda c: first_n_chars(c, 2))]

    def keys(preds):
        return sorted(r["block_key"] for r in build_blocking_map(recs, preds).collect())

    assert keys(by_token) == ["tok(t):alpha", "tok(t):alpine"]
    assert keys(by_prefix) == ["pre2(t):al", "pre2(t):al"]
    assert keys(by_token) == ["tok(t):alpha", "tok(t):alpine"]


def test_session_expr_threads_get_one_value(spark):
    """Threads racing on the same keys all get the one stored value."""
    import threading

    from sparklink.session import session_expr

    seen: dict = {}
    lock = threading.Lock()

    def worker():
        for i in range(300):
            key = ("thread-stress", i % 25)
            value = session_expr(key, object)
            with lock:
                seen.setdefault(key, set()).add(id(value))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert len(seen) == 25 and all(len(ids) == 1 for ids in seen.values())


def test_session_expr_evicts_least_recently_used(spark, monkeypatch):
    from sparklink import session

    session.session_expr(("lru", "a"), lambda: "a")
    store = _store(spark)
    monkeypatch.setattr(session, "_SESSION_EXPR_ENTRIES", len(store) + 1)
    session.session_expr(("lru", "b"), lambda: "b")
    session.session_expr(("lru", "a"), lambda: "stale")  # a becomes most recent
    session.session_expr(("lru", "c"), lambda: "c")  # evicts the oldest entry
    assert session.session_expr(("lru", "a"), lambda: "rebuilt") == "a"
    assert ("lru", "c") in store and len(store) == session._SESSION_EXPR_ENTRIES


_NEW_CONTEXT = """
import datetime, json
from pyspark.sql import SparkSession
from sparklink.canonicalize import canonicalize

def session():
    return SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()

rows = [
    ("c1", 0, "user", "Hello there", None, datetime.datetime(2025, 1, 1)),
    ("c1", 1, "assistant", "Hi", None, datetime.datetime(2025, 1, 1, 0, 1)),
]
schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
spark = session()
first = canonicalize(spark.createDataFrame(rows, schema)).collect()[0]["conv_text"]
stored = len(spark.sparkContext._sparklink_exprs)
spark.stop()
spark = session()
empty = getattr(spark.sparkContext, "_sparklink_exprs", None) is None
second = canonicalize(spark.createDataFrame(rows, schema)).collect()[0]["conv_text"]
spark.stop()
print(json.dumps({"stored": stored, "empty": empty, "first": first, "second": second}))
"""


def test_new_spark_context_starts_empty():
    env = {**os.environ, "PYTHONPATH": REPO, "PYSPARK_PYTHON": sys.executable}
    r = subprocess.run(
        [sys.executable, "-c", _NEW_CONTEXT], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got == {"stored": got["stored"], "empty": True, "first": "hello there hi", "second": "hello there hi"}
    assert got["stored"] > 0


@pytest.fixture(scope="module")
def gazetteer(spark, fixture_dfs, tmp_path_factory):
    """An indexed gazetteer and two held-out 6-conversation batches written
    as parquet, the shape of the benchmark's incremental loop."""
    from sparklink.linkage import SparkGazetteer
    from sparklink.score import FieldModel

    with open(os.path.join(REPO, "models", "transcript_model.json")) as f:
        text = f.read()
    transcripts = fixture_dfs[0]
    ids = sorted(r["conv_id"] for r in transcripts.select("conv_id").distinct().collect())
    held = ids[::7][:12]
    gaz = SparkGazetteer(model=FieldModel.from_json(text), threshold=float(json.loads(text)["threshold"]))
    gaz.index(canonicalize(transcripts.filter(~F.col("conv_id").isin(held))))
    root = tmp_path_factory.mktemp("gazetteer_batches")
    batches = []
    for i, part in enumerate((held[:6], held[6:])):
        path = str(root / f"b{i}.parquet")
        transcripts.filter(F.col("conv_id").isin(part)).write.parquet(path)
        batches.append(path)
    yield gaz, batches, str(root / "sink")
    gaz.unindex()


def _match_batch(spark, gaz, path: str, sink: str, batch_id: int) -> None:
    matches = gaz.match(canonicalize(spark.read.parquet(path)))
    matches.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)


def test_store_flat_across_batches(spark, gazetteer):
    gaz, batches, sink = gazetteer
    _match_batch(spark, gaz, batches[0], sink, 0)
    before = set(_store(spark))
    _match_batch(spark, gaz, batches[1], sink, 1)
    assert set(_store(spark)) == before and len(_store(spark)) == len(before)


def test_repeated_match_compiles_few_classes(spark, gazetteer):
    """A second same-shaped match plus write reuses the first one's
    generated code: at most 5 compiles. When every batch built fresh
    expressions, this repeat compiled 19 classes."""
    gaz, batches, sink = gazetteer
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    _match_batch(spark, gaz, batches[0], sink, 10)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    _match_batch(spark, gaz, batches[0], sink, 11)
    compiled = metrics.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled <= 5, f"{compiled} codegen compiles for a repeated batch"


def test_warm_match_budget(spark, gazetteer):
    """A warm batch's fixed cost: building ``match`` takes at most 250
    py4j round trips (about 410 before the index-side frames were built
    once and the messy side took one operation per step), the match plus
    its parquet write runs at most 8 Spark jobs (12 with the messy-side
    block cap), and the executed plan evaluates the scoring UDFs in one
    ArrowEvalPython."""
    import threading

    gaz, batches, sink = gazetteer
    sc = spark.sparkContext
    _match_batch(spark, gaz, batches[0], sink, 20)
    records = canonicalize(spark.read.parquet(batches[1]))
    client = type(sc._gateway._gateway_client)
    send = client.send_command
    calls = [0]
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        # py4j's finalizer thread releases garbage-collected proxies
        # through the same client; those are not this build's round trips
        calls[0] += threading.get_ident() == me
        return send(self, *args, **kwargs)

    client.send_command = counting
    try:
        matches = gaz.match(records)
    finally:
        client.send_command = send
    assert calls[0] <= 250, f"{calls[0]} py4j round trips to build match"

    group = "test-warm-match-budget"
    sc.setJobGroup(group, group)
    try:
        matches.withColumn("batch_id", F.lit(21)).write.mode("append").parquet(sink)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 8, f"{len(jobs)} Spark jobs for a warm match and write"

    matches.collect()
    plan = matches._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1, plan
