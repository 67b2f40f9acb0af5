"""The benchmark's workloads.

Each workload prepares its inputs (untimed), then runs timed operations
back to back from one client, then checks every operation's output.
``batch_dedupe`` times one cold job; ``incremental_match`` times batches
until the measuring window has passed. A traced run wraps spans around the calls
into sparklink; an untraced run executes the same calls.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import checks, fixtures
from perfbench.stats import OpLog, median
from perfbench.trace import Tracer

clock = time.perf_counter


@dataclass
class Context:
    spark: object
    root: str  # checkout root: sparklink/ and models/ live here
    work: str  # this run's scratch directory
    seed: int
    seconds: float
    tracer: Tracer
    sizes: dict
    t_first_op: float = 0.0  # clock() when the first timed operation started


@dataclass
class Outcome:
    log: OpLog = field(default_factory=OpLog)
    inputs_s: float = 0.0  # input generation: the benchmark's own work, left out of setup_s
    quality_f1: float = 0.0
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced runs)
    details: dict = field(default_factory=dict)  # printed, not part of the result line


def load_model(root: str):
    from sparklink.score import FieldModel

    with open(os.path.join(root, "models", "transcript_model.json")) as f:
        text = f.read()
    return FieldModel.from_json(text), float(json.loads(text)["threshold"])


def run_window(ctx: Context, out: Outcome, op, n_max: int, min_ops: int = 1) -> list:
    """Closed loop, one client: call ``op(i)`` until the window has passed
    (and at least ``min_ops`` ran) or ``n_max`` operations ran. Returns
    ``(result, seconds)`` per operation, ``None`` for one that raised."""
    results = []
    t_end = clock() + ctx.seconds
    for i in range(n_max):
        t0 = clock()
        ctx.t_first_op = ctx.t_first_op or t0
        try:
            r = op(i)
        except Exception as e:  # an operation that raises is counted, not fatal
            traceback.print_exc()
            out.log.fail(f"op {i}: {e!r}"[:300])
            results.append(None)
        else:
            dt = clock() - t0
            out.log.ok(dt)
            results.append((r, dt))
        if i + 1 >= min_ops and clock() >= t_end:
            break
    return results


@contextmanager
def traced_sparklink(tracer: Tracer):
    """Spans around the calls sparklink makes into its catalog
    (``Catalog.stage`` and the stage's compute function) and into parquet
    writes, patched for the block's duration only. A stage span's self time
    is then the catalog's own work: resume lookup, re-load and row count of
    the written table, file walk and lineage append."""
    if not tracer.enabled:
        yield
        return
    from pyspark.sql.readwriter import DataFrameWriter

    from sparklink.checkpoints import Catalog

    orig_stage, orig_parquet = Catalog.stage, DataFrameWriter.parquet

    def stage(self, name, params, compute, partition_by=None):
        def traced_compute():
            with tracer.span("checkpoints.compute"):
                return compute()

        with tracer.span(f"checkpoints.stage.{name}"):
            return orig_stage(self, name, params, traced_compute, partition_by=partition_by)

    def parquet(self, *a, **kw):
        with tracer.span("parquet.write"):
            return orig_parquet(self, *a, **kw)

    Catalog.stage, DataFrameWriter.parquet = stage, parquet
    try:
        yield
    finally:
        Catalog.stage, DataFrameWriter.parquet = orig_stage, orig_parquet


def _stage_rows(warehouse: str) -> dict[str, int]:
    """Rows written per catalog stage, from the catalog's lineage log."""
    rows = {}
    path = os.path.join(warehouse, "_lineage.jsonl")
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("event") == "write":
                rows[r["stage"]] = int(r["rows"])
    return rows


def _parquet_bytes(warehouse: str) -> int:
    total = 0
    for d, _, files in os.walk(warehouse):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


# ---------------------------------------------------------------------------
# batch_dedupe
# ---------------------------------------------------------------------------


def batch_dedupe(ctx: Context) -> Outcome:
    """``SparkDedupe.partition`` over the seeded synth corpus, a fresh
    catalog warehouse per job, static model."""
    from sparklink.checkpoints import Catalog
    from sparklink.pipeline import SparkDedupe, default_transcript_predicates

    out = Outcome()
    n_records = ctx.sizes["batch_records"]
    t0 = clock()
    fx = fixtures.write_corpus(f"{ctx.work}/corpus", ctx.seed, n_records)
    out.inputs_s = clock() - t0
    model, threshold = load_model(ctx.root)
    transcripts = ctx.spark.read.parquet(fx["transcripts"])
    tracer = ctx.tracer

    def job(i, traced: bool) -> str:
        wh = f"{ctx.work}/warehouse{i}"
        dd = SparkDedupe(
            model=model, predicates=default_transcript_predicates(), threshold=threshold, catalog=Catalog(ctx.spark, wh)
        )
        if not traced:
            dd.partition(transcripts)
            return wh
        # each ER stage in its own span; partition() then resumes the
        # first three from the catalog and computes only the clustering
        with tracer.span("op"), traced_sparklink(tracer):
            with tracer.span("canonicalize"):
                records = dd.canonical_records(transcripts)
            with tracer.span("blocking"):
                bm = dd.blocking_map(records)
            with tracer.span("score"):
                dd.scored_pairs(records, bm)
            with tracer.span("cluster"):
                dd.partition(transcripts)
        return wh

    # One job per process, on a cold JVM, as a batch user runs it: later
    # jobs in the same process run on warmer code and are another
    # operation. Traced runs trace that job for the per-layer metrics, then
    # run warm jobs untraced, traced, untraced: the traced one minus the
    # mean of its neighbours is the tracing overhead.
    modes = [True, False, True, False] if tracer.enabled else [False]
    whs = run_window(ctx, out, lambda i: job(i, modes[i]), n_max=len(modes), min_ops=len(modes))

    truth = dict(zip(fx["truth"]["conv_id"], fx["truth"]["true_entity_id"]))
    f1s = []
    for i, res in enumerate(whs):
        if res is None:
            continue
        wh = res[0]
        obs, bad = _check_batch(ctx, wh, truth, fx["n_records"], threshold)
        bad += checks.compare_golden(obs, checks.BATCH_GOLDEN.get((n_records, ctx.seed)))
        if bad:
            out.log.fail_check(f"job {i}: " + "; ".join(bad))
        else:
            f1s.append(obs["f1"])
        out.details.setdefault("outputs", obs)
    out.quality_f1 = median(f1s) if f1s else 0.0
    if tracer.enabled and whs[0] is not None:
        out.layers = _batch_layers(tracer, out)
    return out


def _check_batch(ctx: Context, wh: str, truth: dict, n_records: int, threshold: float) -> tuple[dict, list[str]]:
    from pyspark.sql import functions as F

    rows = _stage_rows(wh)
    em = ctx.spark.read.parquet(os.path.join(wh, "entity_map")).toPandas()
    scored = ctx.spark.read.parquet(os.path.join(wh, "scored_pairs"))
    prf = checks.pairwise_f1(dict(zip(em["record_id"], em["canon_id"])), truth)
    obs = {
        "n_records": rows.get("records"),
        "n_block_entries": rows.get("blocking_map"),
        "n_scored_pairs": rows.get("scored_pairs"),
        "n_clusters": int(em["canon_id"].nunique()),
        "n_matches": scored.filter(F.col("score") >= threshold).count(),
        "f1": prf["f1"],
        "checkpoint_bytes": _parquet_bytes(wh),
    }
    bad = []
    if obs["n_records"] != n_records:
        bad.append(f"records stage holds {obs['n_records']} rows, corpus has {n_records} conversations")
    if len(em) != n_records or em["record_id"].nunique() != n_records:
        bad.append(f"entity_map has {len(em)} rows / {em['record_id'].nunique()} records, want {n_records}")
    if prf["f1"] < checks.MIN_F1:
        bad.append(f"pairwise F1 {prf['f1']:.4f} < {checks.MIN_F1}")
    return obs, bad


def _batch_layers(tracer: Tracer, out: Outcome) -> dict:
    """Per-layer metrics of the first (cold, traced) job."""
    from perfbench.trace import collect_counters

    collect_counters(tracer)
    op = tracer.by_name("op")[0]
    in_op = lambda name: [s for s in tracer.by_name(name) if s.start >= op.start and s.end <= op.end]  # noqa: E731
    first = {n: in_op(n)[0] for n in ("canonicalize", "blocking", "score", "cluster")}
    obs = out.details["outputs"]
    layers = {
        "canonicalize.s": first["canonicalize"].seconds,
        "canonicalize.records": obs["n_records"],
        "blocking.s": first["blocking"].seconds,
        "blocking.entries": obs["n_block_entries"],
        "pairs.candidates": obs["n_scored_pairs"],
        "score.s": first["score"].seconds,
        "score.pairs_per_s": obs["n_scored_pairs"] / first["score"].seconds,
        "score.match_ratio": obs["n_matches"] / obs["n_scored_pairs"],
        "cluster.s": first["cluster"].seconds,
        "cluster.clusters": obs["n_clusters"],
        "checkpoints.self_s": sum(
            tracer.self_seconds(s)
            for s in tracer.spans
            if s.name.startswith("checkpoints.stage.") and s.start >= op.start and s.end <= op.end
        ),
        "checkpoints.bytes_written": obs["checkpoint_bytes"],
    }
    for layer, s in first.items():
        layers[f"{layer}.spark_jobs"] = s.counters["spark_jobs"]
        layers[f"{layer}.shuffle_bytes"] = s.counters["shuffle_bytes"]
        layers[f"{layer}.spill_bytes"] = s.counters["spill_bytes"]
        layers[f"{layer}.task_skew"] = s.counters["task_skew"]
        layers[f"{layer}.plan_chars"] = s.counters["plan_chars"]
    secs = out.log.seconds
    if len(secs) == 4:
        layers["trace.overhead_s"] = secs[2] - (secs[1] + secs[3]) / 2
    return layers


# ---------------------------------------------------------------------------
# incremental_match
# ---------------------------------------------------------------------------


def incremental_match(ctx: Context) -> Outcome:
    """The gazetteer's daily loop: index the base corpus once, then match
    each arriving batch of held-out conversations against the index and
    append the matches to a parquet sink (the body of
    ``streaming.stream_gazetteer_matches``'s ``handle_batch``)."""
    from pyspark.sql import functions as F

    from sparklink.canonicalize import canonicalize
    from sparklink.checkpoints import Catalog
    from sparklink.linkage import SparkGazetteer
    from sparklink.pipeline import SparkDedupe, default_transcript_predicates

    out = Outcome()
    sz = ctx.sizes
    spark, tracer = ctx.spark, ctx.tracer
    model, threshold = load_model(ctx.root)
    t0 = clock()
    # the batches after the timed ones are the warm pass
    fx = fixtures.write_incremental(
        f"{ctx.work}/incremental",
        sz["match_records"],
        ctx.seed,
        sz["match_batches"] + sz["match_warm_batches"],
        sz["match_batch_size"],
    )
    out.inputs_s = clock() - t0
    base = spark.read.parquet(fx["base"])

    # index once, cold: the daily job's own set-up
    catalog = Catalog(spark, f"{ctx.work}/index")
    gaz = SparkGazetteer(model=model, predicates=default_transcript_predicates(), threshold=threshold)
    t0 = clock()
    with tracer.span("linkage.index"), traced_sparklink(tracer):
        dd = SparkDedupe(model=model, predicates=gaz.predicates, threshold=threshold, catalog=catalog)
        gaz.index(dd.canonical_records(base), catalog)
    out.details["index_s"] = round(clock() - t0, 3)

    def handle_batch(i: int, sink: str) -> int:
        with tracer.span("op"):
            batch_df = spark.read.parquet(fx["batches"][i])
            with tracer.span("source.is_empty"):
                if batch_df.isEmpty():
                    return 0
            with tracer.span("canonicalize"):
                records = canonicalize(batch_df)
            # Spark is lazy: the sink write executes canonicalize and match
            with tracer.span("linkage.match"), traced_sparklink(tracer):
                matches = gaz.match(records)
                matches.withColumn("batch_id", F.lit(i)).write.mode("append").parquet(sink)
        return len(fx["batch_ids"][i])

    # warm pass: the first batch after the index build runs on a cold
    # match path, twice as slow as the next, and the next few still speed up
    n_timed = sz["match_batches"]
    tracing = tracer.enabled
    tracer.enabled = False
    warm_s = []
    for i in range(n_timed, n_timed + sz["match_warm_batches"]):
        t0 = clock()
        handle_batch(i, f"{ctx.work}/warm_sink")
        warm_s.append(round(clock() - t0, 3))
    out.details["warm_batch_s"] = warm_s

    # traced runs trace even batches and leave odd ones untraced: the
    # difference of their medians is the tracing overhead
    sink = f"{ctx.work}/matches"

    def op(i: int) -> int:
        tracer.enabled = tracing and i % 2 == 0
        try:
            return handle_batch(i, sink)
        finally:
            tracer.enabled = tracing

    res = run_window(ctx, out, op, n_max=n_timed, min_ops=4 if tracing else 3)
    done = [i for i, r in enumerate(res) if r is not None]

    # reference: one bulk match of every held-out conversation; each
    # batch's sink rows must equal the reference rows of its records
    every = spark.read.parquet(*fx["batches"])
    ref = gaz.match(canonicalize(every)).toPandas()
    got = spark.read.parquet(sink).toPandas() if done else None
    truth = dict(zip(fx["truth"]["conv_id"], fx["truth"]["true_entity_id"]))

    def rows(df, ids):
        d = df[df["messy_id"].isin(ids)]
        return sorted(zip(d["messy_id"], d["canonical_id"], d["score"].round(6)))

    for i in done:
        ids = set(fx["batch_ids"][i])
        want = rows(ref, ids)
        have = rows(got[got["batch_id"] == i], ids)
        if have != want:
            out.log.fail_check(f"batch {i}: {len(have)} sink rows differ from the {len(want)} reference rows")
    golden = checks.MATCH_GOLDEN.get((sz["match_records"], len(fx["batches"]), sz["match_batch_size"], ctx.seed))
    if golden is not None and len(ref) != golden:
        out.log.fail_check(f"{len(ref)} hits over all batches, want {golden}")
    # quality over every held-out record: the reference rows equal the
    # sink rows of each batch that ran
    held = [c for b in fx["batch_ids"] for c in b]
    q = checks.match_quality(dict(zip(ref["messy_id"], ref["canonical_id"])), held, set(truth) - set(held), truth)
    out.quality_f1 = q["f1"]
    if q["f1"] < checks.MIN_MATCH_F1:
        out.log.fail_check(f"match F1 {q['f1']:.4f} < {checks.MIN_MATCH_F1}")
    out.details.update(
        hits_all_batches=len(ref),
        batches_done=len(done),
        batch_seconds=[round(r[1], 3) for r in res if r is not None],
        match_precision=round(q["precision"], 4),
        match_recall=round(q["recall"], 4),
        index_records=fx["n_base"],
    )
    if tracer.enabled and done:
        processed = [c for i in done for c in fx["batch_ids"][i]]
        hit_ratio = int(got["messy_id"].isin(processed).sum()) / len(processed)
        traced_s = [res[i][1] for i in done if i % 2 == 0]
        untraced_s = [res[i][1] for i in done if i % 2 == 1]
        out.layers = _match_layers(tracer, catalog.warehouse, [len(fx["batch_ids"][i]) for i in done], hit_ratio)
        if traced_s and untraced_s:
            out.layers["trace.overhead_s"] = median(traced_s) - median(untraced_s)
    return out


def _match_layers(tracer: Tracer, index_wh: str, batch_records: list[int], hit_ratio: float) -> dict:
    """Per-layer metrics: the index build, and medians over traced batches."""
    from perfbench.trace import collect_counters

    collect_counters(tracer)
    matches = tracer.by_name("linkage.match")
    index = tracer.by_name("linkage.index")[0]
    blocking = tracer.by_name("checkpoints.stage.gazetteer_index")[0]

    def med(key: str) -> float:
        return median([s.counters[key] for s in matches])

    return {
        "linkage.index_s": index.seconds,
        "linkage.match_s": median([s.seconds for s in matches]),
        "linkage.spark_jobs": med("spark_jobs"),
        "linkage.plan_chars": max(s.counters["plan_chars"] for s in matches),
        "linkage.hit_ratio": hit_ratio,
        "linkage.shuffle_bytes": med("shuffle_bytes"),
        "linkage.spill_bytes": med("spill_bytes"),
        "linkage.task_skew": med("task_skew"),
        "canonicalize.s": median([s.seconds for s in tracer.by_name("canonicalize")]),
        "canonicalize.records": median(batch_records),
        "blocking.s": blocking.seconds,
        "blocking.entries": _stage_rows(index_wh)["gazetteer_index"],
        "blocking.spark_jobs": blocking.counters["spark_jobs"],
        "blocking.shuffle_bytes": blocking.counters["shuffle_bytes"],
        "blocking.spill_bytes": blocking.counters["spill_bytes"],
        "blocking.task_skew": blocking.counters["task_skew"],
        "blocking.plan_chars": blocking.counters["plan_chars"],
        "checkpoints.self_s": sum(
            tracer.self_seconds(c) for c in tracer.children(index) if c.name.startswith("checkpoints.stage.")
        ),
        "checkpoints.bytes_written": _parquet_bytes(index_wh),
    }
