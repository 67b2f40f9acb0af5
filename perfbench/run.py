"""sparklink benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload batch_dedupe --seed 42 --seconds 10 --trace 0

Runs from the root of a checkout. Spark runs as ``local[<cores>]`` with the
cores this process may use; Spark's local dirs, temporary files, warehouses
and inputs live under ``.perfbench_work/`` in the checkout and are removed
at exit, except the span JSONL of traced runs (``.perfbench_work/traces``).

Human-readable lines go first; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
See ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("batch_dedupe", "incremental_match")

SIZES = {
    # batch_dedupe input: the first 1,200 conversations of the synth corpus
    # (entities generated as needed), so every seed has the same size
    "batch_records": 1200,
    # incremental_match input: 2,400 conversations; 44 batches of 9 are
    # held out (4 warm, 40 timed), the other 2,004 are indexed
    "match_records": 2400,
    "match_batches": 40,
    "match_warm_batches": 4,
    "match_batch_size": 9,
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "quality_f1": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "canonicalize.s": "s",
    "canonicalize.records": "count",
    "canonicalize.spark_jobs": "count",
    "canonicalize.shuffle_bytes": "bytes",
    "canonicalize.spill_bytes": "bytes",
    "canonicalize.task_skew": "ratio",
    "canonicalize.plan_chars": "chars",
    "blocking.s": "s",
    "blocking.entries": "count",
    "blocking.spark_jobs": "count",
    "blocking.shuffle_bytes": "bytes",
    "blocking.spill_bytes": "bytes",
    "blocking.task_skew": "ratio",
    "blocking.plan_chars": "chars",
    "pairs.candidates": "count",
    "score.s": "s",
    "score.pairs_per_s": "1/s",
    "score.match_ratio": "ratio",
    "score.spark_jobs": "count",
    "score.shuffle_bytes": "bytes",
    "score.spill_bytes": "bytes",
    "score.task_skew": "ratio",
    "score.plan_chars": "chars",
    "cluster.s": "s",
    "cluster.spark_jobs": "count",
    "cluster.clusters": "count",
    "cluster.shuffle_bytes": "bytes",
    "cluster.spill_bytes": "bytes",
    "cluster.task_skew": "ratio",
    "cluster.plan_chars": "chars",
    "checkpoints.self_s": "s",
    "checkpoints.bytes_written": "bytes",
    "linkage.index_s": "s",
    "linkage.match_s": "s",
    "linkage.spark_jobs": "count",
    "linkage.plan_chars": "chars",
    "linkage.hit_ratio": "ratio",
    "linkage.shuffle_bytes": "bytes",
    "linkage.spill_bytes": "bytes",
    "linkage.task_skew": "ratio",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}


def host_settings(work: str) -> dict:
    """Spark settings fitted to this host, from the benchmark's own
    environment: every core this process may run on, a driver heap of a
    quarter of physical memory capped at 4 GiB (the session's own default
    is 48 g), and scratch space inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, min(4, int(mem_gib // 4)))}g"
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "driver_memory": driver_mem,
        "host_memory_gib": round(mem_gib, 1),
        "local_dirs": f"{work}/spark-local",
        "tmp_dir": f"{work}/tmp",
        "warehouse_dir": f"{work}/spark-warehouse",
        "python": sys.executable,
    }


def start_spark(host: dict):
    for d in (host["local_dirs"], host["tmp_dir"]):
        os.makedirs(d, exist_ok=True)
    # the JVM and its Python workers inherit these at launch
    os.environ["SPARK_LOCAL_DIRS"] = host["local_dirs"]
    os.environ["TMPDIR"] = host["tmp_dir"]
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["driver_memory"]
    os.environ["PYSPARK_PYTHON"] = host["python"]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = host["tmp_dir"]
    from sparklink.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=host["master"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": host["warehouse_dir"],
            # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={host['tmp_dir']} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the driver JVM and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.procfs import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measuring window per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparklink", "pipeline.py")):
        print(f"perfbench: no sparklink package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import workloads
    from perfbench.procfs import PeakRss
    from perfbench.stats import median, tail_percentile
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, run_id)
    host = host_settings(work)
    rss = PeakRss().start()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = start_spark(host)
        session_s = time.perf_counter() - T_START
        tracer.sc = spark.sparkContext
        ctx = workloads.Context(spark, ROOT, work, args.seed, args.seconds, tracer, SIZES)
        out = getattr(workloads, args.workload)(ctx)
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        if tracer.enabled and tracer.spans:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.write_jsonl(os.path.join(base, "traces", f"{run_id}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    log = out.log
    if not log.seconds:
        print(f"perfbench: no operation of {args.workload} succeeded: {log.errors[:3]}", file=sys.stderr)
        return 1
    tail = tail_percentile(log.seconds)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("host " + json.dumps(host, sort_keys=True))
    print("sizes " + json.dumps(SIZES, sort_keys=True))
    print("details " + json.dumps(out.details, sort_keys=True, default=str))
    print(f"session_s {session_s:.3f} s; input generation {out.inputs_s:.3f} s (not in setup_s)")
    print(f"ops {len(log.seconds)} ok of {log.attempted}; error_rate {log.error_rate:.4f} ratio")
    print(f"op_seconds {[round(x, 3) for x in log.seconds]}")
    print("op_tail_s " + (f"p{tail[0]:g} {tail[1]:.3f} s" if tail else "n/a (fewer than 10 samples beyond p75)"))
    for e in log.errors:
        print(f"failure: {e}")
    if args.trace:
        layers = dict(out.layers, **{"session.get_spark_s": tracer.by_name("session.get_spark")[0].seconds})
        layers["peak_rss_mb"] = rss.peak_mb
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        print(f"peak_rss_mb {rss.peak_mb:.1f} MB")
        e2e = {
            # process start to the first timed operation, without the
            # benchmark's own input generation
            "setup_s": ctx.t_first_op - T_START - out.inputs_s,
            "op_p50_s": median(log.seconds),
            "quality_f1": out.quality_f1,
        }
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"metric {k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": log.failed == 0, "attempted": log.attempted, "failed": log.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
