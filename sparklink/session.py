"""SparkSession factory with scale-oriented defaults.

Local mode is a test proxy; the confs are chosen so the same plans run
unchanged on a multi-executor cluster (AQE handles runtime re-planning,
skew-join splitting, and partition coalescing at any scale).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")

# Whole-stage codegen cache size (spark.sql.codegen.cache.maxEntries,
# Spark's default 100). A cold gazetteer match batch plus its parquet
# write compiles 65-74 classes; a warm batch reuses them only while they
# stay cached. Measured on a 4-core host with session-built expressions:
# at 100 entries the working set evicts itself and every few batches one
# recompiles ~40 classes (batches 2.6 s instead of 2.1 s); at 5,000 warm
# batches compile 2.
_CODEGEN_CACHE_ENTRIES = 5000

# Expressions kept per SparkContext by session_expr before the least
# recently used is dropped: well above the few dozen one pipeline or
# gazetteer builds, so only a process cycling through many models or
# predicate lists ever rebuilds.
_SESSION_EXPR_ENTRIES = 512
_SESSION_EXPR_LOCK = threading.Lock()


def session_expr(key: Hashable, build: Callable[[], T]) -> T:
    """``build()`` once per SparkContext and ``key``; later calls return
    the stored result.

    The per-batch paths (canonicalize, blocking keys, tf-idf arrays,
    distances, scores, the gazetteer's rank window) rebuild the same
    Column trees on every call. Building one costs a py4j round trip per
    node — thousands per gazetteer batch — and every higher-order function
    draws fresh lambda-variable names, so identical plans generate new
    code that whole-stage codegen compiles again. A stored Column is
    reused as-is: Python skips the round trips and the generated code
    repeats, so the codegen cache serves it.

    ``key`` must name everything the built value depends on (columns,
    predicate objects, corpus constants, model layout and weights): two
    calls with equal keys get the same object. The store lives on the
    active SparkContext, so a new context starts empty. Threads racing on
    one key may both build, and both get the value stored first.
    """
    sc = SparkContext._active_spark_context
    with _SESSION_EXPR_LOCK:
        store = getattr(sc, "_sparklink_exprs", None)
        if store is None:
            store = sc._sparklink_exprs = OrderedDict()
        if key in store:
            store.move_to_end(key)
            return store[key]
    # build outside the lock: it makes py4j calls
    value = build()
    with _SESSION_EXPR_LOCK:
        value = store.setdefault(key, value)
        if len(store) > _SESSION_EXPR_ENTRIES:
            store.popitem(last=False)
    return value


def _host_driver_memory() -> str:
    """A quarter of physical memory, rounded to whole GiB, 1-48 GiB: the
    driver shares the host with one Python worker per core."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(48, round(gib / 4)))}g"


def get_spark(
    app_name: str = "sparklink",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for the linkage workload.

    - AQE on: runtime coalescing + skew-join splitting (the candidate
      self-join on ``block_key`` is the skew hotspot; see blocking.py).
    - Arrow on: every scorer UDF is a vectorized pandas UDF.
    - shuffle partitions sized to cores locally; a real cluster would set
      this to ~2-3x total executor cores via spark-submit conf.
    - under ``spark-submit`` (gateway env present) submit-provided conf
      wins: defaults are only applied for keys the user did NOT pass, the
      submit ``--master`` is respected, and spark.driver.memory is left
      alone (the driver JVM already exists — a builder conf could not
      change it anyway; size it with ``spark-submit --driver-memory``).
    - outside spark-submit the master is ``local[<cores this process may
      run on>]`` and the driver heap a quarter of physical memory (at most
      48 g); SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override them.
    Explicit arguments (master / shuffle_partitions / extra_conf) always win.
    """
    # One BLAS thread per task: a Spark task is already the unit of
    # parallelism, and this container's OpenBLAS otherwise fans every
    # numpy matmul out across ALL visible cores (measured 31.9 CPU-s per
    # wall-s for a single 300x300 matmul loop on the idle 32-core host) —
    # 32 Arrow workers x 32 BLAS threads = 1024 runnable threads thrashing
    # the same cores. Must land in the environment BEFORE the JVM starts:
    # local-mode python workers are forked by the JVM, which inherits this
    # process's env at launch. executorEnv carries the same cap to real
    # multi-executor clusters. User-set values win.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    preset: dict[str, str] = {}
    if under_submit:
        from pyspark import SparkConf

        preset = dict(SparkConf(loadDefaults=True).getAll())
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and not under_submit:
        master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    shuffle_explicit = shuffle_partitions is not None
    if shuffle_partitions is None:
        heuristic_master = master or preset.get("spark.master", "")
        if heuristic_master.startswith("local["):
            inner = heuristic_master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200
    defaults = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Every SQL execution eagerly stringifies its physical plan for the
        # SparkListenerSQLExecutionStart event — even with the UI disabled.
        # On the fused iterative plans (CC rounds, scored-pairs subtree) the
        # formatted tree string reaches 100s of MB and the DRIVER burns
        # minutes in StringConcat/ArrayList.copyOf, serializing every
        # action (measured: 600+ CPU-seconds of a 34k-record run; a real
        # cluster's driver pays the same). Cap the string (append
        # short-circuits once full) and emit the cheap mode.
        "spark.sql.maxPlanStringLength": "100000",
        "spark.sql.ui.explainMode": "simple",
        "spark.sql.codegen.cache.maxEntries": str(_CODEGEN_CACHE_ENTRIES),
    }
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        defaults[f"spark.executorEnv.{_v}"] = os.environ[_v]
    if not under_submit:
        defaults["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in defaults.items():
        if k in preset and not (k == "spark.sql.shuffle.partitions" and shuffle_explicit):
            continue
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Spawn and warm the per-core Python UDF workers once per session.

    Every reused worker (spark.python.worker.reuse=true, the default) pays
    a one-time numpy/pandas/pyarrow import of ~2-4 CPU-seconds on its
    first Arrow batch. A long production job amortizes that to zero, but a
    session whose FIRST job is the scoring stage charges cores x imports
    to that stage (guide §4.5: heavyweight init once per task, not per
    batch). Warming at session build moves the cost where it belongs —
    session startup — and is idempotent (guarded per SparkContext).
    Disable with SPARKLINK_WARM_WORKERS=0.
    """
    if os.environ.get("SPARKLINK_WARM_WORKERS", "1") != "1":
        return
    sc = spark.sparkContext
    if getattr(sc, "_sparklink_workers_warm", False):
        return
    try:
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _warm(x: pd.Series) -> pd.Series:
            import numpy as _np  # noqa: F401
            import pyarrow as _pa  # noqa: F401

            return x * 1.0

        n = sc.defaultParallelism
        spark.sparkContext.setJobDescription("sparklink: warm python workers")
        spark.range(0, n * 2, 1, n * 2).select(_warm(F.col("id").cast("double"))).write.format(
            "noop"
        ).mode("overwrite").save()
        # Exercise the common operator framework once (shuffle exchange,
        # sort, hash/object aggregate, window, join, higher-order array
        # functions): the first janino whole-stage-codegen compilation
        # loads the compiler itself and C2-JITs the exchange/sort/agg hot
        # paths — several seconds that otherwise land inside whichever
        # user stage runs first. Tiny deterministic data; one job.
        from pyspark.sql import Window as _W

        d = spark.range(0, 4096, 1, n).select(
            F.col("id"), (F.col("id") % 97).alias("k"), F.array(F.col("id"), F.col("id") + 1).alias("arr")
        )
        agg = d.groupBy("k").agg(
            F.sum("id").alias("s"),
            F.collect_list(F.col("id")).alias("xs"),
        )
        w = _W.partitionBy("k").orderBy(F.desc("s"))
        warmed = (
            d.join(agg, "k")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("srt", F.array_sort("arr", lambda a, b: F.when(a < b, -1).when(a > b, 1).otherwise(0)))
            .withColumn("agg2", F.aggregate("arr", F.lit(0).cast("bigint"), lambda acc, x: acc + x))
        )
        warmed.write.format("noop").mode("overwrite").save()
        # parquet reader/writer + localCheckpoint machinery: the remaining
        # first-use costs a fresh session's first real stage would pay
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="sparklink_warm_")
        try:
            d.write.mode("overwrite").parquet(tmp)
            spark.read.parquet(tmp).localCheckpoint(eager=True).count()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        spark.sparkContext.setJobDescription(None)
        sc._sparklink_workers_warm = True
    except Exception:  # pragma: no cover - warm-up is best-effort
        pass
