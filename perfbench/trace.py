"""Spans around the calls into sparklink, and the Spark counters under them.

A span records name, start, end, parent and run id. Spans are kept in
memory and written as JSONL once the run ends. Each span sets its own Spark
job group, so the jobs it launched can be looked up afterwards in Spark's
status tracker and status store (jobs, tasks, shuffle bytes, spill, task
times) and in the SQL status store (the executed plan string). Nothing here
touches sparklink itself.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.run_id}-{self.span_id}"


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op
    so untraced runs share the workload code."""

    def __init__(self, run_id: str, enabled: bool, sc=None, clock=time.perf_counter):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None, self.run_id, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.span_id]

    def self_seconds(self, s: Span) -> float:
        return self_time(s, self.children(s))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["seconds"] = s.seconds
                rec["self_seconds"] = self.self_seconds(s)
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children may overlap each other (spans recorded from several threads),
    so their intervals are merged before they are subtracted."""
    lo, hi = span.start, span.end if span.end is not None else span.start
    ivs = sorted((max(lo, c.start), min(hi, c.end if c.end is not None else c.start)) for c in children)
    covered = 0.0
    cur_s = cur_e = None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


# ---------------------------------------------------------------------------
# Spark counters per span
# ---------------------------------------------------------------------------

_ZERO = {
    "spark_jobs": 0,
    "tasks": 0,
    "shuffle_bytes": 0,
    "spill_bytes": 0,
    "executor_run_ms": 0,
    "task_skew": 0.0,
    "plan_chars": 0,
}


def collect_counters(tracer: Tracer) -> None:
    """Fill ``span.counters`` for every span from Spark's status stores.

    Called once after the timed work, so the reads add nothing to the
    measured spans. A span's counters cover its own jobs plus those of its
    descendants."""
    sc = tracer.sc
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    plans = _plan_chars_by_job(sc)
    own: dict[int, dict] = {}
    for s in tracer.spans:
        jobs = tracker.getJobIdsForGroup(s.group)
        c = dict(_ZERO, spark_jobs=len(jobs))
        c["plan_chars"] = max((plans.get(j, 0) for j in jobs), default=0)
        dominant = (-1, 0.0)  # (executor run ms, skew) of the busiest stage
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = _stage(store, sid)
                if st is None:
                    continue
                c["tasks"] += st.numTasks()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run_ms = st.executorRunTime()
                c["executor_run_ms"] += run_ms
                if run_ms > dominant[0] and st.numTasks() > 1:
                    dominant = (run_ms, _task_skew(sc, store, sid, st.attemptId()))
        c["task_skew"] = dominant[1]
        own[s.span_id] = c
    for s in reversed(tracer.spans):  # children are recorded after parents
        total = dict(own[s.span_id])
        for ch in tracer.children(s):
            for k, v in ch.counters.items():
                if k in ("plan_chars", "task_skew"):
                    total[k] = max(total[k], v)
                else:
                    total[k] += v
        s.counters = total


def _stage(store, stage_id: int):
    from py4j.protocol import Py4JJavaError

    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # the stage was skipped (its shuffle output reused)
        return None


def _task_skew(sc, store, stage_id: int, attempt: int) -> float:
    """max / median executor run time of the stage's tasks."""
    q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    dist = store.taskSummary(stage_id, attempt, q)
    if dist.isEmpty():
        return 0.0
    run = dist.get().executorRunTime()
    med, mx = run.apply(0), run.apply(1)
    return float(mx / med) if med > 0 else 0.0


def _plan_chars_by_job(sc) -> dict[int, int]:
    """Executed-plan string length of each SQL execution, keyed by the ids
    of the jobs it ran (Spark caps the string at
    spark.sql.maxPlanStringLength)."""
    spark_session = sc._jvm.org.apache.spark.sql.SparkSession.active()
    sql_store = spark_session.sharedState().statusStore()
    out: dict[int, int] = {}
    it = sql_store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        n = len(ex.physicalPlanDescription() or "")
        jobs = ex.jobs().keys().mkString(",")
        for j in jobs.split(",") if jobs else ():
            out[int(j)] = max(out.get(int(j), 0), n)
    return out
