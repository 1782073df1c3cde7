"""Spans for the traced benchmark run, with Spark's own counters per span.

Each span wraps one call the benchmark makes into the library. While a span
is open its Spark jobs carry the span's job group, so the counters can be
read back from outside the library when the run ends:

- job and stage metrics from the status store (executor run time, input,
  shuffle and spill bytes, tasks, failed tasks);
- Catalyst analysis + optimization + planning time from
  `queryExecution().tracker()` of each DataFrame the span collects;
- SQL metrics of the span's executions: Python-worker time of
  `mapInArrow` stages and rows out of join operators.

Listener events arrive asynchronously, so counters are read once, after
the listener bus has drained, in `finish()`. Spans stay in memory and are
written as JSON lines at exit.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_PLAN_PHASES = ("analysis", "optimization", "planning")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _seconds(metric: str) -> float:
    """Total of a formatted Spark timing metric: '12 ms' or
    'total (min, med, max ...)\\n10.5 s (2.6 s, ...)'."""
    m = re.match(r"\s*([0-9.,]+)\s*(ms|s|m|h)\b", metric.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _count(metric: str) -> int:
    m = re.match(r"\s*([0-9,]+)", metric.strip().splitlines()[-1])
    return int(m.group(1).replace(",", "")) if m else 0


def _scala_ints(seq) -> list[int]:
    return [int(seq.apply(i)) for i in range(seq.size())]


class Tracer:
    """Records spans when `enabled`; otherwise `span` yields None and costs
    a context-manager entry."""

    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = "setup"
        self.overhead_s = 0.0  # time spent inside span bookkeeping
        self._stack: list[Span] = []
        self._dfs: dict[int, list[DataFrame]] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.iteration, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{sp.id}")
        sc.setLocalProperty("spark.job.description", name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            for df in self._dfs.pop(sp.id, []):
                sp.counters["plan_ms"] = sp.counters.get("plan_ms", 0) + _plan_ms(df)
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{parent.id}")
                sc.setLocalProperty("spark.job.description", parent.name)
            self.overhead_s += time.perf_counter() - sp.end

    def collected(self, sp: Span | None, df: DataFrame) -> None:
        """Attribute `df`'s Catalyst phase times to `sp` once the span ends."""
        if sp is not None:
            self._dfs.setdefault(sp.id, []).append(df)

    def finish(self) -> None:
        """Read Spark's counters for every span's job group."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_span: dict[int, Span] = {}
        seen_stages: set[int] = set()
        for sp in self.spans:
            c = sp.counters
            for k in (
                "jobs", "tasks", "failed_tasks", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "exec_run_s", "job_s",
                "python_worker_s", "join_output_rows", "plan_ms",
            ):
                c.setdefault(k, 0)
            intervals = []
            for job in sorted(tracker.getJobIdsForGroup(f"perfbench-{sp.id}")):
                job_span[job] = sp
                jd = store.job(job)
                c["jobs"] += 1
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                for sid in _scala_ints(jd.stageIds()):
                    if sid in seen_stages:
                        continue  # a reused shuffle stage counts where it ran
                    seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage skipped before it was ever submitted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["tasks"] += st.numTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["exec_run_s"] += st.executorRunTime() / 1e3
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["job_s"] = _union_ms(intervals) / 1e3
            c["driver_ms"] = max(0.0, sp.wall_s - c["job_s"]) * 1e3
        self._sql_counters(job_span)

    def _sql_counters(self, job_span: dict[int, Span]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = [int(j) for j in ex.jobs().keys().toList().mkString(",").split(",") if j]
            owners = {job_span[j].id: job_span[j] for j in jobs if j in job_span}
            if len(owners) != 1:
                continue
            sp = next(iter(owners.values()))
            values = sql.executionMetrics(ex.executionId())
            graph = sql.planGraph(ex.executionId()).allNodes()
            for n in range(graph.size()):
                node = graph.apply(n)
                metrics = node.metrics()
                for m in range(metrics.size()):
                    pm = metrics.apply(m)
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    if pm.name() == "time to run Python workers":
                        sp.counters["python_worker_s"] += _seconds(v.get())
                    elif pm.name() == "number of output rows" and "Join" in node.name():
                        sp.counters["join_output_rows"] += _count(v.get())

    def records(self) -> list[dict]:
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + sp.wall_s
        return [
            {
                "id": sp.id,
                "name": sp.name,
                "parent": sp.parent,
                "iteration": sp.iteration,
                "start": sp.start,
                "end": sp.end,
                "wall_s": sp.wall_s,
                "self_s": sp.wall_s - child_s.get(sp.id, 0.0),
                **sp.counters,
            }
            for sp in self.spans
        ]

    @staticmethod
    def write(path: str, records: list[dict], summary: dict) -> None:
        with open(path, "w") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")
            f.write(json.dumps({"summary": summary}) + "\n")


def _plan_ms(df: DataFrame) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in _PLAN_PHASES:
        s = phases.get(p)
        if s.isDefined():
            total += s.get().durationMs()
    return total


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
