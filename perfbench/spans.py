"""Spans around calls into the program, with Spark's own metrics per span.

A span is one call into a layer's public function. Each span runs under its
own Spark job group, so the jobs it launched are exactly
``statusTracker().getJobIdsForGroup(span_id)`` — never a delta of global
job ids, which goes wrong once Spark evicts old jobs from its status store.
Spans are kept in memory; the status-store harvest runs after the measured
pass, outside its wall time.

Per span, the harvest reads:
- from the core status store: tasks, shuffle bytes written, bytes
  spilled, and per-stage median and max task run time (skew);
- from the SQL status store: "time to run Python workers" and the rows each
  Python-UDF plan node emitted, for every SQL execution whose jobs belong to
  the span.
"""

from __future__ import annotations

import contextlib
import re
import time
import uuid

_DURATION = re.compile(r"^\s*([0-9.]+)\s*(ms|s|m|h)\b")
_DURATION_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def _seconds(formatted: str) -> float:
    """Total of a Spark SQL timing metric as formatted by the status store:
    "25 ms", or a header line and then "12.5 s (313 ms, 2.4 s, 2.9 s ...)"."""
    m = _DURATION.match(formatted.strip().splitlines()[-1].replace(",", ""))
    return float(m.group(1)) * _DURATION_SCALE[m.group(2)] if m else 0.0


def _count(formatted: str) -> int:
    m = re.match(r"^\s*([0-9,]+)", formatted)
    return int(m.group(1).replace(",", "")) if m else 0


class Span:
    def __init__(self, sid: str, name: str):
        self.sid = sid
        self.name = name
        self.start = 0.0
        self.end = 0.0
        self.children: list = []
        self.counts: dict = {}
        # filled by Tracer.harvest
        self.jobs: list = []
        self.stats: dict = {}

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only times the call,
    so the untraced pass runs the same code without job groups."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.roots: list = []
        self._stack: list = []
        self._n = 0
        # job groups must be unique per tracer: the status store keeps the
        # jobs of earlier passes, and a reused group id would count them too
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        s = Span(f"{self._prefix}-{self._n}", name)
        (parent.children if parent else self.roots).append(s)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(s.sid, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    sc.setJobGroup(parent.sid, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def find(self, name: str) -> list:
        return [s for s in self.walk() if s.name == name]

    def walk(self):
        def rec(spans):
            for s in spans:
                yield s
                yield from rec(s.children)

        yield from rec(self.roots)

    # ------------------------------------------------------------------
    def harvest(self) -> None:
        """Attach job ids and Spark metrics to every span."""
        if not self.enabled:
            return
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        spans = list(self.walk())
        job_owner = {}
        for s in spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.sid))
            for j in s.jobs:
                job_owner[j] = s
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0] = 0.5
        quantiles[1] = 1.0
        for s in spans:
            st = {
                "jobs": len(s.jobs),
                "tasks": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "task_med_s": 0.0,
                "task_max_s": 0.0,
                "python_s": 0.0,
                "udf_rows": 0,
            }
            for j in s.jobs:
                it = store.job(j).stageIds().iterator()
                while it.hasNext():
                    sid = it.next()
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage never ran
                        continue
                    if sd.numCompleteTasks() == 0:
                        continue
                    st["tasks"] += sd.numCompleteTasks()
                    st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    summ = store.taskSummary(sid, sd.attemptId(), quantiles)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        st["task_med_s"] += rt.apply(0) / 1000.0
                        st["task_max_s"] += rt.apply(1) / 1000.0
            s.stats = st
        self._harvest_sql(job_owner)

    def _harvest_sql(self, job_owner: dict) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keys().iterator()
            owner = None
            while it.hasNext():
                owner = job_owner.get(it.next())
                if owner is not None:
                    break
            if owner is None:
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith(_PYTHON_NODES):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    if metric.name() == "time to run Python workers":
                        owner.stats["python_s"] += _seconds(v.get())
                    elif metric.name() == "number of output rows":
                        owner.stats["udf_rows"] += _count(v.get())

    def totals(self, spans) -> dict:
        """Sum of harvested stats over ``spans`` and all their children."""
        out: dict = {}
        for root in spans:
            stack = [root]
            while stack:
                s = stack.pop()
                for k, v in s.stats.items():
                    out[k] = out.get(k, 0) + v
                stack.extend(s.children)
        return out

    def to_json(self) -> list:
        def rec(s):
            return {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "counts": s.counts,
                "stats": s.stats,
                "job_ids": s.jobs,
                "children": [rec(c) for c in s.children],
            }

        return [rec(s) for s in self.roots]
