"""Layer tracing from outside the library.

A ``Tracer`` wraps each call into a layer in a span. With tracing on, the
span labels its Spark jobs with a job group unique to that span, and on
exit reads what Spark itself recorded for those jobs: the job and stage
ids (``statusTracker``), each stage's task metrics (the status store's
``stageData``), and the SQL executions that ran them (plan-graph nodes).
Everything is read as soon as the span closes, because the session keeps
only the last 100 jobs and stages. The executions' plan graphs give the
scans, the Python (Arrow) nodes and the bytes those nodes moved. Catalyst
phase times are read from the frame that was actually consumed
(``catalyst``). Spans are kept in memory and summed per layer when the
run ends.

With tracing off every method is a no-op apart from the wall clock, so
the end-to-end figures are measured without any of this.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager

_STAGE_FIELDS = {
    "executor_cpu_ms": lambda d: d.executorCpuTime() / 1e6,
    "gc_ms": lambda d: d.jvmGcTime(),
    "shuffle_read_bytes": lambda d: d.shuffleReadBytes(),
    "shuffle_write_bytes": lambda d: d.shuffleWriteBytes(),
    "spill_bytes": lambda d: d.memoryBytesSpilled() + d.diskBytesSpilled(),
    "tasks": lambda d: d.numTasks(),
}


_ARROW_METRICS = {
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_received",
}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> float:
    """Bytes from a size metric as the SQL status store renders it: either
    ``"1.5 MiB"`` or a ``"total (min, med, max ...)"`` header followed by
    ``"1.5 MiB (...)"`` on the next line."""
    line = text.strip().splitlines()[-1]
    number, unit = line.split()[:2]
    return float(number.replace(",", "")) * _SIZE_UNITS.get(unit, 1)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals, in seconds."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class Span:
    """One timed call into a layer, with the Spark work it caused."""

    def __init__(self, layer: str, name: str, parent: "Span | None"):
        self.layer, self.name, self.parent = layer, name, parent
        self.start = self.end = 0.0
        self.counts: dict[str, float] = defaultdict(float)
        self.scan_locations: list[str] = []

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str]] = []
        self._ids = itertools.count()
        self.self_seconds = 0.0  # time spent reading Spark's status

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str = ""):
        parent = self._stack[-1][0] if self._stack else None
        sp = Span(layer, name, parent)
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._ids)}"
        if self.enabled:
            self._stack.append((sp, group))
            sc.setJobGroup(group, f"{layer}:{name}", False)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    outer_sp, outer_group = self._stack[-1]
                    sc.setJobGroup(
                        outer_group, f"{outer_sp.layer}:{outer_sp.name}", False
                    )
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                t0 = time.perf_counter()
                self._read_jobs(sp, group)
                self.self_seconds += time.perf_counter() - t0
                self.spans.append(sp)

    def _read_jobs(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        no_tasks = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        intervals = []
        stages = 0
        for job_id in job_ids:
            info = sc.statusTracker().getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                attempts = store.stageData(
                    stage_id, False, no_tasks, False, no_quantiles
                )
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if d.status().toString() == "SKIPPED":
                        continue
                    stages += 1
                    for key, read in _STAGE_FIELDS.items():
                        sp.counts[key] += read(d)
                    sub, done = d.submissionTime(), d.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append(
                            (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                        )
        sp.counts["jobs"] += len(job_ids)
        sp.counts["stages"] += stages
        sp.counts["stage_active_s"] += _union_seconds(intervals)
        if job_ids:
            self._read_executions(sp, set(job_ids))

    def _read_executions(self, sp: Span, job_ids: set[int]) -> None:
        """Scan locations, Python nodes and Arrow bytes of the SQL
        executions that ran ``job_ids``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = None
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name.startswith("Scan "):
                    sp.scan_locations.append(node.desc())
                if not any(t in name for t in ("Python", "InPandas", "InArrow")):
                    continue
                sp.counts["python_nodes"] += 1
                if values is None:
                    values = sql.executionMetrics(ex.executionId())
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = _ARROW_METRICS.get(metric.name())
                    if key is None:
                        continue
                    got = values.get(metric.accumulatorId())
                    if got.isDefined():
                        sp.counts[key] += _parse_size(got.get())

    # -- frame-level reads -------------------------------------------------
    def catalyst(self, sp: Span, df) -> None:
        """Catalyst phase times of ``df``. Pass the frame the action ran
        on (the consumed one): the query's own frame was never planned."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            if got.isDefined():
                sp.counts[f"{phase}_ms"] += got.get().durationMs()

    # -- summaries ---------------------------------------------------------
    @staticmethod
    def total(spans: list[Span], key: str) -> float:
        if key == "s":
            return sum(s.seconds for s in spans)
        return sum(s.counts.get(key, 0.0) for s in spans)
