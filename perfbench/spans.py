"""Spans around calls into the program's layers, and the Spark counters
that fall inside each span.

A span is opened around one public call of one layer, and the call's
result is forced by its own action inside the span. The span tags its
jobs with ``SparkContext.setJobGroup``, so the counters Spark already
keeps can be matched to it afterwards:

* stage data (run time, CPU, GC, shuffle bytes, spill, task-time
  quantiles) from the application status store;
* operator metrics (``planGraph`` plus ``executionMetrics``) from the SQL
  status store, for every SQL execution whose jobs belong to the span.

Spans stay in memory until ``collect`` reads the stores once, at the end.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    children: list = field(default_factory=list)
    stages: list = field(default_factory=list)  # dicts, see _stage
    nodes: list = field(default_factory=list)  # (node name, desc, {metric: value})
    executions: list = field(default_factory=list)  # (physical plan text, seconds)
    jobs: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def stage_sum(self, key: str) -> float:
        return sum(s[key] for s in self.stages)

    def metric_sum(self, node: str, metric: str) -> float:
        return sum(m.get(metric, 0.0) for name, _, m in self.nodes if name == node)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def begin(self, name: str) -> Span:
        """Open a span that ``finish`` closes; for a layer whose work
        starts and ends in different calls."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"perfbench.{len(self.spans)}.{name}", parent)
        self.spans.append(sp)
        if parent:
            parent.children.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        return sp

    def finish(self) -> Span:
        sp = self._stack.pop()
        sp.end = time.perf_counter()
        if sp.parent:
            self.sc.setJobGroup(sp.parent.group, sp.parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return sp

    @contextmanager
    def span(self, name: str):
        sp = self.begin(name)
        try:
            yield sp
        finally:
            while self._stack and self._stack[-1] is not sp:
                self.finish()  # a begin() left open by an exception
            self.finish()

    def collect(self) -> None:
        """Attach each span's own stage data and operator metrics."""
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        status = self.sc._jsc.sc().statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        tracker = self.sc.statusTracker()
        job_owner: dict[int, Span] = {}
        for sp in self.spans:
            job_ids = tracker.getJobIdsForGroup(sp.group)
            sp.jobs = len(job_ids)
            stage_ids = set()
            for j in job_ids:
                job_owner[j] = sp
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            sp.stages = [s for s in (_stage(self.sc, status, i) for i in sorted(stage_ids)) if s]
        for ex in conv.asJava(sql.executionsList()):
            jobs = [int(j) for j in conv.asJava(ex.jobs()).keySet()]
            owners = {id(job_owner[j]): job_owner[j] for j in jobs if j in job_owner}
            if len(owners) != 1:
                continue
            sp = next(iter(owners.values()))
            eid = ex.executionId()
            done = ex.completionTime()
            secs = (done.get().getTime() - ex.submissionTime()) / 1e3 if done.isDefined() else 0.0
            sp.executions.append((ex.physicalPlanDescription(), secs))
            values = dict(conv.asJava(sql.executionMetrics(eid)).items())
            for node in conv.asJava(sql.planGraph(eid).allNodes()):
                metrics = {
                    m.name(): parse_metric(values.get(m.accumulatorId()))
                    for m in conv.asJava(node.metrics())
                }
                sp.nodes.append((node.name(), node.desc(), metrics))


def _stage(sc, status, stage_id: int) -> dict | None:
    try:
        sd = status.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 — py4j error for a stage that never ran
        return None
    if sd.status().toString() != "COMPLETE":
        return None  # skipped: its shuffle output was reused
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    med = mx = 0.0
    dist = status.taskSummary(stage_id, sd.attemptId(), quantiles)
    if dist.isDefined():
        run = dist.get().executorRunTime()
        med, mx = run.apply(0) / 1e3, run.apply(1) / 1e3
    return {
        "tasks": sd.numTasks(),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "input_records": sd.inputRecords(),
        "task_med_s": med,
        "task_max_s": mx,
    }


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text) -> float:
    """Total of one SQL metric as the status store formats it, in bytes,
    seconds or plain counts ("5,000", "2.8 MiB", "9.4 s", or a
    "total (min, med, max ...)" header followed by such a total)."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)
