"""Deltas of Spark's status stores around one action.

Two stores are read, both populated with ``spark.ui.enabled=false``:

* the SQL store (``SharedState.statusStore``): per-operator metrics of
  every SQL execution, as the display strings the UI would show
  ("5.1 s", "10.7 MiB", or a task-level "total (min, med, max ...)" block);
* the core store (``SparkContext.statusStore``): jobs and stages, with
  task counts, run time, GC time, shuffle bytes and spill.

``StoreCursor.delta()`` returns what appeared since the previous call.
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_display(text: str) -> float:
    """A status-store display string in base units (bytes, seconds, count).

    Task-level metrics read "total (min, med, max (stageId: taskId))" on
    the first line and the values on the second; the total comes first.
    Average metrics have no total ("(min, med, max ...):" then
    "(1, 2, 3 ...)"); their median is returned."""
    if text.startswith("total ("):
        text = text.split("\n", 1)[1]
    elif text.startswith("(min, med, max"):
        text = text.split("\n", 1)[1].lstrip("(").split(", ")[1]
    m = _VALUE_RE.match(text)
    if not m:
        raise ValueError(f"unreadable metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in {text!r}")


@dataclass
class Delta:
    """Everything one action added to the stores."""

    # (operator name, metric name) → summed value in base units
    op_metrics: dict = field(default_factory=lambda: defaultdict(float))
    # operator name → how many such nodes the executions' plans hold
    op_counts: dict = field(default_factory=lambda: defaultdict(int))
    scan_paths: list = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0

    def op(self, name_prefix: str, metric: str) -> float:
        return sum(v for (op, m), v in self.op_metrics.items()
                   if op.startswith(name_prefix) and m == metric)

    def ops(self, name_prefix: str) -> int:
        return sum(n for op, n in self.op_counts.items() if op.startswith(name_prefix))


class StoreCursor:
    """Reads the status stores of one SparkSession incrementally."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = self._jsc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._seen_exec = self._sql.executionsCount()
        self._seen_jobs = {j.jobId() for j in self._list(self._core.jobsList(None))}
        self._seen_stages = {(s.stageId(), s.attemptId()) for s in self._stages()}

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def _stages(self):
        return self._list(self._core.stageList(None, False, False, self._no_quantiles, None))

    def delta(self) -> Delta:
        # the stores are fed by the listener bus: drain it first
        self._jsc.listenerBus().waitUntilEmpty()
        d = Delta()
        n_exec = self._sql.executionsCount()
        for e in self._list(self._sql.executionsList(self._seen_exec, n_exec - self._seen_exec)):
            eid = e.executionId()
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                name = node.name().strip()
                d.op_counts[name] += 1
                if name.startswith("Scan "):
                    d.scan_paths.append(node.desc())
                for m in self._list(node.metrics()):
                    raw = values.get(m.accumulatorId())
                    if raw:
                        d.op_metrics[(name, m.name())] += parse_display(raw)
        self._seen_exec = n_exec
        for j in self._list(self._core.jobsList(None)):
            if j.jobId() not in self._seen_jobs:
                self._seen_jobs.add(j.jobId())
                d.jobs += 1
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            d.tasks += s.numCompleteTasks()
            d.task_run_s += s.executorRunTime() / 1e3
            d.gc_s += s.jvmGcTime() / 1e3
            d.shuffle_write_bytes += s.shuffleWriteBytes()
            d.shuffle_read_bytes += s.shuffleReadBytes()
            d.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return d
