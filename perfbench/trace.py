"""Spans around the benchmark's calls into each layer, plus what Spark's own
status stores recorded for each call.

A span records layer, name, start, end and its parent span. With tracing on,
every span also carries the engine work Spark logged while it was open:
new jobs, and the stage totals (tasks, executor run and CPU time, GC,
shuffle and spill), read from the live ``AppStatusStore``; and, when asked,
the SQL metrics of the plan nodes of each new SQL execution, read from the
``SQLAppStatusStore``. Nothing here runs a Spark action. Reads happen after
the call returns, so a call's own wall time excludes them; the time the
tracer spends reading is kept in ``Tracer.self_s`` and reported as the
tracing overhead.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

# stage fields summed per span: name -> (StageData accessor, scale to base unit)
STAGE_FIELDS = {
    "tasks": ("numTasks", 1.0),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_bytes": ("shuffleWriteBytes", 1.0),
    "shuffle_write_s": ("shuffleWriteTime", 1e-9),
    "memory_spill_bytes": ("memoryBytesSpilled", 1.0),
    "disk_spill_bytes": ("diskBytesSpilled", 1.0),
}

_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store renders it, in base units
    (seconds, bytes, or a plain count). Multi-task metrics render as
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total is the
    first value on the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric: {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2) or "", 1.0)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    parent: Optional[int]
    end: float = 0.0
    iteration: Optional[int] = None
    engine: dict = field(default_factory=dict)
    sql: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class SparkProbe:
    """Incremental reader of the live status stores: each ``delta`` covers
    only the jobs, stages and SQL executions created since ``mark``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()

    def _stages(self):
        # newest first (the store's view is reversed by stage id)
        return self.store.stageList(
            None, False, False, self._no_quantiles, self._no_status
        )

    def mark(self) -> tuple:
        stages = self._stages()
        last_stage = stages.apply(0).stageId() if stages.size() else -1
        execs = self.sql_store.executionsList()
        n = execs.size()
        last_exec = execs.apply(n - 1).executionId() if n else -1
        jobs = self.sc.statusTracker().getJobIdsForGroup()
        return last_stage, last_exec, max(jobs, default=-1)

    def delta(self, mark: tuple, sql: bool) -> dict:
        last_stage, last_exec, last_job = mark
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["jobs"] = sum(
            1 for j in self.sc.statusTracker().getJobIdsForGroup() if j > last_job
        )
        stages = []
        seq = self._stages()
        for i in range(seq.size()):
            st = seq.apply(i)
            if st.stageId() <= last_stage:
                break
            rec = {k: getattr(st, acc)() * scale for k, (acc, scale) in STAGE_FIELDS.items()}
            rec["stage_id"], rec["attempt"] = st.stageId(), st.attemptId()
            stages.append(rec)
            for k in STAGE_FIELDS:
                out[k] += rec[k]
        out["spill_bytes"] = out.pop("memory_spill_bytes") + out.pop("disk_spill_bytes")
        out["stages"] = stages
        out["sql"] = self._sql_since(last_exec) if sql else []
        return out

    def _sql_since(self, last_exec: int) -> list:
        """[(node name, metric name, value)] over every plan node of every
        SQL execution newer than ``last_exec``."""
        execs = self.sql_store.executionsList()
        out = []
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= last_exec:
                break
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((node.name(), m.name(), parse_metric(v.get())))
        return out

    def task_durations(self, stage_id: int, attempt: int) -> list:
        tasks = self.store.taskList(stage_id, attempt, 1 << 20)
        out = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                out.append(float(d.get()) / 1e3)
        return out


class Tracer:
    """Span recorder. Disabled, it only times; enabled, it also reads the
    status stores after each span (``probe``)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._open: list = []
        self.self_s = 0.0
        self.probe: Optional[SparkProbe] = None
        self.iteration: Optional[int] = None

    def attach(self, spark) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            self.probe = SparkProbe(spark)
            self.self_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str, name: str, sql: bool = False):
        parent = self._open[-1] if self._open else None
        mark = None
        if self.probe is not None:
            t0 = time.perf_counter()
            mark = self.probe.mark()
            self.self_s += time.perf_counter() - t0
        rec = Span(layer, name, time.perf_counter(), parent, iteration=self.iteration)
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._open.pop()
            if mark is not None:
                rec.engine = self.probe.delta(mark, sql)
                rec.sql = rec.engine.pop("sql")
                self.self_s += time.perf_counter() - rec.end

    def kernel_stage(self, span: Span) -> Optional[dict]:
        """The stage of ``span`` with the most executor run time, with its
        task durations: the stage that ran the Python kernel."""
        stages = span.engine.get("stages") or []
        if not stages or self.probe is None:
            return None
        t0 = time.perf_counter()
        st = max(stages, key=lambda s: s["executor_run_s"])
        st = dict(st, durations=self.probe.task_durations(st["stage_id"], st["attempt"]))
        self.self_s += time.perf_counter() - t0
        return st

    def to_json(self) -> list:
        return [
            {
                "layer": s.layer, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "iteration": s.iteration,
                "engine": {k: v for k, v in s.engine.items() if k != "stages"},
            }
            for s in self.spans
        ]
