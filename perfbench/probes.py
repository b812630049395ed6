"""Measurement probes that read the system from outside the library.

- ``Tracer`` wraps one operation in read / build / plan / write spans, tags
  every Spark job it launches with a job description, and afterwards
  reads the job, stage and SQL-execution records from Spark's status
  stores (``statusStore`` of the SparkContext and of the SQL shared
  state; both are populated with ``spark.ui.enabled=false``).
- ``HostCpu`` turns ``/proc/stat`` deltas into busy and steal fractions.
- ``RssPeak`` sums the peak resident set (``VmHWM``) of this process,
  the driver JVM and every Python worker below it.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric names Spark gives the Python-worker operators
# (MapInPandas, FlatMapGroupsInPandas, ArrowEvalPython, ...)
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

# every per-op fact Tracer.finish records; per-pass sums of these are
# the traced run's operator / plan / exec / python / sources metrics
TRACE_KEYS = (
    "operators.build_s", "operators.build_jobs", "operators.build_self_s",
    "plans.plan_s", "plans.exchanges", "plans.single_partition_exchanges",
    "plans.python_stages",
    "exec.s", "exec.jobs", "exec.tasks", "exec.executor_cpu_s",
    "exec.executor_run_s", "exec.shuffle_write_bytes", "exec.spill_bytes",
    *PYTHON_METRICS.values(),
    "sources.read_s", "sources.write_s", "sources.self_s", "sources.bytes_written",
)

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric in bytes or seconds: ``"3.1 MiB"``,
    ``"12 ms"`` or the multi-task form ``"total (min, med, max ...)\\n
    4.6 MiB (...)"`` whose first figure is the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


def _iter(java_collection):
    it = java_collection.iterator()
    while it.hasNext():
        yield it.next()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op_id: str


@dataclass
class OpTrace:
    """Per-layer facts of one traced operation."""

    op_id: str
    spans: list[Span] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    exec_watermark: int = -1  # last SQL execution id before the op


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        ids = [e.executionId() for e in _iter(self._sql.executionsList())]
        return max(ids, default=-1)

    @contextmanager
    def phase(self, trace: OpTrace, name: str):
        """Time one phase and tag the jobs it launches ``<op_id>|<name>``."""
        self.sc.setJobDescription(f"{trace.op_id}|{name}")
        t0 = time.time()
        try:
            yield
        finally:
            trace.spans.append(Span(name, t0, time.time(), "op", trace.op_id))
            self.sc.setJobDescription(None)

    def start(self, op_id: str) -> OpTrace:
        return OpTrace(op_id, exec_watermark=self._last_execution_id())

    def finish(self, trace: OpTrace, df, out_path: Path) -> OpTrace:
        """Attribute the op's jobs, stages and SQL metrics to its layers;
        ``df`` is the op's result, written to ``out_path``."""
        m = trace.metrics
        spans = {s.name: s for s in trace.spans}
        jobs: dict[str, list] = {"read": [], "build": [], "plan": [], "write": []}
        stage_ids: set[int] = set()
        for job in _iter(self._app.jobsList(None)):
            desc = job.description()
            if not desc.isDefined():
                continue
            op_id, _, phase = desc.get().rpartition("|")
            if op_id != trace.op_id or phase not in jobs:
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                jobs[phase].append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            if phase == "write":
                stage_ids.update(int(s) for s in _iter(job.stageIds()))
        trace.spans.insert(0, Span(
            "op", trace.spans[0].start, trace.spans[-1].end, None, trace.op_id
        ))
        build_jobs_s = _union_s(jobs["build"])
        exec_s = _union_s(jobs["write"])
        build = spans["build"].end - spans["build"].start
        write = spans["write"].end - spans["write"].start
        if jobs["write"]:
            lo = min(a for a, _ in jobs["write"])
            hi = max(b for _, b in jobs["write"])
            trace.spans.append(Span("exec", lo, hi, "write", trace.op_id))
        m["operators.build_s"] = build
        m["operators.build_jobs"] = len(jobs["build"])
        m["operators.build_self_s"] = max(build - build_jobs_s, 0.0)
        m["plans.plan_s"] = spans["plan"].end - spans["plan"].start
        m["exec.s"] = exec_s
        m["exec.jobs"] = len(jobs["write"])
        m["sources.read_s"] = spans["read"].end - spans["read"].start
        m["sources.write_s"] = write
        m["sources.self_s"] = max(write - exec_s, 0.0)
        m["sources.bytes_written"] = sum(f.stat().st_size for f in out_path.iterdir() if f.is_file())
        m.update(plan_facts(df))

        tasks = cpu_ns = run_ms = shuffle = spill = 0
        ArrayList = self.sc._jvm.java.util.ArrayList
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for st in _iter(self._app.stageList(ArrayList(), False, False, no_quantiles, ArrayList())):
            if st.stageId() in stage_ids:
                tasks += st.numCompleteTasks()
                cpu_ns += st.executorCpuTime()
                run_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        m["exec.tasks"] = tasks
        m["exec.executor_cpu_s"] = cpu_ns / 1e9
        m["exec.executor_run_s"] = run_ms / 1e3
        m["exec.shuffle_write_bytes"] = shuffle
        m["exec.spill_bytes"] = spill

        for key in PYTHON_METRICS.values():
            m[key] = 0.0
        for ex in _iter(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= trace.exec_watermark:
                continue
            values = self._sql.executionMetrics(eid)
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                for metric in _iter(node.metrics()):
                    key = PYTHON_METRICS.get(metric.name())
                    value = values.get(metric.accumulatorId())
                    if key and value.isDefined():
                        m[key] += parse_metric(value.get())
        return trace


def plan_facts(df) -> dict[str, float]:
    """Physical-plan node counts from the library's own plan audit."""
    from pandarallel_spark.plans.audit import scale_audit

    a = scale_audit(df)
    return {
        "plans.exchanges": a.exchanges,
        "plans.single_partition_exchanges": a.single_partition_exchanges,
        "plans.python_stages": a.python_arrow_stages + a.python_row_stages,
    }


class HostCpu:
    """Busy and steal shares of all CPU time between two readings."""

    @staticmethod
    def read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]

    @staticmethod
    def fractions(before: list[int], after: list[int]) -> dict[str, float]:
        d = [b - a for a, b in zip(before, after)]
        total = sum(d[:8]) or 1  # user..steal; guest time is inside user
        idle = d[3] + d[4]
        steal = d[7] if len(d) > 7 else 0
        return {"host.busy_frac": (total - idle) / total, "host.steal_frac": steal / total}


def children() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process in /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssPeak:
    """Peak RSS of this process and all its descendants (the driver JVM
    and the Python daemon and workers it forks), summed over processes.
    Each process's ``VmHWM`` is its lifetime peak, so sampling any time
    before it exits is enough; sample last before the session stops."""

    def __init__(self):
        self.peaks: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self.alive: set[int] = set()

    def sample(self) -> None:
        kids = children()
        todo, self.alive = [os.getpid()], set()
        while todo:
            pid = todo.pop()
            self.alive.add(pid)
            self.peaks[pid] = max(self.peaks.get(pid, 0), _hwm_kb(pid))
            self.names.setdefault(pid, _name(pid))
            todo.extend(kids.get(pid, ()))

    def by_process(self) -> dict[str, float]:
        """Peak MB per process of the last sample, keyed ``<pid>:<command>``."""
        return {f"{pid}:{self.names[pid]}": self.peaks[pid] / 1024.0 for pid in sorted(self.alive)}

    @property
    def mb(self) -> float:
        """Summed over the processes alive at the last sample."""
        return sum(self.peaks[pid] for pid in self.alive) / 1024.0
