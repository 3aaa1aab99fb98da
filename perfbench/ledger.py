"""Tracing for the benchmark: spans, self-time arithmetic and Spark's
own metrics read from the status stores.

Spans are recorded from the benchmark's side only: ``Tracer.patch``
swaps a module attribute for a wrapper that opens a span around each
call, and ``Tracer.restore`` puts the original back.  Callers that look
the function up on its module at call time (the CLI imports inside
``main``) go through the wrapper.

Spark's numbers come from outside the program after each operation:

* ``AppStatusStore`` (jobs and stages): task time, GC, shuffle, spill,
  scan bytes;
* ``SQLAppStatusStore`` (SQL executions): per-operator metrics such as
  Python worker time and bytes, written files and bytes.

Both answer with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

# ---------------------------------------------------------------------------
# formatted SQL metric strings
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "min": 60.0,
         "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number in base units: bytes
    for sizes, seconds for timings, a plain count otherwise.

    Accepts the single-value forms (``"538.0 KiB"``, ``"32 ms"``,
    ``"1,234"``) and the per-task summary form, whose first value after
    the header line is the total::

        total (min, med, max (stageId: taskId))
        7.2 s (1.6 s, 1.9 s, 2.0 s (stage 0.0: task 1))
    """
    body = text.strip()
    if "\n" in body:
        body = body.split("\n", 1)[1]
    m = _VALUE.match(body)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


# ---------------------------------------------------------------------------
# spans and self time
# ---------------------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: Optional[int]
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]],
            lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.duration - covered(kids.get(s.span_id, []),
                                             s.start, s.end)
            for s in spans}


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.span_id]
    return out


class Tracer:
    """In-memory span recorder.  One instance per benchmark run."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._actions: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.op_id = 0
        # called with the innermost open action span (None when none is
        # open) so the caller can tag Spark jobs with the span that
        # issued them
        self.on_action = None

    @contextmanager
    def span(self, name: str, action: bool = False):
        s = Span(next(self._ids), name, self.op_id,
                 self._stack[-1].span_id if self._stack else None,
                 time.perf_counter())
        self._stack.append(s)
        if action:
            self._actions.append(s)
            if self.on_action:
                self.on_action(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if action:
                self._actions.pop()
                if self.on_action:
                    self.on_action(self._actions[-1] if self._actions
                                   else None)

    def patch(self, owner, attr: str, name: str,
              action: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name, action=action):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

#: SQL metric name of a Python plan node → per-layer key
_PY_TIMES = {
    "time to start Python workers": "py.start_s",
    "time to run Python workers": "py.run_s",
}
_PY_SIZES = {
    "data sent to Python workers": "py.bytes_in",
    "data returned from Python workers": "py.bytes_out",
    "number of output rows": "py.rows_in",
}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "MapInArrow", "FlatMapGroupsInPandas", "AggregateInPandas")
# the stage of the slowest task, in a per-task summary string
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def python_node_totals(nodes: list[dict[str, str]]) -> dict[str, float]:
    """Per-layer Python numbers of one SQL execution.

    ``nodes`` holds one dict per Python plan node: SQL metric name →
    formatted value.  Python nodes chained in one stage run inside the
    same task, each with its own worker, at the same time; adding their
    timers would count that time more than once.  So a time is the
    largest over the nodes of each stage, summed over stages.  A node
    whose values carry no stage counts as a stage of its own.  Bytes
    and rows are summed over nodes: each node moves its own data.
    """
    out = {k: 0.0 for k in (*_PY_TIMES.values(), *_PY_SIZES.values())}
    per_stage: dict[object, dict[str, float]] = {}
    for k, node in enumerate(nodes):
        stage: object = ("node", k)
        for text in node.values():
            m = _STAGE.search(text)
            if m:
                stage = int(m.group(1))
                break
        top = per_stage.setdefault(stage, {})
        for name, text in node.items():
            if name in _PY_TIMES:
                key = _PY_TIMES[name]
                top[key] = max(top.get(key, 0.0), parse_metric(text))
            elif name in _PY_SIZES:
                out[_PY_SIZES[name]] += parse_metric(text)
    for top in per_stage.values():
        for key, v in top.items():
            out[key] += v
    return out


@dataclass
class OpWindow:
    """Everything Spark ran between two snapshots."""
    jobs: list = field(default_factory=list)
    executions: list = field(default_factory=list)


class SparkStores:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._cores = sc.defaultParallelism
        self._seen_jobs = self._job_ids()
        self._seen_exec = self._exec_ids()

    def _job_ids(self) -> set:
        jl = self._app.jobsList(None)
        return {jl.apply(i).jobId() for i in range(jl.size())}

    def _exec_ids(self) -> set:
        el = self._sql.executionsList()
        return {el.apply(i).executionId() for i in range(el.size())}

    def take(self) -> OpWindow:
        """Jobs and SQL executions that finished since the last call."""
        jl = self._app.jobsList(None)
        jobs = [jl.apply(i) for i in range(jl.size())]
        new_jobs = [j for j in jobs if j.jobId() not in self._seen_jobs]
        el = self._sql.executionsList()
        execs = [el.apply(i) for i in range(el.size())]
        new_exec = [e for e in execs
                    if e.executionId() not in self._seen_exec]
        self._seen_jobs |= {j.jobId() for j in new_jobs}
        self._seen_exec |= {e.executionId() for e in new_exec}
        return OpWindow(new_jobs, new_exec)

    def _stage(self, sid: int):
        return self._app.stageData(
            sid, False, self._gw.jvm.java.util.ArrayList(), False,
            self._gw.new_array(self._gw.jvm.double, 0)).apply(0)

    @staticmethod
    def _ms(opt) -> Optional[float]:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def job_intervals(self, w: OpWindow) -> list:
        out = []
        for j in w.jobs:
            a, b = self._ms(j.submissionTime()), self._ms(j.completionTime())
            if a is not None and b is not None:
                out.append((a, b))
        return out

    @staticmethod
    def jobs_by_group(w: OpWindow) -> dict[str, int]:
        """Job count per job group (one group per action span)."""
        out: dict[str, int] = {}
        for j in w.jobs:
            g = j.jobGroup()
            key = g.get() if g.isDefined() else "-"
            out[key] = out.get(key, 0) + 1
        return out

    def layer_metrics(self, w: OpWindow, wall_s: float,
                      wall_epoch: tuple[float, float]) -> dict:
        """Per-layer numbers for one operation window."""
        m = {k: 0.0 for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
            "spark.gc_s", "shuffle.bytes_w", "shuffle.write_s",
            "shuffle.fetch_wait_s", "spill.bytes", "scan.bytes_r",
            "py.start_s", "py.run_s", "py.bytes_in", "py.bytes_out",
            "py.rows_in", "write.bytes", "write.files",
            "pipeline.scrub_rows")}
        m["spark.jobs"] = float(len(w.jobs))
        sids = set()
        for j in w.jobs:
            ids = j.stageIds()
            sids |= {int(ids.apply(i)) for i in range(ids.size())}
        for sid in sids:
            sd = self._stage(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            m["spark.stages"] += 1
            m["spark.tasks"] += sd.numCompleteTasks()
            m["spark.task_s"] += sd.executorRunTime() / 1e3
            m["spark.gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle.bytes_w"] += sd.shuffleWriteBytes()
            m["shuffle.write_s"] += sd.shuffleWriteTime() / 1e9
            m["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            m["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            m["scan.bytes_r"] += sd.inputBytes()
        for e in w.executions:
            self._sql_metrics(e.executionId(), m)
        lo, hi = wall_epoch
        busy = covered(self.job_intervals(w), lo, hi)
        m["spark.driver_s"] = max(wall_s - busy, 0.0)
        m["spark.busy_frac"] = m["spark.task_s"] / (wall_s * self._cores)
        return m

    def _sql_metrics(self, eid: int, m: dict) -> None:
        vals = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        py_nodes = []
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            py = name.startswith(_PY_NODES)
            write = name.startswith("Execute InsertInto")
            if not (py or write):
                continue
            values = {}
            metrics = node.metrics()
            for q in range(metrics.size()):
                metric = metrics.apply(q)
                v = vals.get(metric.accumulatorId())
                if v.isDefined():
                    values[metric.name()] = v.get()
            if py:
                py_nodes.append(values)
                # the fused PII-scrub UDF is the pandas UDF named
                # ``kernel`` inside an ArrowEvalPython node
                if (name.startswith("ArrowEvalPython")
                        and "kernel(" in node.desc()
                        and "number of output rows" in values):
                    m["pipeline.scrub_rows"] += parse_metric(
                        values["number of output rows"])
            else:
                for mname, key in (("written output", "write.bytes"),
                                   ("number of written files",
                                    "write.files")):
                    if mname in values:
                        m[key] += parse_metric(values[mname])
        for key, v in python_node_totals(py_nodes).items():
            m[key] += v
