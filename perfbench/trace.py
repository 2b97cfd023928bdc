"""Tracing for the per-layer run: in-memory spans recorded by wrappers the
benchmark installs around the program's public functions, plus readers of
Spark's own status stores (jobs, stages, task metrics, SQL metrics).

A span is ``(id, parent, name, layer, iteration, start, end)``. Spans stay
in memory and are written out when the run ends. A layer's self time is
the length of its spans minus the part covered by their child spans.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from dataclasses import dataclass

# wrapped no-op calls timed to price one span; 2000 take a few ms and
# repeat within a few percent
_PROBE_CALLS = 2000


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    iteration: int
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.iteration = 0
        self._local = threading.local()
        self._root: int | None = None  # parent for spans from callback threads
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sp = Span(len(self.spans), parent, name, layer, self.iteration,
                      time.perf_counter())
            self.spans.append(sp)
        stack.append(sp.id)
        if self._root is None:
            self._root = sp.id
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sp.id:
            stack.pop()
        if self._root == sp.id:
            self._root = None

    def _traced(self, orig, name: str, layer: str):
        @functools.wraps(orig)
        def traced(*a, **kw):
            sp = self.begin(name, layer)
            try:
                return orig(*a, **kw)
            finally:
                self.end(sp)

        return traced

    def wrap(self, module: str, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a span-recording wrapper (undone by
        ``uninstall``)."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        setattr(mod, attr, self._traced(orig, attr, layer))
        self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer: each span minus its children's union."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not s.end:
                continue
            covered, cur = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - covered)
        return out

    def cost_per_span(self) -> float:
        """Seconds one wrapped call costs beyond the bare call: a no-op
        called through the same wrapper, on a separate tracer."""

        def noop():
            return None

        traced = Tracer()._traced(noop, "probe", "probe")
        t0 = time.perf_counter()
        for _ in range(_PROBE_CALLS):
            noop()
        t1 = time.perf_counter()
        for _ in range(_PROBE_CALLS):
            traced()
        t2 = time.perf_counter()
        return max(0.0, (t2 - t1) - (t1 - t0)) / _PROBE_CALLS

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class Job:
    id: int
    submitted: float
    completed: float
    stages: list[int]


def max_job_id(spark) -> int:
    ids = [j.jobId() for j in _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))]
    return max(ids, default=-1)


def max_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in _seq(store.executionsList())), default=-1)


def jobs_after(spark, job_id: int) -> list[Job]:
    out = []
    for j in _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None)):
        if j.jobId() <= job_id:
            continue
        sub, comp = _ms(j.submissionTime()), _ms(j.completionTime())
        if sub is None or comp is None:
            continue
        out.append(Job(j.jobId(), sub, comp, [int(s) for s in _seq(j.stageIds())]))
    return sorted(out, key=lambda j: j.id)


def stage_totals(spark, stage_ids: set[int]) -> dict[str, float]:
    """Summed task metrics of the given stages (every attempt)."""
    g = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    keys = ("executorRunTime", "executorCpuTime", "shuffleReadBytes",
            "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
            "jvmGcTime", "numTasks", "numFailedTasks", "inputRecords")
    tot = dict.fromkeys(keys, 0.0)
    tot["stages"] = 0.0
    for s in _seq(store.stageList(None, False, False, g.new_array(g.jvm.double, 0), None)):
        if s.stageId() not in stage_ids:
            continue
        tot["stages"] += 1
        for k in keys:
            tot[k] += getattr(s, k)()
    return tot


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def _parse_metric(text: str) -> float:
    """First value of a formatted SQL metric, in bytes or seconds."""
    line = text.split("\n", 1)[-1].strip()
    num, unit = line.split()[:2]
    unit = unit.rstrip(",(")
    num = float(num.replace(",", ""))
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


_PY_METRICS = {
    "data sent to Python workers": "mb_to_python",
    "data returned from Python workers": "mb_from_python",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
}


def python_worker_metrics(spark, after_execution: int) -> dict[str, float]:
    """Python-worker SQL metrics summed over executions newer than
    ``after_execution`` (each accumulator counted once)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(_PY_METRICS.values(), 0.0)
    for e in _seq(store.executionsList()):
        if e.executionId() <= after_execution:
            continue
        values = store.executionMetrics(e.executionId())
        seen = set()
        for m in _seq(e.metrics()):
            key = _PY_METRICS.get(m.name())
            aid = m.accumulatorId()
            if key is None or aid in seen:
                continue
            seen.add(aid)
            opt = values.get(aid)
            if opt.isDefined():
                out[key] += _parse_metric(opt.get())
    for k in ("mb_to_python", "mb_from_python"):
        out[k] /= 2**20
    return out
