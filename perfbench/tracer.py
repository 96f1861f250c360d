"""Spans around calls into the program's layers, plus Spark's own metrics.

The tracer never edits the program: ``Tracer.wrap`` replaces a public
function (or method) with a wrapper that records a span around the call,
in every already-imported ``pii_redactor_spark`` module that bound it, and
``Tracer.restore`` puts the originals back. Spans are kept in memory and
written once at exit.

Spark's metrics come from the two status stores, which are filled with
``spark.ui.enabled=false`` too:

- ``statusStore().stageList`` — per stage: submission and completion
  time, task run/CPU/GC time, shuffle write, spill;
- the SQL store's ``planGraph`` + ``executionMetrics`` — per execution:
  each operator node's metrics (rendered strings, parsed back).

Each stage and SQL execution is attributed to the innermost span open at
its submission time.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = {}
        self.own_s = 0.0  # time spent in the tracer's bookkeeping
        self.pending: list = []  # probes deferred until the operation ends

    # -- spans ----------------------------------------------------------------
    def _open(self, name: str, attrs: dict) -> dict:
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1] if self._stack else None,
              "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self._open(name, attrs)
        try:
            yield sp
        finally:
            self._close(sp)

    def count(self, key: str, n: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def flush(self) -> None:
        """Run the deferred probes under one ``trace.probe`` span. Called
        between operations, so the Spark work a probe starts falls in no
        operation's window."""
        if not self.pending:
            return
        with self.span("trace.probe"):
            while self.pending:
                self.pending.pop(0)()

    # -- wrapping -------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Record a span ``name`` around every call of ``owner.attr``.
        ``before(args, kwargs)`` may rewrite the call's keyword
        arguments; ``after(span, args, kwargs, result)`` runs inside the
        span once the call returned (e.g. to add counters)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            if before is not None:
                before(args, kwargs)
            sp = self._open(name, {})
            self.own_s += time.perf_counter() - t0
            try:
                result = orig(*args, **kwargs)
                if after is not None:
                    t1 = time.perf_counter()
                    after(sp, args, kwargs, result)
                    self.own_s += time.perf_counter() - t1
                return result
            finally:
                self._close(sp)

        self._patch(owner, attr, wrapper)
        if isinstance(owner, type):
            return
        # rebind ``from module import fn`` copies made at import time
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("pii_redactor_spark")
                    and mod is not owner and getattr(mod, attr, None) is orig):
                self._patch(mod, attr, wrapper)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- output ---------------------------------------------------------------
    def write(self, path: Path, extra: dict | None = None) -> None:
        """Closed spans, each with its self time, plus the counters."""
        spans = [sp for sp in self.spans if sp["end"] is not None]
        own = self_times(spans)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"spans": [{**sp, "self_s": own[sp["id"]]} for sp in spans],
             "counters": self.counters, **(extra or {})}, default=str))


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(
                (sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"]) - union_length(
                clip(children.get(sp["id"], []), sp["start"], sp["end"]))
            for sp in spans}


def innermost(spans: list[dict], t: float) -> dict | None:
    """The deepest span open at time ``t`` (latest start wins)."""
    best = None
    for sp in spans:
        if sp["start"] <= t < sp["end"] and (
                best is None or sp["start"] >= best["start"]):
            best = sp
    return best


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_stages(spark, known=()) -> list[dict]:
    """Completed stages not in ``known`` with their task totals."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
    out = []
    it = store.stageList(None, False, False, empty, None).iterator()
    while it.hasNext():
        s = it.next()
        if (s.stageId(), s.attemptId()) in known:
            continue
        start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
        if start is None or end is None:
            continue  # skipped or still running
        out.append({
            "key": (s.stageId(), s.attemptId()), "start": start, "end": end,
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_write_s": s.shuffleWriteTime() / 1e9,
            "spill_bytes": s.diskBytesSpilled(),
        })
    return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def parse_metric(text: str) -> float:
    """A SQL metric as the SQL store renders it (``"2.2 s"``,
    ``"166.9 KiB"``, ``"1,234"`` or the multi-task form
    ``"total (min, med, max ...)\n2.2 s (...)"``) in seconds, bytes or
    units."""
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 \
        else lines[0]
    tok = line.split("(")[0].split()
    return float(tok[0].replace(",", "")) * (
        _UNITS[tok[1]] if len(tok) > 1 else 1.0)


def read_executions(spark, known=()) -> list[dict]:
    """SQL executions not in ``known`` with their operators' metrics:
    ``nodes = [{"name", "metrics": {metric name: value}}]``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() in known:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = []
        ni = store.planGraph(e.executionId()).allNodes().iterator()
        while ni.hasNext():
            n = ni.next()
            metrics = {}
            mi = n.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    try:
                        metrics[m.name()] = parse_metric(v.get())
                    except (ValueError, KeyError, IndexError):
                        pass  # averages and other non-additive renderings
            nodes.append({"name": n.name(), "metrics": metrics})
        out.append({"key": e.executionId(),
                     "start": e.submissionTime() / 1000.0, "nodes": nodes})
    return out


class SparkLog:
    """Accumulates stages and SQL executions across reads (the stores
    evict old entries past their retention limits, so read after each
    operation)."""

    def __init__(self):
        self.stages: dict = {}
        self.executions: dict = {}

    def read(self, spark, with_sql: bool = True) -> None:
        for s in read_stages(spark, self.stages):
            self.stages[s["key"]] = s
        if with_sql:
            for e in read_executions(spark, self.executions):
                self.executions[e["key"]] = e
