"""Traced-run instrumentation, measured from outside the program.

* ``Tracer`` keeps spans in memory: name, start, end, parent and the
  operation they belong to. Each span sets the Spark job group to its own
  id, so every job the span issues can be attributed to it afterwards.
* ``Tracer.instrument`` wraps the public functions of the layers named in
  ``LAYERS``. ``pipelines``/``catalog`` modules bind ``ops``/``ext``
  functions by name at import, so every module attribute that *is* the
  original function is re-pointed, not only the defining module's.
* py4j round trips are counted by wrapping the gateway client's
  ``send_command``.
* ``event_log_metrics`` parses the uncompressed Spark event log written
  during the run and attributes jobs, tasks and SQL metrics to spans.

A layer's self time is its span's duration minus the part covered by its
child spans (``self_times``).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# (module, function) -> span name; a module entry with function None wraps
# every public function the module defines. First match wins.
LAYERS: list[tuple[str, str | None, str]] = [
    ("sparkwrangle.io", "load_table", "io.load"),
    ("sparkwrangle.io", "load_tables", "io.load"),
    ("sparkwrangle.io", "load_user_parquet", "io.load"),
    ("sparkwrangle.io", "register_views", "io.load"),
    ("sparkwrangle.io", "write_table", "io.write_table"),
    ("sparkwrangle.sql_dialect", "translate", "sql_dialect.translate"),
    ("sparkwrangle.pipelines.intraday", "build_intraday_feed", "pipelines.build_intraday_feed"),
    ("sparkwrangle.pipelines.intraday", "intraday_backtest", "pipelines.intraday_backtest"),
    ("sparkwrangle.pipelines.intraday", "balance_report", "pipelines.report"),
    ("sparkwrangle.pipelines.intraday", "trade_report", "pipelines.report"),
    ("sparkwrangle.pipelines.daily_pairs", "daily_pairs_backtest", "pipelines.daily_pairs_backtest"),
    ("sparkwrangle.pipelines.daily_pairs", "compounded_return_pct", "pipelines.report"),
    ("sparkwrangle.ops.windows", None, "ops.build"),
    ("sparkwrangle.ops.joins", None, "ops.build"),
    ("sparkwrangle.ops.filters", None, "ops.build"),
    ("sparkwrangle.ops.aggregates", None, "ops.build"),
    ("sparkwrangle.ops.reshape", None, "ops.build"),
    ("sparkwrangle.ops.skew", None, "ops.build"),
    ("sparkwrangle.ext.dedup", "lsh_verified_pairs", "ext.dedup.lsh_verified_pairs"),
    ("sparkwrangle.ext.dedup", "connected_components", "ext.dedup.connected_components"),
    ("sparkwrangle.ext.dedup", None, "ext.dedup.call"),
    ("sparkwrangle.ext.text", None, "ext.text.call"),
    ("sparkwrangle.ext.hashing", None, "ext.hashing.call"),
    ("sparkwrangle.ext.similarity", None, "ext.similarity.call"),
    ("sparkwrangle.ext.graph", None, "ext.graph.call"),
    ("sparkwrangle.ext.multimodal", None, "ext.multimodal.call"),
    ("sparkwrangle.ext.sketches", None, "ext.sketches.call"),
]

# Spans whose jobs drain an operation's result; every other job an
# operation runs was fired while its plan was still being built.
DRAIN_SPANS = frozenset({"catalog.drain", "pipelines.report"})

_PY_METRICS = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans and py4j counts for one process. Create one per traced run;
    ``close`` undoes every patch it made."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._sc = None
        self._client = None
        self.op: int | None = None
        # op id -> [(start, end)] of every py4j round trip, epoch seconds
        self.py4j: dict[int | None, list[tuple[float, float]]] = defaultdict(list)
        self._quiet = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def bind(self, spark) -> None:
        """Attach to a (new) SparkContext, or detach with None; the py4j
        client survives SparkContext restarts, so it is patched once."""
        if spark is None:
            self._sc = None
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        if client is not self._client:
            self._client = client
            self._patch(client, "send_command", self._count_py4j(client.send_command))

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        self._quiet.on = True
        try:
            self._sc.setLocalProperty(
                "spark.jobGroup.id", None if span is None else str(span.id)
            )
        finally:
            self._quiet.on = False

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), name, time.time(), 0.0, parent, self.op)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        self.spans.append(span)
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    # -- wrappers ------------------------------------------------------
    def _count_py4j(self, send):
        def send_command(*args, **kwargs):
            if getattr(self._quiet, "on", False):
                return send(*args, **kwargs)
            t0 = time.time()
            try:
                return send(*args, **kwargs)
            finally:
                self.py4j[self.op].append((t0, time.time()))

        return send_command

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def instrument(self) -> int:
        """Wrap the layers' public functions everywhere they are bound.
        Returns the number of functions wrapped."""
        import importlib

        import sparkwrangle.catalog  # noqa: F401  (loads every catalog module)

        chosen: dict[int, tuple[object, str]] = {}
        for mod_name, fn_name, span_name in LAYERS:
            mod = importlib.import_module(mod_name)
            for name, obj in vars(mod).items():
                if fn_name is not None and name != fn_name:
                    continue
                if name.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ != mod_name or id(obj) in chosen:
                    continue
                chosen[id(obj)] = (obj, span_name)
        wrapped = {i: self._wrap(fn, n) for i, (fn, n) in chosen.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("sparkwrangle"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and chosen[id(val)][0] is val:
                    self._patch(mod, attr, wrapped[id(val)])
        return len(wrapped)

    def close(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


def _union_len(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, end)
        if hi > lo:
            total += hi - lo
            end = hi
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its direct children's
    intervals (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _union_len(_clip(kids[s.id], s.start, s.end))
        for s in spans
    }


def event_log_metrics(
    log_dir: str,
    spans: list[Span],
    op_windows: dict[int, tuple[float, float]],
    py4j: dict[int | None, list[tuple[float, float]]],
):
    """Attribute the event log's jobs, tasks and SQL metrics to operations.

    Returns ``{op_id: {metric: value}}`` for the ops in ``op_windows``
    (op id -> (start, end) epoch seconds). ``driver.gap_s`` is the part
    of an operation's wall time during which no Spark job ran;
    ``driver.py4j_s`` is py4j round-trip time outside running jobs, so a
    blocking action's wait for its job is not counted as driver work."""
    by_id = {s.id: s for s in spans}

    def has_ancestor(span_id: int | None, pred) -> bool:
        """Whether the span or one of its ancestors satisfies ``pred``."""
        while span_id is not None and span_id in by_id:
            s = by_id[span_id]
            if pred(s.name):
                return True
            span_id = s.parent
        return False

    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    job_iv: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for path in sorted(glob.glob(f"{log_dir}/*")):
        jobs, stage_job, acc_kind = {}, {}, {}
        for line in open(path, encoding="utf-8"):
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                gid = props.get("spark.jobGroup.id")
                span = by_id.get(int(gid)) if gid and gid.isdigit() else None
                if span is None or span.op is None:
                    continue
                jobs[ev["Job ID"]] = (span, ev["Submission Time"] / 1e3)
                for st in ev["Stage IDs"]:
                    stage_job.setdefault(st, ev["Job ID"])
                m = out[span.op]
                m["spark.jobs"] += 1
                if not has_ancestor(span.id, DRAIN_SPANS.__contains__):
                    m["spark.eager_jobs"] += 1
                    if has_ancestor(span.id, lambda n: n.startswith("ext.dedup")):
                        m["ext.dedup.eager_jobs"] += 1
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                span, t0 = jobs[ev["Job ID"]]
                job_iv[span.op].append((t0, ev["Completion Time"] / 1e3))
            elif kind in (
                "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                stack = [ev["sparkPlanInfo"]]
                while stack:
                    node = stack.pop()
                    stack.extend(node.get("children", []))
                    for mt in node.get("metrics", []):
                        if mt["name"] in _PY_METRICS:
                            acc_kind[mt["accumulatorId"]] = (
                                _PY_METRICS[mt["name"]],
                                _METRIC_SCALE.get(mt["metricType"], 1.0),
                            )
            elif kind == "SparkListenerStageCompleted":
                job = stage_job.get(ev["Stage Info"]["Stage ID"])
                if job in jobs:
                    out[jobs[job][0].op]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job not in jobs:
                    continue
                m = out[jobs[job][0].op]
                m["spark.tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["io.scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                m["io.write_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                m["spark.shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
                sr = tm.get("Shuffle Read Metrics") or {}
                m["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                m["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    hit = acc_kind.get(acc.get("ID"))
                    if hit and "Update" in acc:
                        m[hit[0]] += float(acc["Update"]) * hit[1]
    for op, (lo, hi) in op_windows.items():
        clipped = _clip(job_iv.get(op, []), lo, hi)
        busy = _union_len(clipped)
        calls = py4j.get(op, [])
        out[op]["driver.gap_s"] = (hi - lo) - busy
        out[op]["driver.py4j_calls"] = len(calls)
        # calls are sequential, so |calls ∪ jobs| - |jobs| is call time
        # outside jobs
        out[op]["driver.py4j_s"] = _union_len(clipped + calls) - busy
    return out
