"""Tracing from outside the program: spans, counters, Spark stage metrics and
streaming progress.

Spans are recorded by the benchmark around its calls into the program's
public functions, plus a few wrappers it installs on module attributes for
the duration of a traced segment. Nothing in the program is edited. Stage
and task metrics come from the Spark event log, which the benchmark turns on
through the session's ``extra_conf``; streaming progress comes from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans and counters, written out once at exit.

    A disabled tracer records nothing, so the untraced run pays one attribute
    check per call site.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "run_id": self.run_id,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed self time of the spans called ``name``."""
        return sum(
            self_time(s, self.spans) for s in self.spans if s["name"] == name
        )


def span_cost(n: int = 20000) -> float:
    """Seconds one traced call adds: a span plus a counter increment on an
    enabled tracer, the work every wrapper and benchmark span does."""
    t = Tracer("calibration", enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        t.count("calls")
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part of it its child spans cover.

    Children may overlap each other (a child on another thread); the covered
    part is the union of their intervals, clipped to the parent.
    """
    lo, hi = span["start"], span["end"]
    kids = sorted(
        (max(c["start"], lo), min(c["end"], hi))
        for c in spans
        if c["parent"] == span["id"] and c["end"] is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


# --- wrappers on the program's module attributes ----------------------------


class Patches:
    """Replace module attributes with traced wrappers; ``undo`` restores them."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap_bindings(self, prefix: str, original, make) -> int:
        """Wrap ``original`` under every name a loaded module whose name
        starts with ``prefix`` binds it to (``from x import f`` copies the
        function into the importing module). Returns the bindings wrapped."""
        wrapper = functools.wraps(original)(make(original))
        n = 0
        for name, module in list(sys.modules.items()):
            if module is None or not (name == prefix or name.startswith(prefix + ".")):
                continue
            for attr, value in list(vars(module).items()):
                if value is original:
                    self._saved.append((module, attr, original))
                    setattr(module, attr, wrapper)
                    n += 1
        return n

    def undo(self) -> None:
        while self._saved:
            module, attr, original = self._saved.pop()
            setattr(module, attr, original)


def unwrapped_bindings(prefix: str, original) -> list[str]:
    """``module.attr`` of every loaded module under ``prefix`` that still
    binds ``original``."""
    return [
        f"{name}.{attr}"
        for name, module in list(sys.modules.items())
        if module is not None and (name == prefix or name.startswith(prefix + "."))
        for attr, value in list(vars(module).items())
        if value is original
    ]


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden and marker files."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


#: The program's modules that hold a traced function under their own name.
TRACED_MODULES = ["sources", "queries", "tpch", "plans.registry", "plans.medallion"]


def install_wrappers(tracer: Tracer, pkg) -> Patches:
    """Trace the program's layer boundaries that the benchmark does not call
    directly: table loads, the fail gate, expectation observation and the
    table sink. ``pkg`` is the program's top-level package."""
    from importlib import import_module

    # import every module that binds a traced function at import time, so
    # the scan below finds its copy
    for mod in TRACED_MODULES:
        import_module(f"{pkg.__name__}.{mod}")
    loader = import_module(pkg.__name__ + ".sources.loader")
    expectations = import_module(pkg.__name__ + ".plans.expectations")
    sinks = import_module(pkg.__name__ + ".sources.sinks")
    p = Patches()

    def timed(name):
        def make(fn):
            def wrapper(*a, **kw):
                tracer.count(name + "_calls")
                with tracer.span(name):
                    return fn(*a, **kw)

            return wrapper

        return make

    # modules that import a function inside a call read the module attribute
    # at call time; the ones that import it at module level hold a copy
    p.wrap_bindings(pkg.__name__, loader.load_table, timed("loader.load_table"))
    p.wrap_bindings(pkg.__name__, expectations.enforce_fail, timed("expectations.enforce_fail"))
    p.wrap_bindings(
        pkg.__name__, expectations.observe_expectations, timed("expectations.observe")
    )

    def make_sink(fn):
        def write_table(spark, df, dataset, warehouse=None, **kw):
            with tracer.span("sinks.write_table"):
                out = fn(spark, df, dataset, warehouse=warehouse, **kw)
            if warehouse:
                files, size = _dir_files(os.path.join(warehouse, *dataset.name.split(".")))
                tracer.count("sinks.files_written", files)
                tracer.count("sinks.bytes_written", size)
            return out

        return write_table

    p.wrap_bindings(pkg.__name__, sinks.write_table, make_sink)
    return p


# --- streaming progress -------------------------------------------------------


def progress_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that sums microbatch durations and rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pr = event.progress
            tracer.count("incremental.progress_events")
            tracer.count("incremental.input_rows", pr.numInputRows)
            for k, v in (pr.durationMs or {}).items():
                tracer.count(f"incremental.batch_ms.{k}", v)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# --- Spark event log ------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: a plain log is one file, a rolling
    (v2) log a directory of files."""
    events = []
    for root, _dirs, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.strip():
                        events.append(json.loads(line))
    return events


def stage_metrics(events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """Task and stage totals for tasks launched in ``[t0_ms, t1_ms]``
    (epoch milliseconds), plus task seconds per job group."""
    stage_group: dict[int, str] = {}
    jobs = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, props.get("spark.jobGroup.id") or "")
            if t0_ms <= e.get("Submission Time", 0) <= t1_ms:
                jobs.add(e["Job ID"])
    out = defaultdict(float)
    by_group: dict[str, float] = defaultdict(float)
    stages = set()
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        info = e.get("Task Info", {})
        if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
            continue
        m = e.get("Task Metrics") or {}
        sid = e["Stage ID"]
        stages.add((sid, e.get("Stage Attempt ID", 0)))
        run_s = m.get("Executor Run Time", 0) / 1000.0
        out["tasks"] += 1
        out["task_s"] += run_s
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        rd = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        by_group[stage_group.get(sid, "")] += run_s
    out["jobs"] = float(len(jobs))
    out["stages"] = float(len(stages))
    return {"totals": dict(out), "task_s_by_group": dict(by_group)}
