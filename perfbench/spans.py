"""Spans around the calls into each repo module, recorded from outside.

The traced run wraps public entry points of the engine (the table
facade, the cell store, the writer, the store's filesystem adapter) with
span recorders, installed by this module and removed afterwards; no
engine code changes. Spans stay in memory; the run writes them out when
it ends. A layer's self time is its span's duration minus the part of
that interval its child spans cover.

Spark-side counts come from two places: ``statusTracker`` (jobs, stages,
tasks per op, by job group) and the event log the traced session writes
(job intervals and task metrics).
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    root: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans are only recorded while ``active``;
    wrappers installed by ``instrument`` cost one attribute test when it
    is off."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(
            sid,
            parent.id if parent else None,
            parent.root if parent else sid,
            name,
            layer,
            self.clock(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        except Exception as e:
            s.error = type(e).__name__
            raise
        finally:
            s.end = self.clock()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals (overlaps counted once)."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part covered by its children
    (clipped to the span's own interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration
        - union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())]
        )
        for s in spans
    }


# -- instrumentation ----------------------------------------------------------


class TracedFS:
    """Proxy for the object ``store_fs_for`` returns: every method call
    becomes a ``store_fs.<method>`` span carrying the path it touched."""

    def __init__(self, fs, tracer: Tracer):
        self._fs = fs
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if not callable(attr):
            return attr
        tracer = self._tracer

        def call(*args, **kwargs):
            if not tracer.active:
                return attr(*args, **kwargs)
            with tracer.span(f"store_fs.{name}", "store_fs", kind=name, path=str(args[0]) if args else None):
                out = attr(*args, **kwargs)
                # a generator's work happens while it is iterated: drain it
                # inside the span
                return iter(list(out)) if inspect.isgenerator(out) else out

        return call


#: (module, attribute path, span name, layer) of every wrapped entry point
TRACE_POINTS = (
    ("smoltable_spark.table", "Smoltable.get_row", "table.get_row", "table"),
    ("smoltable_spark.table", "Smoltable.multi_get", "table.multi_get", "table"),
    ("smoltable_spark.table", "Smoltable.scan", "table.scan", "table"),
    ("smoltable_spark.table", "Smoltable.scan_count", "table.scan_count", "table"),
    ("smoltable_spark.table", "Smoltable.write", "table.write", "table"),
    ("smoltable_spark.table", "Smoltable.delete_row", "table.delete_row", "table"),
    ("smoltable_spark.sources.store", "CellStore.read_for_filter", "store.open", "store"),
    ("smoltable_spark.sources.store", "CellStore.read", "store.read", "store"),
    ("smoltable_spark.sources.store", "CellStore.append", "store.append", "store"),
    ("smoltable_spark.sources.store", "CellStore.write", "store.write", "store"),
    ("smoltable_spark.sources.store", "CellStore.compact", "store.compact", "store"),
    ("smoltable_spark.sources.store", "CellStore.minor_compact", "store.minor_compact", "store"),
    ("smoltable_spark.sources.writer", "rows_to_cells", "writer.rows_to_cells", "writer"),
)


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return wrapper


def instrument(tracer: Tracer):
    """Install span wrappers on ``TRACE_POINTS`` and a ``TracedFS`` around
    the store's filesystem adapter. Returns a function that removes them."""
    import importlib

    undo = []
    for mod_name, path, name, layer in TRACE_POINTS:
        mod = importlib.import_module(mod_name)
        owner_name, _, attr = path.rpartition(".")
        owner = getattr(mod, owner_name) if owner_name else mod
        orig = owner.__dict__[attr]
        setattr(owner, attr, _wrap(tracer, orig, name, layer))
        undo.append((owner, attr, orig))

    store_mod = importlib.import_module("smoltable_spark.sources.store")
    orig_fs_for = store_mod.store_fs_for
    store_mod.store_fs_for = lambda spark, path: TracedFS(orig_fs_for(spark, path), tracer)
    undo.append((store_mod, "store_fs_for", orig_fs_for))

    def uninstall():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return uninstall


# -- Spark-side measurements ---------------------------------------------------


def plan_stats(df) -> dict:
    """Node, exchange and file-scan counts of a DataFrame's physical plan
    after execution (the final adaptive plan when AQE ran)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    lines = [ln for ln in plan.treeString().splitlines() if ln.strip()]
    return {
        "plan_nodes": len(lines),
        "exchanges": sum("Exchange" in ln and "Reused" not in ln for ln in lines),
        "file_scans": sum("FileScan" in ln or "Scan parquet" in ln for ln in lines),
    }


def job_group_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks the op's job group ran, from statusTracker."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    seen: set[int] = set()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            stage = st.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _event_files(log_dir: str) -> list[str]:
    """Event log files under ``log_dir``: one file per application, or a
    rolling ``eventlog_v2_*`` directory of ``events_*`` parts."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files.extend(
            os.path.join(root, n)
            for n in sorted(names)
            if not n.startswith((".", "appstatus"))
        )
    return files


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals (epoch s) and per-task metrics, from
    an uncompressed Spark event log."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                    g = groups.setdefault(group, {"jobs": {}, "tasks": []})
                    g["jobs"][jid] = [ev["Submission Time"] / 1000.0, None]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    g = groups[job_group[ev["Job ID"]]]
                    g["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    groups[stage_group[ev["Stage ID"]]]["tasks"].append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "duration_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        }
                    )
    for g in groups.values():
        g["jobs"] = [tuple(v) for v in g["jobs"].values() if v[1] is not None]
    return groups
