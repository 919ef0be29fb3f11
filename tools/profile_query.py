"""Layer profile of registry queries, run by name.

Usage: python tools/profile_query.py NAME [NAME ...]
       (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

Each name is a ``__spark_entry__.queries()`` entry, run the way bench.py
runs it: session warm-up, then one cold and two warm runs, each
materialized by ``.count()``. The session writes an uncompressed Spark
event log to a temp dir, and the best warm run is split into layers:

- ``wall_s``: build plus count; ``build_s``: the registry function's call
  (Python construction plus any jobs the build launches)
- ``in_job_s``: the union of the run's job intervals; ``out_of_job_s`` is
  wall minus that (Python, Catalyst and the gaps between jobs)
- jobs, stages and tasks; task run and GC ms; shuffle read/write bytes;
  spill bytes; ``skew``: the worst stage's max/median task duration

Every job is tagged with the repo line that launched it. While the tool
runs, the DataFrame, DataFrameWriter and DataFrameReader action methods
are wrapped; each call sets the job group to ``<query>#<run>@<file>:<line>``
of the nearest calling frame in the repo outside pyspark and this tool,
and restores it afterwards. AQE query-stage jobs inherit the submitting
thread's group. A job launched outside any wrapped call keeps the run's
bare group ``<query>#<run>`` and is counted in ``untagged_jobs``; the
tool's own count is tagged ``count``.

Prints one layer row per query with one row per call site under it, then
one JSON line: {"sf_dir", "cpus", "queries": {name: {<layers>, "cold_s",
"sites": {site: {<Spark-side layers>}}}}}.
"""
from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import tempfile
import time
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.spans import read_event_log, union_length  # noqa: E402

TOOL = os.path.abspath(__file__)
GROUP = "spark.jobGroup.id"
#: action methods, wrapped on whichever of the session's DataFrame,
#: DataFrameWriter and DataFrameReader classes defines them
ACTIONS = (
    "count", "collect", "take", "head", "first", "tail", "isEmpty", "show", "toPandas",
    "toLocalIterator", "foreach", "foreachPartition", "checkpoint", "localCheckpoint",
    "save", "saveAsTable", "insertInto", "load", "table", "parquet", "json", "csv", "orc", "text",
)


def call_site() -> str | None:
    """``<file>:<line>`` (repo-relative) of the nearest frame on the stack
    that lies in the repo and is neither a pyspark frame nor this tool's;
    None when there is none."""
    f = sys._getframe(1)
    while f is not None:
        path = os.path.abspath(f.f_code.co_filename)
        in_repo = path != TOOL and path.startswith(REPO + os.sep)
        if in_repo and not f.f_globals.get("__name__", "").startswith("pyspark"):
            return f"{os.path.relpath(path, REPO)}:{f.f_lineno}"
        f = f.f_back
    return None


def tagged(fn, sc):
    """``fn`` with the job group set to ``<run group>@<call site>`` for the
    call's duration; outside a run (no group) or without a repo caller
    the group is left as it is."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        prev, site = sc.getLocalProperty(GROUP), call_site()
        if prev is None or site is None:
            return fn(*args, **kwargs)
        sc.setLocalProperty(GROUP, f"{prev.partition('@')[0]}@{site}")
        try:
            return fn(*args, **kwargs)
        finally:
            sc.setLocalProperty(GROUP, prev)

    return wrapper


def spark_cost(jobs: list, tasks: list, start: float, end: float) -> dict:
    """Spark-side layers of a set of jobs and their tasks; job intervals
    are clipped to the run's ``[start, end]``."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["duration_ms"])
    skews = [max(d) / statistics.median(d) for d in by_stage.values() if statistics.median(d) > 0]
    return {
        "in_job_s": union_length([(max(a, start), min(b, end)) for a, b in jobs]),
        "jobs": len(jobs),
        "stages": len(by_stage),
        "tasks": len(tasks),
        "task_run_ms": sum(t["run_ms"] for t in tasks),
        "task_gc_ms": sum(t["gc_ms"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "skew": max(skews, default=1.0),
    }


def layer_row(events: dict, run: dict) -> dict:
    """The layers of one run (``label``, ``start``, ``build_s``, ``wall_s``)
    from ``read_event_log`` output, with one entry per call site."""
    label, start, end = run["label"], run["start"], run["start"] + run["wall_s"]
    mine = {g: ev for g, ev in events.items() if g == label or g.startswith(label + "@")}
    jobs = [j for ev in mine.values() for j in ev["jobs"]]
    tasks = [t for ev in mine.values() for t in ev["tasks"]]
    cost = spark_cost(jobs, tasks, start, end)
    return {
        "wall_s": run["wall_s"],
        "build_s": run["build_s"],
        "out_of_job_s": run["wall_s"] - cost["in_job_s"],
        **cost,
        "untagged_jobs": len(mine[label]["jobs"]) if label in mine else 0,
        "sites": {
            g.partition("@")[2]: spark_cost(ev["jobs"], ev["tasks"], start, end)
            for g, ev in sorted(mine.items())
            if "@" in g
        },
    }


def text_row(label: str, row: dict, cols: list) -> str:
    cells = [f"{row[k]:.3f}" if isinstance(row.get(k), float) else str(row.get(k, "")) for k in cols]
    return f"{label:<48}" + "".join(c.rjust(max(len(k), 8) + 1) for k, c in zip(cols, cells))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entrymod
    from bench import warm_up
    from smoltable_spark.session import get_spark

    qs = entrymod.queries()
    if not names or any(n not in qs for n in names):
        sys.exit(f"usage: profile_query.py NAME...  (unknown: {[n for n in names if n not in qs]})")

    runs: dict[str, list[dict]] = {}
    with tempfile.TemporaryDirectory(prefix="profile_query-") as log_dir:
        conf = {
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        spark = get_spark("profile_query", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
        sc = spark.sparkContext
        warm_up(spark, sf_dir)
        probe = spark.range(1)
        with contextlib.ExitStack() as wrappers:
            for cls in (type(probe), type(probe.write), type(spark.read)):
                for m in (m for m in ACTIONS if hasattr(cls, m)):
                    wrappers.enter_context(mock.patch.object(cls, m, tagged(getattr(cls, m), sc)))
            for name in names:
                for kind in ("cold", "warm1", "warm2"):
                    label = f"{name}#{kind}"
                    sc.setLocalProperty(GROUP, label)
                    t0 = time.time()
                    df = qs[name](spark, sf_dir)
                    t1 = time.time()
                    sc.setLocalProperty(GROUP, f"{label}@count")
                    df.count()
                    wall = time.time() - t0
                    sc.setLocalProperty(GROUP, None)
                    run = {"label": label, "start": t0, "build_s": t1 - t0, "wall_s": wall}
                    runs.setdefault(name, []).append(run)
                    print(f"# {label}: {wall:.3f}s", file=sys.stderr)
        spark.stop()
        events = read_event_log(log_dir)

    rows = {
        name: {"cold_s": cold["wall_s"], **layer_row(events, min(warm, key=lambda r: r["wall_s"]))}
        for name, (cold, *warm) in runs.items()
    }
    cols = [k for k in rows[names[0]] if k != "sites"]
    print(text_row("", dict(zip(cols, cols)), cols))
    for name, row in rows.items():
        print(text_row(name, row, cols))
        for site, cost in row["sites"].items():
            print(text_row("  " + site, cost, cols))
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": rows}))


if __name__ == "__main__":
    main()
