"""tools/profile_query.py: the registry-driven layer profiler.

The layer arithmetic and the call-site tagging run without a JVM; one
subprocess smoke profiles two registry queries end to end at sf0.001.
"""

import ast
import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "profile_query.py")
SF = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location("profile_query", TOOL)
pq = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pq)


def _task(stage, duration_ms):
    return {"stage": stage, "run_ms": 0, "gc_ms": 1, "duration_ms": duration_ms,
            "shuffle_read": 10, "shuffle_write": 20, "spill": 0, "records_read": 0}


def test_layer_arithmetic_on_a_synthetic_event_log():
    # read_event_log shape: group -> {"jobs": [(start, end)], "tasks": [...]}
    events = {
        "q#warm1": {"jobs": [(100.0, 100.5)], "tasks": [_task(1, 5)]},
        "q#warm1@smoltable_spark/a.py:3": {
            "jobs": [(100.2, 101.0), (101.5, 102.0)],
            "tasks": [_task(2, 10), _task(2, 10), _task(2, 40), _task(3, 7)],
        },
        "q#warm1@count": {"jobs": [(102.5, 103.5)], "tasks": [_task(4, 3), _task(4, 3)]},
        # another run and a query whose name shares the prefix: not ours
        "q#warm2@count": {"jobs": [(90.0, 99.0)], "tasks": [_task(9, 1)]},
        "q#warm10": {"jobs": [(100.0, 103.0)], "tasks": [_task(8, 1)]},
    }
    run = {"label": "q#warm1", "start": 100.0, "build_s": 1.2, "wall_s": 3.25}
    row = pq.layer_row(events, run)

    # union of [100,101] [101.5,102] [102.5,103.25 (clipped to the run)]
    assert row["in_job_s"] == pytest.approx(2.25)
    assert row["in_job_s"] + row["out_of_job_s"] == pytest.approx(row["wall_s"])
    assert (row["jobs"], row["stages"], row["tasks"]) == (4, 4, 7)
    assert row["untagged_jobs"] == 1
    assert row["shuffle_write_bytes"] == 140 and row["task_gc_ms"] == 7
    # worst stage: durations [10, 10, 40] -> max/median 4
    assert row["skew"] == pytest.approx(4.0)
    assert set(row["sites"]) == {"smoltable_spark/a.py:3", "count"}
    for cost in row["sites"].values():
        assert cost["in_job_s"] <= row["in_job_s"]
    assert row["sites"]["count"]["in_job_s"] == pytest.approx(0.75)
    assert row["sites"]["count"]["skew"] == pytest.approx(1.0)


class _Context:
    """The two SparkContext calls the tagging wrapper makes."""

    def __init__(self, group):
        self.props = {pq.GROUP: group}
        self.seen = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_call_site_names_the_engine_frame():
    sc = _Context("q#cold")

    # a pyspark action that calls another action, like DataFrame.head ->
    # take; its file lies in the repo, so only its module name marks it
    fake = {"__name__": "pyspark.sql.fake", "sc": sc, "GROUP": pq.GROUP}
    src = (
        "def take(n):\n    sc.seen.append(sc.getLocalProperty(GROUP))\n"
        "def head(n):\n    return take(n)\n"
    )
    exec(compile(src, os.path.join(REPO, "pyspark_fake.py"), "exec"), fake)
    take = fake["take"] = pq.tagged(fake["take"], sc)
    head = pq.tagged(fake["head"], sc)

    line = sys._getframe().f_lineno + 1
    head(1)
    assert sc.seen == [f"q#cold@tests/test_profile_query.py:{line}"]
    assert sc.getLocalProperty(pq.GROUP) == "q#cold"  # restored

    # outside a run the group is left alone
    sc.props[pq.GROUP] = None
    take(1)
    assert sc.seen[-1] is None


def test_tool_imports_no_query_code():
    tree = ast.parse(open(TOOL).read())
    mods = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mods.add(node.module)
    repo_mods = {m for m in mods if m.split(".")[0] not in sys.stdlib_module_names}
    assert repo_mods == {"__spark_entry__", "smoltable_spark.session", "bench", "perfbench.spans"}


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 testdata absent")
def test_profile_two_registry_queries_end_to_end():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    out = subprocess.run(
        [sys.executable, TOOL, "rel_tpch_q6", "dedup_containment"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    tail = json.loads(out.stdout.strip().splitlines()[-1])
    queries = tail["queries"]
    assert set(queries) == {"rel_tpch_q6", "dedup_containment"}
    for row in queries.values():
        assert row["jobs"] >= 1
        assert row["in_job_s"] + row["out_of_job_s"] == pytest.approx(row["wall_s"])
    assert any("functions/dedup.py:" in s for s in queries["dedup_containment"]["sites"])
