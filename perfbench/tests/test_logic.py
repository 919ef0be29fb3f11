"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import ops  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, self_times, union_length  # noqa: E402

# -- percentile rule ------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [
        (10, None),
        (39, None),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (999, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_summarize_reports_count_median_and_supported_tail():
    xs = list(range(1, 101))  # 1..100
    s = stats.summarize(xs)
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90.0, "tail": 90}
    assert stats.summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    assert stats.summarize([]) == {"n": 0}


def test_nearest_rank_percentile():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1


def test_spread_is_iqr_over_median():
    s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert s["median"] == 5.5
    assert s["iqr_over_median"] == pytest.approx((s["q3"] - s["q1"]) / 5.5)


def test_whole_units_follow_the_run_length_not_the_machine():
    assert stats.units_for(15, 15) == 1
    assert stats.units_for(15, 5) == 3
    assert stats.units_for(17, 5) == 3
    assert stats.units_for(18, 5) == 4
    assert stats.units_for(1, 15) == 1  # never zero


# -- span self time ---------------------------------------------------------------


def _span(i, parent, start, end, name="s"):
    return Span(i, parent, 0, name, "layer", start, end)


def test_union_counts_overlaps_once():
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([(3, 3), (5, 4)]) == 0
    assert union_length([]) == 0


def test_self_time_subtracts_children_clipped_to_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),
        _span(3, 0, 9.0, 12.0),  # runs past its parent: only 1 s counts
        _span(4, 1, 1.5, 2.5),  # grandchild: counts against span 1 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1))
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_tracer_nests_spans_and_records_errors():
    clock = iter(range(100)).__next__
    tr = Tracer(clock=clock)
    with tr.span("off", "x"):
        pass
    assert tr.spans == []
    tr.active = True
    with tr.span("root", "op") as root:
        with tr.span("child", "table"):
            pass
        with pytest.raises(KeyError):
            with tr.span("bad", "store"):
                raise KeyError("k")
    assert [(s.name, s.parent, s.root) for s in tr.spans] == [
        ("root", None, 0),
        ("child", 0, 0),
        ("bad", 0, 0),
    ]
    assert tr.spans[2].error == "KeyError"
    assert root.duration == 5


# -- seeded op streams ------------------------------------------------------------


def _reads(seed, n=200):
    s = ops.ReadOps(seed, key_space=10_000)
    return [s.next() for _ in range(n)]


def test_same_seed_gives_same_op_sequence():
    assert _reads(7) == _reads(7)
    assert _reads(7) != _reads(8)


def test_read_mix_holds_exactly_per_block():
    kinds = [op["op"] for op in _reads(3, 40)]
    for kind, n in ops.READ_BLOCK:
        assert kinds[:20].count(kind) == n
        assert kinds[20:].count(kind) == n


def test_same_seed_gives_same_write_batches_and_cycles():
    hot = ops.hot_keys(5, list(range(0, 20_000, 2)))
    assert hot == ops.hot_keys(5, list(range(0, 20_000, 2)))
    b1, b2 = ops.write_batch(5, 3, hot), ops.write_batch(5, 3, hot)
    assert b1 == b2
    assert b1 != ops.write_batch(6, 3, hot)
    assert sum(len(it["cells"]) for it in b1) == 1000
    assert len({it["row_key"] for it in b1}) == ops.WRITE_ROWS
    m1, m2 = ops.MixedOps(5, 10_000, hot), ops.MixedOps(5, 10_000, hot)
    assert [m1.cycle(), m1.cycle()] == [m2.cycle(), m2.cycle()]


def test_mixed_cycle_shape():
    cycle = ops.MixedOps(1, 10_000, list(range(100))).cycle()
    kinds = [op["op"] for op in cycle]
    assert kinds.count("write") == ops.CYCLE_ROUNDS
    assert kinds.count("compact_worker") == ops.CYCLE_ROUNDS
    assert kinds.count("gc") == 1 and kinds.count("delete") == 1


# -- expectation model ------------------------------------------------------------


def test_model_shadows_trims_versions_and_deletes():
    base = {ops.row_key(k): [("o", "custkey", 0, "i64", k)] for k in (1, 2, 3)}
    m = ops.CellModel(base)
    item = lambda ts, v: [  # noqa: E731
        {"row_key": ops.row_key(2), "cells": [{"column_key": "w:c0", "value": {"i64": v}, "timestamp": ts}]}
    ]
    m.apply_write(item(10, 1))
    m.apply_write(item(10, 2))  # same coordinate: the newer write wins
    m.apply_write(item(11, 3))
    m.apply_write(item(12, 4))
    assert m.expect({"op": "get", "key": ops.row_key(2)}) == [
        (ops.row_key(2), (("o", "custkey", ((0, "i64", 2),)), ("w", "c0", ((12, "i64", 4), (11, "i64", 3), (10, "i64", 2)))))
    ]
    assert m.apply_gc() == 1  # version limit 2 drops ts 10
    assert m.expect({"op": "count", "prefix": "order#"}) == (3, 5)
    assert m.apply_delete(ops.row_key(2)) == 2
    assert m.expect({"op": "get", "key": ops.row_key(9)}) == []
    assert m.expect({"op": "range", "start": ops.row_key(2), "end": ops.row_key(3)}) == [
        (ops.row_key(2), (("o", "custkey", ((0, "i64", 2),)),)),
        (ops.row_key(3), (("o", "custkey", ((0, "i64", 3),)),)),
    ]


def test_result_comparison_is_type_strict_and_order_free():
    assert ops.compare_result(["a", "b"], [(1, 2.0), (3, 4.0)], ["b", "a"], [(4.0, 3), (2.0, 1)]) is None
    assert ops.compare_result(["a"], [(1,)], ["a"], [(1.0,)]) is not None
    assert ops.compare_result(["a"], [(1,)], ["a"], [(1,), (1,)]) is not None


# -- like-for-like refusal --------------------------------------------------------


def _result(**cfg):
    base = {
        "workload": "kv_mixed", "cpus": 4, "default_parallelism": 4,
        "driver_memory": "2g", "data": "d", "run_seconds": 15,
        "spark_version": "4", "python_version": "3", "seed": 1, "revision": "a",
    }
    base.update(cfg)
    return {"config": base, "end_to_end": {"op_p50_ms": 100.0}}


def test_compare_refuses_mismatched_configs():
    with pytest.raises(stats.ConfigMismatch, match="cpus"):
        compare.compare([_result()], [_result(cpus=8)])
    with pytest.raises(stats.ConfigMismatch, match="driver_memory"):
        compare.compare([_result(), _result(driver_memory="16g")], [_result()])


def test_compare_allows_seed_revision_and_trace_to_differ():
    a = [_result(seed=1), _result(seed=2)]
    b = [_result(seed=3, revision="b", trace=1)]
    assert compare.compare(a, b)["op_p50_ms"] == (100.0, 100.0, 0.0)


# -- BENCHMARK.json agrees with the runner ------------------------------------------


def test_benchmark_json_matches_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
