"""bench.py must survive a truncated driver BENCH record (round-4 ask).

``BENCH_r03.json`` was committed with ``"parsed": null`` (driver tail
truncation), which crashed the r3 judge's bench run at end-of-run with
AttributeError — losing the regression gate and the headline total.  The
loader now treats anything that is not a dict-with-queries as absent and
falls back to BENCH_LOCAL.json (the full record bench.py commits itself).
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_load_prev_survives_parsed_null():
    # the committed r3 artifact IS the regression input: parsed == null
    latest = bench._latest_round()
    assert latest is not None
    with open(latest[1]) as fh:
        raw = json.load(fh)
    if raw.get("parsed") is None:
        prev, source = bench._load_prev()
        # must not raise; must either fall back to a real record or to None
        assert prev is None or isinstance(prev.get("queries"), dict)
        if prev is not None:
            assert source == "BENCH_LOCAL.json"


def test_load_prev_prefers_driver_record_when_parseable(tmp_path, monkeypatch):
    here = str(tmp_path)
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: os.path.join(here, "bench.py")
    )
    with open(os.path.join(here, "BENCH_r07.json"), "w") as fh:
        json.dump({"parsed": {"sf": 0.1, "value": 1.0, "queries": {"q": 0.5}}}, fh)
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        json.dump({"sf": 0.1, "value": 2.0, "queries": {"q": 1.0}}, fh)
    prev, source = bench._load_prev()
    assert source == "BENCH_r07.json"
    assert prev["queries"] == {"q": 0.5}
    # truncated driver record -> local fallback
    with open(os.path.join(here, "BENCH_r08.json"), "w") as fh:
        json.dump({"parsed": None, "tail": "..."}, fh)
    prev, source = bench._load_prev()
    assert source == "BENCH_LOCAL.json"
    assert prev["queries"] == {"q": 1.0}


def test_load_prev_skips_partial_compact_records(tmp_path, monkeypatch):
    """The compact tail-summary line (marked "partial": true, top-N slowest
    only) must never be adopted as a baseline — that would shrink the
    regression gate from the whole registry to N queries."""
    here = str(tmp_path)
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: os.path.join(here, "bench.py")
    )
    with open(os.path.join(here, "BENCH_r07.json"), "w") as fh:
        json.dump({"parsed": {"sf": 0.1, "value": 1.0, "partial": True,
                              "queries": {"q": 0.5}}}, fh)
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        json.dump({"sf": 0.1, "value": 2.0, "queries": {"q": 1.0}}, fh)
    prev, source = bench._load_prev()
    assert source == "BENCH_LOCAL.json"
    assert prev["queries"] == {"q": 1.0}


def test_compact_summary_tail_parses():
    """The compact line must stay under 1900 chars even for a 300-query
    result, be marked partial, and survive the driver's tail capture:
    json.loads on the last 2000 chars of (pad + line) must succeed."""
    result = {
        "metric": "total_headline_sec", "value": 250.0, "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_with_a_rather_long_name_{i:03d}": i * 0.037
                    for i in range(300)},
        "prev_round_total": 240.0, "env_drift_median_ratio": 1.02,
        "regressions": {"q_bad": {"prev": 0.2, "now": 1.4, "ratio": 7.0,
                                  "ratio_vs_median": 6.9, "isolated": 1.3,
                                  "isolated_ratio": 6.5}},
        "cold_regressions": {}, "pending_flags": {},
    }
    line = bench._compact_summary(result)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["partial"] is True
    assert parsed["n_queries"] == 300
    assert "q_bad" in parsed["regressions"]
    stream = json.dumps(result) + "\n" + " " * 2100 + "\n" + line
    tail = stream[-2000:]
    assert json.loads(tail) == parsed


def test_compact_summary_sheds_flag_floods():
    """A high-regression round (the round where the record matters most)
    must not blow the 1900-char budget on the flag dicts: shed to the
    5 worst-by-ratio, then to bare counts — the tail parse guarantee is
    unconditional."""
    flood = {
        f"query_{i:03d}": {"prev": 0.2, "now": 1.4, "ratio": 7.0 - i * 0.01,
                           "ratio_vs_median": 6.9, "isolated": 1.3,
                           "isolated_ratio": 6.5}
        for i in range(40)
    }
    result = {
        "metric": "total_headline_sec", "value": 250.0, "unit": "sec",
        "sf": 0.1, "queries": {f"q{i}": 0.5 for i in range(300)},
        "prev_round_total": 240.0, "env_drift_median_ratio": 1.0,
        "regressions": dict(flood), "cold_regressions": dict(flood),
        "pending_flags": dict(flood),
    }
    line = bench._compact_summary(result)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["partial"] is True
    # the flag information survives in some form: entries or counts
    reg = parsed["regressions"]
    assert reg.get("n_flagged") == 40 or len(reg) >= 1


def test_write_records_atomic_into_tmpdir(tmp_path, monkeypatch):
    """Both durable records are written via tmp+os.replace into the given
    directory — no .tmp leftovers, valid JSON, history keyed by the next
    round — and a pre-existing corrupt history is tolerated, not fatal."""
    monkeypatch.setattr(bench, "_latest_round", lambda: (5, "ignored"))
    (tmp_path / "BENCH_HISTORY.json").write_text('{"r05": {tor')  # torn
    result = {
        "metric": "total_headline_sec", "value": 1.23, "unit": "sec",
        "queries": {"q": 0.5}, "cold_queries": {"q": 0.9}, "sf": 0.1, "cpus": 32,
        "prev_round_total": None, "prev_source": None,
        "env_drift_median_ratio": 1.0, "regressions": {},
        "cold_regressions": {},
    }
    bench._write_records(str(tmp_path), result)
    names = sorted(p.name for p in tmp_path.iterdir())
    assert names == ["BENCH_HISTORY.json", "BENCH_LOCAL.json"]
    local = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert local == result
    hist = json.loads((tmp_path / "BENCH_HISTORY.json").read_text())
    assert hist["r06"]["total"] == 1.23 and hist["r06"]["queries"] == {"q": 0.5}
    assert hist["r06"]["cpus"] == 32


def test_load_prev_refuses_baseline_from_another_core_count(tmp_path, monkeypatch):
    """The committed BENCH_LOCAL.json (the driver's 8-core sweep) must
    not be the baseline of a 32-core run: 8 cores read ~1.2x slower by
    geomean, which hides real regressions under the 1.5x bar."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_LOCAL.json")) as fh:
        local = json.load(fh)
    other = 32 if local["cpus"] != 32 else 8
    here = str(tmp_path)
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(local, fh)
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: os.path.join(here, "bench.py")
    )
    assert bench._load_prev(local["sf"], other) == (None, None)
    prev, source = bench._load_prev(local["sf"], local["cpus"])
    assert source == "BENCH_LOCAL.json" and prev == local
