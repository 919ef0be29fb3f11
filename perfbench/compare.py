"""Compare benchmark results, like for like only.

    python3 perfbench/compare.py --a A1.json [A2.json ...] --b B1.json [...]

Each file is a result ``perfbench/run.py`` wrote under
``perfbench/.work/results``. The tool refuses (exit 2) when any two
results were measured under different run configs (``LIKE_FOR_LIKE_KEYS``
in stats.py: workload, cpus, parallelism, driver memory, data, run
length, Spark and Python versions). Seeds, revisions and the trace flag
may differ: that is what an A/B, a seed sweep or a tracing-overhead
check varies. For each end-to-end metric it prints the median of each
side and B's change relative to A.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import ConfigMismatch, check_like_for_like  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def compare(a: list[dict], b: list[dict]) -> dict[str, tuple[float, float, float]]:
    """Metric -> (median A, median B, B / A - 1). Raises ConfigMismatch
    unless every result shares the first one's like-for-like config."""
    results = a + b
    for r in results[1:]:
        check_like_for_like(results[0]["config"], r["config"])
    out = {}
    for name in a[0]["end_to_end"]:
        ma = statistics.median(r["end_to_end"][name] for r in a)
        mb = statistics.median(r["end_to_end"][name] for r in b)
        out[name] = (ma, mb, mb / ma - 1 if ma else float("inf"))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args(argv)
    try:
        rows = compare(load(args.a), load(args.b))
    except ConfigMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    print(f"{'metric':<20}{'A':>14}{'B':>14}{'B vs A':>10}")
    for name, (ma, mb, rel) in rows.items():
        print(f"{name:<20}{ma:>14.4f}{mb:>14.4f}{rel:>+10.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
