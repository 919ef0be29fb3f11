"""Isolated min-of-N re-measure of named registry queries — the same
protocol as bench.py's ``isolated_min`` (fresh session, full warmup, solo
runs) so numbers are comparable to the gate's isolated-confirm rows.

Usage: python tools/iso_measure.py q1 q2 ... [--runs 3] [--tag label]
Prints one JSON line: {"tag":..., "queries": {name: min_sec}}
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    # argparse, not hand-rolled filtering (ADVICE r12: removing option
    # VALUES from the positional list by value silently dropped a query
    # whose name equaled the --tag/--runs argument)
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="registry query names")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default="iso")
    args = ap.parse_args()
    names, runs, tag = args.names, args.runs, args.tag

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from smoltable_spark.session import get_spark
    import __spark_entry__ as entrymod
    from bench import isolated_min, warm_up

    spark = get_spark("smoltable_spark_iso", cpus=cpus, shuffle_partitions=cpus)
    qs = entrymod.queries()

    warm_up(spark, sf_dir)

    out: dict[str, float] = {}
    for name in names:
        out[name] = isolated_min(spark, qs[name], sf_dir, runs)
        print(f"# {name}: min {out[name]}s of {runs}", file=sys.stderr)
    print(json.dumps({"tag": tag, "queries": out}))


if __name__ == "__main__":
    main()
