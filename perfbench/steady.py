"""Steadiness tool: repeat one workload with different seeds and print,
per metric, the median, the quartiles and IQR / median.

    python3 perfbench/steady.py --workload kv_mixed --runs 10 [--seed-base 1]
        [--seconds 15] [--trace 0]

This is the evidence behind the bounds in BENCHMARK.json: a metric is
steady enough when its IQR / median stays under a third of its bound.
``--seconds`` defaults to BENCHMARK.json's ``run_seconds``. Runs are
sequential; each is one ``perfbench/run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    bench = _benchmark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    bad = 0
    for i in range(args.runs):
        seed = args.seed_base + i
        res = run_once(args.workload, seed, args.seconds, args.trace)
        bad += not res["correct"]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"\n{args.workload}: {args.runs} runs, seeds {args.seed_base}..{args.seed_base + args.runs - 1}")
    print(f"{'metric':<34}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}  bound/3")
    for name, xs in values.items():
        s = spread(xs)
        b = bounds.get(name)
        verdict = "" if b is None else f"{b / 3:.3f} " + ("ok" if s["iqr_over_median"] < b / 3 else "WIDE")
        print(f"{name:<34}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}{s['iqr_over_median']:>9.3f}  {verdict}")
    out_dir = os.path.join(HERE, ".work", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steady-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump({"args": vars(args), "values": values}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
