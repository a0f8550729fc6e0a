#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median and the spread (distance between the first and third quartile
as a share of the median) next to the metric's bound in BENCHMARK.json.

Usage, from the root of the repository:

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--seconds S]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for seed in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        result = json.loads(out.stdout.splitlines()[-1])
        wall = [l for l in out.stdout.splitlines() if l.startswith("# wall")]
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              f"{wall[0][2:] if wall else ''} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(k, float("nan"))
        flag = "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "TOO WIDE")
        print(f"{k:16s} median {med:.4g}  spread {spread:.3f}  bound {bound}  {flag}")


if __name__ == "__main__":
    main()
