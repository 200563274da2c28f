"""Run one workload over several seeds and summarize each metric's spread.

    python3 perfbench/spread.py --workload envelope_stream --seeds 1-10
    python3 perfbench/spread.py --workload batch_corpus --seeds 1-10 --out runs.json

Runs ``run.py`` once per seed, one run at a time, from the current
directory (a checkout root). For every metric it prints the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread: the
distance between the quartiles as a share of the median. The benchmark's
bounds apply to that spread.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(runs: list[dict]) -> dict:
    names = runs[0]["metrics"]
    out = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                     "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result and the summary here")
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        result.update(seed=seed, wall_s=time.time() - t0, report=json.loads(lines[-2]))
        runs.append(result)
        print(f"seed {seed}: {result['wall_s']:.0f} s, correct={result['correct']}, "
              f"failed={result['failed']}/{result['attempted']}", flush=True)

    summary = summarize(runs)
    for name, s in summary.items():
        spread = "-" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{name:40s} median {s['median']:14.4f} {s['unit']:6s} "
              f"q1 {s['q1']:14.4f} q3 {s['q3']:14.4f} spread {spread}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "runs": runs, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
