"""Run the benchmark over several seeds and report each metric's median,
quartiles and spread (quartile distance over median).

    python3 perfbench/spread.py --workload upsert --seeds 1 2 3 4 5 [--trace 1]
                                [--seconds 10] [--jsonl runs.jsonl]

Runs are sequential, one process each, from the checkout root; every run's
JSON line is appended to ``--jsonl`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--jsonl")
    args = p.parse_args(argv)
    runs = []
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        runs.append(res)
        if args.jsonl:
            with open(args.jsonl, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']}", file=sys.stderr)
    print(f"{'metric':48} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:48} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}")
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
