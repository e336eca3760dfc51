#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's median and spread.

    python3 perfbench/spread.py --workload aq_ingest --seeds 1-10 [--trace 0]

Spread is the distance between the first and third quartile of the runs'
values (statistics.quantiles(values, n=4)) as a share of their median; for
end-to-end metrics it is shown against a third of the metric's bound in
BENCHMARK.json. Use it before trusting a comparison between two commits.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--seconds", type=float, default=None, help="default: run_seconds of BENCHMARK.json")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]

    values, walls = {}, []
    for seed in seeds(args.seeds):
        t = time.time()
        out = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(seconds), "--trace", args.trace],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True)
        walls.append(time.time() - t)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            print(out.stdout, file=sys.stderr)
            sys.exit(1)
        result = json.loads(lines[-1])
        report = json.loads(lines[-2]) if len(lines) > 1 else {}
        print(f"seed {seed}: {walls[-1]:.1f}s wall, attempted {result['attempted']}, "
              f"correct {result['correct']}, warm-up ops {report.get('warm_ops')}, "
              f"op latencies {report.get('op_latencies_ms')}", file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"{args.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s "
          f"max {max(walls):.1f}s")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        limit = f" (bound/3 {bounds[name] / 3:.3f}{' OVER' if spread > bounds[name] / 3 and name != 'setup_s' else ''})" \
            if name in bounds else ""
        print(f"  {name:40s} median {med:14.4f}  spread {spread:.3f}{limit}")
        print(f"    {' '.join(f'{v:.4g}' for v in vs)}")


if __name__ == "__main__":
    main()
