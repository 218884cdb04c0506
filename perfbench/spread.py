"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median, ``statistics.quantiles``).

    python3 perfbench/spread.py --workload index_serve --seeds 1 2 3 4 5

Runs are sequential, one fresh process each, with ``run_seconds`` from
BENCHMARK.json unless ``--seconds`` is given.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        summary = [ln for ln in out.stderr.splitlines() if ln.startswith("[perfbench]")]
        print(f"seed {seed}: exit {out.returncode} {summary[-1] if summary else ''}", file=sys.stderr)
        if out.returncode != 0 or not last:
            print(out.stderr[-3000:], file=sys.stderr)
            continue
        res = json.loads(last)
        print(json.dumps({"seed": seed, **res}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2:
            print(f"{k}: median {stats.median(vs):.4f} spread {stats.quartile_spread(vs):.4f} n={len(vs)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
