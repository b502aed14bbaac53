"""Run the benchmark several times with different seeds and report each
end-to-end metric's median and quartile spread against its bound.

    python3 perfbench/spread.py --workload pg-dsql --runs 10

Run from the repository root. The spread is (Q3 - Q1) / median over the
runs, with quartiles as ``statistics.quantiles(values, n=4)`` gives them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import stats

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*bench["command"], "--workload", args.workload, "--seed",
               str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", "0"]
        t = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True,
                             check=True).stdout.strip().splitlines()
        elapsed = time.perf_counter() - t
        result = json.loads(out[-1])
        if not result["correct"]:
            print(f"seed {seed}: INCORRECT {out[-2]}", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({elapsed:.0f} s): " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
            flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        spread = stats.quartile_spread(vals)
        print(f"{name:16s} median={stats.median(vals):10.4g} "
              f"spread={spread:.3f} bound={bounds[name]} "
              f"{'ok' if spread < bounds[name] / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
