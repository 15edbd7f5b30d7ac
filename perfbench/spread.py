"""Run-to-run steadiness of the benchmark.

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
each end-to-end metric's median and quartile spread (Q3 - Q1 over the
median, as ``statistics.quantiles(values, n=4)`` gives them) beside the
metric's bound from BENCHMARK.json. Run from the repository root::

    python3 perfbench/spread.py --workload log_dashboard --seeds 1-10

The last line is a JSON record of every run's metrics and the spreads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import BENCHMARK_JSON, quartile_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="'1-10' or '3,5,8'")
    args = p.parse_args()
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    runs = []
    for seed in _seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed",
               str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2])
        runs.append({"seed": seed, "wall_s": detail["wall_s"], **result})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              f"wall={detail['wall_s']:.1f}s {vals}", flush=True)
    spreads = {}
    if len(runs) >= 2:
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            s = quartile_spread(vals)
            spreads[m["name"]] = {"median": statistics.median(vals),
                                  "spread": s, "bound": m["bound"]}
            flag = "ok" if s < m["bound"] / 3 else "WIDE"
            print(f"{m['name']:>14}: median {statistics.median(vals):.4f} "
                  f"spread {s:.4f} bound {m['bound']} {flag}")
    print(json.dumps({"workload": args.workload, "runs": runs,
                      "spreads": spreads}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
