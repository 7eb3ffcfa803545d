"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (IQR as a share of the median) against its bound.

    python3 crawlbench/spread.py --workload crawl_fresh --seeds 1-10 \
        [--out runs.jsonl]

Run from the repository root; runs are sequential, each with the
``run_seconds`` that BENCHMARK.json declares. Each run's result line is
appended to ``--out`` when given. Exits 1 if a run leaves a process
running after it exits.
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
sys.path.insert(0, os.path.dirname(HERE))

from crawlbench.run import become_subreaper, child_pids, reap_all  # noqa: E402
from crawlbench.stats import quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    seconds = bench["run_seconds"]
    # a process a run leaves behind is re-parented here, and counted
    become_subreaper()
    left_behind = 0
    values: dict[str, list[float]] = {}
    for seed in seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds", str(seconds),
                                  "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), text=True,
                              stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, timeout=900)
        wall = time.perf_counter() - t0
        left = child_pids()
        if left:
            left_behind += 1
            print(f"seed {seed}: the run left {len(left)} processes running",
                  flush=True)
            reap_all()
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "wall_s": wall, **result,
                                    "log": lines[:-1]}) + "\n")
        metrics = " ".join(f"{k}={v['value']:.4g}"
                           for k, v in result["metrics"].items())
        print(f"seed {seed}: wall {wall:.1f} s "
              f"correct={result['correct']} {metrics}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 else 0.0
        print(f"{name}: median {statistics.median(vals):.4g} spread "
              f"{spread:.3f} bound {bounds[name]} "
              f"({'ok' if spread < bounds[name] / 3 else 'WIDE'})")
    return 1 if left_behind else 0


if __name__ == "__main__":
    sys.exit(main())
