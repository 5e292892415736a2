#!/usr/bin/env python3
"""Steadiness report: run each workload with several seeds and print,
per end-to-end metric, the median, quartiles, min and max and the
spread (q3 - q1) / median, flagging a spread above the metric's bound
(and noting one above a third of it, the margin the benchmark aims
for). Every metric, setup_s included, is held to its bound.

    python3 etlbench/steady.py [--seeds 10] [--first-seed 1] [workload ...]

Run from the root of a checkout. Raw results go to stdout as JSON lines
after the table.
"""

import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return None, None
    return json.loads(lines[-1]), json.loads(lines[-2])["details"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    raw, flagged = [], 0
    for w in workloads:
        results = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            r, d = run_once(w, seed, spec["run_seconds"])
            raw.append({"workload": w, "seed": seed, "result": r,
                        "run_wall_s": d and d["run_wall_s"], "loadavg": d and d["loadavg"],
                        "ms": d and d["ms"]})
            if r is None or not r["correct"] or r["failed"]:
                print(f"{w} seed {seed}: run failed or incorrect: {r}")
                flagged += 1
                continue
            results.append(r)
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = stats.spread(vals)
            flag = "OVER BOUND" if sp > m["bound"] else \
                ("above bound/3" if sp > m["bound"] / 3 else "")
            flagged += flag == "OVER BOUND"
            print(f"{w:8} {m['name']:12} n={len(vals):2} median={med:12.4f} q1={q1:12.4f} "
                  f"q3={q3:12.4f} min={min(vals):12.4f} max={max(vals):12.4f} "
                  f"spread={sp:6.3f} bound={m['bound']:.2f} {flag}")
    for r in raw:
        print(json.dumps(r))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
