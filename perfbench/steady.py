#!/usr/bin/env python3
"""Steadiness mode: is each end-to-end metric steady enough for its bound?

    python3 perfbench/steady.py --runs 10 [--workloads stream_join,sweep_batch]

Runs every workload ``--runs`` times, each run a fresh process with its own
seed, and alternates the workload order from round to round so a slow
stretch of the host does not land on one workload. For every end-to-end
metric it reports the median, the quartiles (``statistics.quantiles``,
n=4) and the spread (q3 - q1) / median next to the metric's bound in
``BENCHMARK.json``; a spread above bound / 3 is flagged. Also reports the
wall time of each run. The summary is written to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict | None, float]:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
              file=sys.stderr)
        return None, wall
    return json.loads(lines[-1]), wall


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed0", type=int, default=1000,
                    help="run r of a workload uses seed seed0 + r")
    args = ap.parse_args()
    names = args.workloads.split(",")

    values = {w: {m["name"]: [] for m in spec["end_to_end"]} for w in names}
    walls = {w: [] for w in names}
    failures = {w: 0 for w in names}
    for r in range(args.runs):
        order = names if r % 2 == 0 else names[::-1]
        for w in order:
            res, wall = run_once(w, args.seed0 + r, spec["run_seconds"])
            walls[w].append(wall)
            if res is None or not res["correct"]:
                failures[w] += 1
                print(f"round {r} {w}: {wall:.1f} s FAILED", flush=True)
                continue
            for k, v in res["metrics"].items():
                values[w][k].append(v["value"])
            print(f"round {r} {w}: {wall:.1f} s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)

    summary = {}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in names:
        print(f"\n{w}: {len(walls[w])} runs, {failures[w]} failed, wall median "
              f"{statistics.median(walls[w]):.1f} s, max {max(walls[w]):.1f} s")
        summary[w] = {"walls": walls[w], "failures": failures[w], "metrics": {}}
        for k, xs in values[w].items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bounds[k] / 3 else (
                "WIDE" if spread < bounds[k] else "OVER BOUND")
            print(f"  {k:14s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:.3f}  bound {bounds[k]}  {flag}")
            summary[w]["metrics"][k] = {"values": xs, "median": med, "q1": q1,
                                        "q3": q3, "spread": spread,
                                        "bound": bounds[k]}
    out = os.path.join(ROOT, ".perfbench_work", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\nsummary: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
