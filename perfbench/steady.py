#!/usr/bin/env python3
"""Steadiness check: run the benchmark over several seeds and report, per
end-to-end metric, the median and the spread (the distance between the
first and third quartiles over the median, as statistics.quantiles gives
them) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--seeds 101-110] [--workloads a,b] [--json out.json]

Prints one line per workload and metric; a spread marked `!` is at or above
a third of its bound (setup_s is reported but not held to its bound). Each
run's wall time is printed too, to check the time a full set of runs takes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--json")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    out = {}
    for w in names:
        runs = []
        for seed in range(lo, hi + 1):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HOME, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            ok = bool(res and res["correct"])
            print(f"{w} seed={seed} wall={wall:.1f}s exit={p.returncode} correct={ok}", flush=True)
            if res:
                runs.append((wall, res))
        out[w] = [r for _, r in runs]
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for _, r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            mark = "!" if spread >= m["bound"] / 3 and m["name"] != "setup_s" else " "
            print(f"  {mark} {w:12s} {m['name']:28s} median {med:12.4f} {m['unit']:7s} "
                  f"spread {spread:.4f} bound {m['bound']}")
        walls = [wl for wl, _ in runs]
        print(f"    {w} wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(out, f)


if __name__ == "__main__":
    main()
