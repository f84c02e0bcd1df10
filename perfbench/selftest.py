#!/usr/bin/env python3
"""Self-test of the benchmark at smoke size.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json with --smoke (three panel queries,
one simulated day, two micro-batches), untraced and traced, and asserts
that each run is correct and prints every end-to-end (untraced) or
per-layer (traced) metric of BENCHMARK.json by name with its unit. Then
runs query_sweep with one planted wrong checksum and asserts that the op
is counted as failed, `error_rate` is above zero and the run is not
correct. Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)
# a query the smoke panel runs (its first), given a wrong expected checksum
PLANT = "q5_local_supplier"


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HOME, "run.py"), "--seed", "7",
                        "--seconds", "1", "--smoke", *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{args}: exit {p.returncode}\n{p.stdout}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check_metrics(result, wanted, what):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1
    got = result["metrics"]
    for m in wanted:
        assert m["name"] in got, f"{what}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{what}: {m['name']} not a number"
    assert set(got) == {m["name"] for m in wanted}, f"{what}: extra metrics {set(got) - {m['name'] for m in wanted}}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, wanted in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            what = f"{w['name']} trace={trace}"
            lines, res = run("--workload", w["name"], "--trace", trace)
            check_metrics(res, wanted, what)
            assert res["correct"] and res["failed"] == 0, f"{what}: not correct\n" + "\n".join(lines)
            print(f"ok   {what}: {res['attempted']} ops, every metric printed with its unit")

    lines, res = run("--workload", "query_sweep", "--trace", "0", "--plant-wrong", PLANT)
    rate = float(next(l for l in lines if "error_rate" in l).split()[1])
    assert not res["correct"] and res["failed"] >= 1 and rate > 0, "\n".join(lines)
    assert any("FAILED" in l and PLANT in l for l in lines), "\n".join(lines)
    print(f"ok   planted wrong checksum for {PLANT}: failed={res['failed']}, error_rate={rate}")
    print("selftest passed")


if __name__ == "__main__":
    main()
