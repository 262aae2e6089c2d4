#!/usr/bin/env python3
"""Steadiness self-check: runs one workload's traced run twice with the
same seed and lists, by name, every load-independent counter (jobs,
stages, tasks, shuffle bytes, plan-build jobs; per query, or per request
in send order) that did not repeat exactly.

    python3 perfbench/steady.py --workload <name> --seed <n> [--seconds <n>]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "out")


def traced_run(a, tag):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1"],
                       stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"steady: traced run {tag} failed")
    src = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace1", "result.json")
    dst = os.path.join(OUT, f"steady-{a.workload}-seed{a.seed}-{tag}.json")
    shutil.copy(src, dst)
    with open(dst) as fh:
        return json.load(fh)["counters"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=seconds)
    a = ap.parse_args()
    first, second = traced_run(a, "a"), traced_run(a, "b")
    # a time-bounded API run completes a different number of requests;
    # compare the requests both runs sent
    common = [k for k in first if k in second]
    moved = []
    for k in common:
        for name, v in first[k].items():
            if second[k][name] != v:
                moved.append(f"{k}.{name}: {v} -> {second[k][name]}")
    print(f"{a.workload} seed {a.seed}: {len(common)} operations compared, "
          f"{sum(len(first[k]) for k in common)} counters, {len(moved)} did not repeat")
    for m in moved:
        print("  " + m)


if __name__ == "__main__":
    main()
