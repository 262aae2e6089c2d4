#!/usr/bin/env python3
"""Run-to-run spread: runs one workload once per seed and prints, for each
end-to-end metric, the median and the distance between the first and
third quartile as a share of the median (statistics.quantiles, n=4), next
to the metric's bound from BENCHMARK.json. Each seed's line also shows
`host_loop_ms`, the run's timing of a fixed loop, to tell a slower host
from a slower program.

    python3 perfbench/spread.py --workload <name> --seeds 1 2 3 ... [--seconds n]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(a.seconds), "--trace", "0"],
                             capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"spread: seed {seed} failed:\n{out.stderr[-2000:]}")
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        host = next(ln.split()[1] for ln in lines if ln.startswith("host_loop_ms "))
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} host_loop_ms={float(host):.1f} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}, spread {(q3 - q1) / med:.3f} "
              f"(bound {m['bound']}, target < {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
