#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one report line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout of the repository. It builds the engine
and the harness from source with sbt (perfbench/build.sbt, outputs under
.bench_build/), generates the workload's inputs from the seed, runs the
harness JVM (perfbench.Main), checks every result, prints one line per
metric (name, value, unit, sample count) and, last, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics and writes
the span trace to .bench_build/out/<workload>-seed<n>-trace1/trace.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import re
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TMP = os.path.join(BUILD, "tmp")
CLASSES = os.path.join(BUILD, "perfbench-target", "scala-2.13", "classes")
WORKLOADS = {"batch_relational": 0.01, "batch_iterative": 0.01, "api_mixed": None}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEADLINE_S = 170  # a run must end within 180 s once built


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found")
    os.makedirs(TMP, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    log("perfbench: building engine + harness with sbt")
    env = dict(os.environ, SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={TMP}")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        sys.exit(f"perfbench: sbt compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def tables(seed, sf):
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        sys.path.insert(0, HERE)
        import gen_tables
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, seed, sf)
        open(os.path.join(d, "done"), "w").close()
    return d


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's own build
    (build.sbt at the root) names; perfbench/build.sbt does the same."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        sys.exit("perfbench: set SPARK_HOME to the Spark install")
    return m.group(1)


def host_speed_ms():
    """Best of three timings of a fixed single-threaded loop: a record of
    how fast the host ran, printed beside the metrics (not one of them)."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1000000):
            x += i * i
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def java_cmd(args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={TMP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}",
                  "perfbench.Main"] + args


def run_jvm(args, budget_s):
    # SPARK_LOCAL_DIRS would override spark.local.dir and move Spark's
    # scratch files out of the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(java_cmd(args), stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, env=env)
    try:
        return proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: harness JVM exceeded {budget_s:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted((tuple(_canon(r[i]) for i in order) for r in rows),
                   key=lambda t: tuple((x is None, str(x)) for x in t)))


def oracle_check(data_dir, checks):
    """Compares each query's check-pass output and the row count of each of
    its timed executions with the DuckDB oracle; returns failure lines.
    The oracle queries run on four threads, and their results are kept
    beside the tables (same seed and scale factor, same tables): a few of
    them (recursive SQL) take seconds each."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")

    def check(c):
        q = c["query"]
        files = sorted(glob.glob(os.path.join(c["dir"], "*.parquet")))
        spark_tab = pq.ParquetDataset(files).read() if files else None
        cache = os.path.join(data_dir, "oracle", q + "-" + hashlib.sha256(
            c["oracle_sql"].encode()).hexdigest()[:16] + ".pickle")
        if os.path.exists(cache):
            with open(cache, "rb") as fh:
                d_cols, d_rows = pickle.load(fh)
        else:
            try:
                res = con.cursor().execute(c["oracle_sql"])
                d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
            except Exception as e:  # an oracle that cannot run is a failed check
                return [f"{q}: oracle error {e}"]
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache + ".tmp", "wb") as fh:
                pickle.dump((d_cols, d_rows), fh)
            os.replace(cache + ".tmp", cache)
        if spark_tab is None:
            return [f"{q}: no check-pass output"]
        failures = []
        s_rows = list(zip(*[col.to_pylist() for col in spark_tab.columns])) \
            if spark_tab.num_rows else []
        if _norm(spark_tab.column_names, s_rows) != _norm(d_cols, d_rows):
            failures.append(f"{q}: check-pass result differs from the oracle "
                            f"({len(s_rows)} vs {len(d_rows)} rows)")
        for n in c["timed_rows"]:
            if n != len(d_rows):
                failures.append(f"{q}: timed execution returned {n} rows, oracle {len(d_rows)}")
        return failures

    with ThreadPoolExecutor(max_workers=4) as pool:
        return [f for fs in pool.map(check, checks) for f in fs]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    host_before = host_speed_ms()
    t0 = time.time()
    sf = WORKLOADS[a.workload]
    data = tables(a.seed, sf) if sf is not None else ""
    out = os.path.join(BUILD, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    code = run_jvm(["--workload", a.workload, "--data", data or "-", "--out", out,
                    "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace)], DEADLINE_S - (time.time() - t0))
    result_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_file):
        sys.exit(f"perfbench: harness JVM failed (exit {code})")
    with open(result_file) as fh:
        res = json.load(fh)
    host_ms = (host_before + host_speed_ms()) / 2

    failures = list(res["failures"])
    if res.get("checks"):
        failures += oracle_check(data, res["checks"])
    attempted, failed = res["attempted"], len(failures)
    for f in failures[:20]:
        log(f"FAILED {f}")

    section = res["layer"] if a.trace else res["e2e"]
    for name, m in list(section.items()) + list(res["named"].items()):
        print(f"{name} {m['value']!r} {m['unit']} (n={m['n']})")
    print(f"failed_frac {failed / attempted!r} ratio (n={attempted})")
    print(f"host_loop_ms {host_ms!r} ms (n=2)")
    metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in section.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
