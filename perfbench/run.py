#!/usr/bin/env python3
"""Serving-loop benchmark: one run of one workload.

    python3 perfbench/run.py --workload sgd_update --seed 1 --seconds 12 --trace 0

Run it from the root of a repository checkout. It builds the program
(perfbench/build.py), makes the seeded input tables (perfbench/datagen.py),
runs the workload in a fresh JVM (perfbench/src), checks the outputs, and
prints as its last stdout line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Everything it writes stays under .bench_build/.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402

# sgd_update reads the sf0.1 ratings fact; batch_ops runs its queries over
# every table at sf0.01
DATA = {
    "sgd_update": (0.1, ("orders", "lineitem", "part")),
    "batch_ops": (0.01, datagen.ALL_TABLES),
}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 175


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def oracle_checks(result, data_dir):
    """Each batch query's cold-pass rows against its DuckDB oracle, compared
    the way tools/check.py compares them: columns by name, rows sorted,
    floats exactly, everything else by its string form."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for p in glob.glob(f"{data_dir}/*.parquet"):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    def cmp(a, b):
        if list(a.columns) != list(b.columns):
            return f"columns spark={list(a.columns)} duckdb={list(b.columns)}"
        if len(a) != len(b):
            return f"row count spark={len(a)} duckdb={len(b)}"
        for c in a.columns:
            for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
                if x is None and y is None:
                    continue
                if isinstance(x, float) and isinstance(y, float):
                    if (math.isnan(x) and math.isnan(y)) or x == y:
                        continue
                    return f"{c} row {i}: spark={x!r} duckdb={y!r}"
                if str(x) != str(y):
                    return f"{c} row {i}: spark={x!r} duckdb={y!r}"
        return None

    checks = []
    for q, o in sorted(result.get("oracle", {}).items()):
        if not o.get("sql"):
            continue
        spark_df = norm(pd.concat([pd.read_parquet(f) for f in glob.glob(f"{o['out']}/*.parquet")],
                                  ignore_index=True))
        try:
            err = cmp(spark_df, norm(con.sql(o["sql"]).df()))
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"oracle error: {e}"
        checks.append({"name": f"{q}:oracle", "ok": err is None, "detail": err or ""})
    return checks


def trace_overhead(e2e, history):
    """Traced minus untraced: each end-to-end value of this traced run minus
    the median of `history`, the untraced runs of the same build, workload
    and --seconds in this checkout."""
    out = {"overhead.baseline_runs": float(len(history))}
    for name, value in e2e.items():
        base = statistics.median(h[name] for h in history) if history else value
        out[f"overhead.{name}"] = value - base
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("perfbench: BENCHMARK.json not found; run from the repository root")
    spec = json.load(open("BENCHMARK.json"))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.build(".")
    started = time.time()
    sf, tables = DATA[a.workload]
    data_dir = datagen.ensure(os.path.join(build.BUILD, "data"), a.seed, sf, tables)
    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "--add-modules=jdk.incubator.vector",
           # a fixed heap that G1 does not resize mid-run, and a pause goal
           # that keeps young collections short and frequent, as a serving
           # JVM is set up
           "-Xms2g", "-Xmx2g", "-XX:MaxGCPauseMillis=10",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j.configurationFile={here}/log4j2.properties",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.runtime_classpath(os.path.abspath(classes)), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", os.path.abspath(data_dir), "--run", run_dir,
           "--cpus", str(os.cpu_count() or 1)]
    total0, steal0 = cpu_times()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(30.0, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish in time")
    if code != 0:
        sys.exit(f"perfbench: the JVM exited with code {code}")
    total1, steal1 = cpu_times()
    result = json.load(open(os.path.join(run_dir, "result.json")))
    checks = result["checks"] + oracle_checks(result, data_dir)
    for d in ("spark-local", "ckpt", "rdd-ckpt", "tmp", "warehouse", "out"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    host = {"host.nproc": float(os.cpu_count() or 1),
            "host.steal_share": (steal1 - steal0) / max(1, total1 - total0)}
    # untraced runs of this very build (classes-<digest of the sources>) and
    # run length are the baseline that a traced run's overhead is taken from
    history_file = os.path.join(build.BUILD, "results", os.path.basename(classes),
                                f"{a.workload}-s{a.seconds:g}.jsonl")
    if a.trace:
        history = []
        if os.path.isfile(history_file):
            history = [json.loads(line) for line in open(history_file)]
        values = {**result["layers"], **host, **trace_overhead(result["e2e"], history)}
    else:
        values = result["e2e"]
        os.makedirs(os.path.dirname(history_file), exist_ok=True)
        with open(history_file, "a") as f:
            f.write(json.dumps(values) + "\n")
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        sys.exit(f"perfbench: the run did not produce {missing}")

    phases = result["phases"]
    failed_checks = [c for c in checks if not c["ok"]]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "phases": phases, **host,
                      "write_units_ms": result["write_units_ms"],
                      "checks": len(checks), "failed_checks": failed_checks}))
    print(json.dumps({
        "correct": not failed_checks,
        "attempted": sum(p["attempted"] for p in phases.values()),
        "failed": sum(p["failed"] for p in phases.values()),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
