#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark (perfbench/build.py), runs one workload
in a single JVM at local[n] (n = min(cpus available, TASK_THREADS)), checks its
outputs, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes the spans to .bench_build/traces/). For
doc-queries the query rows are compared here with their DuckDB oracles.

Everything the run writes stays under .bench_build/ in the checkout; the
run's work directory (inputs, Spark local dir, checkpoints, temp files) is
removed when it ends.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175
# Output columns both engines round to 6 decimals, where a one-unit
# difference in the 6th decimal is a rounding tie rather than an error.
ROUNDED_COLUMNS = {
    "q_gopher_repetition": {
        "dup_line_frac", "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
        "dup_2gram_char_frac", "dup_3gram_char_frac", "dup_4gram_char_frac",
    },
}


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# Task threads per workload, at most the CPUs available. A doc-queries pass
# is driver-bound (its tasks use under one core on average); two task threads
# leave the other cores to the driver thread, the JIT and GC, and its pass
# times spread less across runs than at four.
TASK_THREADS = {"bulk-mixed": 4, "doc-queries": 2}


def cpus(workload):
    return max(1, min(len(os.sched_getaffinity(0)), TASK_THREADS[workload]))


def heap():
    """SPARK_DRIVER_MEM if set, else a third of MemTotal, clamped to 2..6 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    gib = 6
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // (3 * 1024 * 1024)
    except OSError:
        pass
    return f"{max(2, min(gib, 6))}g"


def java_cmd(classes, main_args, tmp):
    cp = classes + os.pathsep + build.classpath_jars()
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "graft.perfbench.Main"] + main_args)


def jvm_env(spark_local):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_LOCAL_DIR"] = spark_local
    env["SPARK_LOCAL_DIRS"] = spark_local
    return env


def run_jvm(cmd, env, log_path, timeout_s):
    """Runs the JVM in its own process group; on timeout kills the group
    and waits for it. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def on_grid(x, places=6):
    """True where a float is a multiple of 10**-places (a rounded output)."""
    import numpy as np
    scaled = x * 10.0 ** places
    return np.isfinite(x) & (np.abs(scaled - np.round(scaled)) < 1e-6)


def compare(o, s, rounded=frozenset()):
    """(equal, ties): rows and columns equal after sorting both; floats to
    1e-9. In the `rounded` columns, where both sides sit on the 6-decimal
    grid, a difference of one unit in the 6th decimal is a rounding tie
    (Spark's HALF_UP on the exact double against DuckDB's rounding of a
    scaled double), counted in `ties` and reported, not failed."""
    import numpy as np
    cols = sorted(o.columns)
    if cols != sorted(s.columns) or len(o) != len(s):
        return False, 0
    o = o[cols].sort_values(cols).reset_index(drop=True)
    s = s[cols].sort_values(cols).reset_index(drop=True)
    ties = 0
    for c in cols:
        if o[c].dtype.kind in "fiu" and s[c].dtype.kind in "fiu":
            a, b = o[c].to_numpy(float), s[c].to_numpy(float)
            close = np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
            tie = (~close & on_grid(a) & on_grid(b) & (np.abs(a - b) <= 1e-6 * (1 + 1e-6))
                   if c in rounded else np.zeros(len(a), bool))
            if not (close | tie).all():
                return False, 0
            ties += int(tie.sum())
        elif not (o[c].astype(str) == s[c].astype(str)).all():
            return False, 0
    return True, ties


def oracle_mismatches(work):
    """Names of the document queries whose rows differ from their DuckDB
    oracle on the same documents table."""
    import duckdb
    out = os.path.join(work, "in", "query_out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    docs = os.path.join(work, "in", "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            o = con.sql(sql).df()
            s = con.sql(f"SELECT * FROM read_parquet('{os.path.join(out, name, '*.parquet')}')").df()
            ok, ties = compare(o, s, ROUNDED_COLUMNS.get(name, frozenset()))
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"oracle {name} raised {e}")
            ok, ties = False, 0
        log(f"oracle {name}: {'ok' if ok else 'MISMATCH'}"
            + (f" ({ties} values differ by a rounding tie in the 6th decimal)" if ties else ""))
        if not ok:
            bad.append(name)
    con.close()
    return bad


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    classes = build.ensure_built()
    started = time.monotonic()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    traces = os.path.join(build.BUILD, "traces")
    logs = os.path.join(build.BUILD, "logs")
    for d in (work, os.path.join(work, "tmp"), traces, logs):
        os.makedirs(d, exist_ok=True)
    try:
        result_path = os.path.join(work, "result.json")
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        log_path = os.path.join(logs, f"{tag}.log")
        cmd = java_cmd(classes, [
            "run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cpus", str(cpus(a.workload)),
            "--out", result_path, "--spans", os.path.join(traces, f"{tag}.json")],
            os.path.join(work, "tmp"))
        code = run_jvm(cmd, jvm_env(os.path.join(work, "spark-local")), log_path,
                       RUN_LIMIT_S - (time.monotonic() - started))
        if code != 0 or not os.path.isfile(result_path):
            log(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; "
                f"log: {log_path}")
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
        if a.workload == "doc-queries" and not a.trace:
            bad = oracle_mismatches(work)
            if bad:
                log(f"oracle mismatch in {', '.join(bad)}: every pass counts as failed")
                res["failed"] = res["attempted"]
                res["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if set(metrics) != set(units):
        log(f"metric names differ from BENCHMARK.json: "
            f"extra {sorted(set(metrics) - set(units))}, missing {sorted(set(units) - set(metrics))}")
        return 1
    bad = [k for k, v in metrics.items() if v is None or not math.isfinite(v)]
    if bad:
        log(f"metrics without a finite value: {bad}")
        return 1
    for k, v in res.get("info", {}).items():
        print(f"perfbench: {k}: {v}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
