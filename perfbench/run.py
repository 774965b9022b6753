#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload <census_etl|index_maintain> \
        --seed <n> --seconds <n> --trace <0|1>

Builds the harness and graft from source (once per source tree, into
.bench_build/), runs the workload in its own JVM on graft's read-only
sf0.01 test corpus (see data_dir), checks every result, prints each
metric by name with its unit and, as the last line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Exits non-zero when any operation failed or returned a wrong result.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import pickle
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["census_etl", "index_maintain"]
# the input tables are fixed; the run's seed drives the operation stream
DATA_SCALE_DIR = "sf0.01"
DATA_ENV = "SPARK_GRAFT_SF_DIR"
CORES = 4
HEAP = "2g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(BUILD_DIR, "target", "scala-2.13", "classes")
TABLES = ["customer", "documents", "embeddings", "events", "lineitem", "nation", "orders", "part", "region",
          "supplier"]

END_TO_END = {
    "setup_s": "s",
    "launch_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "live_heap_mb": "MB",
}
# printed for the reader, not part of the result line
EXTRA_END_TO_END = {
    "query_p50_s": "s",
    "query_p90_s": "s",
    "query_p75_s": "s",
    "query_samples": "count",
    "failed_frac": "frac",
    "rebuild_s": "s",
    "append_s": "s",
    "compact_s": "s",
    "lookup_s": "s",
    "stored_bytes_per_input_byte_after_append": "B/B",
    "stored_bytes_per_input_byte_after_compact": "B/B",
}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args(argv)
    for name in ("seed", "seconds"):
        v = getattr(a, name)
        if not v.isdigit():
            ap.error(f"--{name} must be a non-negative integer, got {v!r}")
        setattr(a, name, int(v))
    if not 1 <= a.seconds <= 600:
        ap.error(f"--seconds must be in 1..600, got {a.seconds}")
    a.trace = a.trace == "1"
    return a


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if "bytes_per_input_byte" in name:
        return "B/B"
    if name.endswith("_frac") or name.endswith("_skew"):
        return "ratio"
    return "count"


# --- build -----------------------------------------------------------

def source_stamp() -> str:
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built() -> None:
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_JARS"] = spark_jars()
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                               stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s (log: {log_path})", 1)
    if r.returncode != 0 or not os.path.isdir(os.path.join(CLASSES, "graft", "perfbench")):
        tail = open(log_path).read()[-3000:]
        fail(f"build failed (exit {r.returncode}); log {log_path}:\n{tail}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def data_dir() -> str:
    """The input tables: $SPARK_GRAFT_SF_DIR when set, else the sf0.01
    scale of graft's test corpus, which sits beside the sf0.1 tables
    that graft.Bench reads by default."""
    d = os.environ.get(DATA_ENV)
    if not d:
        with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
            m = re.search(DATA_ENV + r'",\s*"([^"]+)"', f.read())
        if not m:
            fail(f"{DATA_ENV} is not set and graft.Bench names no default corpus", 1)
        d = os.path.join(os.path.dirname(m.group(1)), DATA_SCALE_DIR)
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(d, f"{t}.parquet"))]
    if missing:
        fail(f"input tables {', '.join(missing)} missing under {d!r}; set {DATA_ENV}", 1)
    return d


# --- run -------------------------------------------------------------

def spark_jars() -> str:
    """The Spark jars graft's own build compiles against (its build.sbt's
    unmanagedBase), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars!r}: graft's build.sbt names none and SPARK_HOME is not set", 1)
    return jars


def run_jvm(args, data: str, deadline: float) -> dict:
    run_dir = os.path.join(WORK_DIR, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    report = os.path.join(run_dir, "report.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}",
           "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", "1" if args.trace else "0", "--data", data, "--work", run_dir,
           "--cores", str(CORES), "--report", report]
    out_path, err_path = os.path.join(run_dir, "jvm.out"), os.path.join(run_dir, "jvm.err")
    with open(out_path, "w") as out, open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=err, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit; see {err_path}", 1)
    if rc != 0 or not os.path.exists(report):
        tail = open(err_path, errors="replace").read()[-3000:]
        fail(f"benchmark JVM exited {rc}; stderr tail:\n{tail}", 1)
    with open(report) as f:
        return json.load(f)


# --- correctness -----------------------------------------------------

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and not isinstance(v, str) else v)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(a, b):
    """Mismatch description or None (the rules of tools/check_oracle.py)."""
    import pandas as pd
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
            ok = all((pd.isna(x) and pd.isna(y)) or (not pd.isna(x) and not pd.isna(y)
                     and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9))
                     for x, y in zip(av.astype(float), bv.astype(float)))
        else:
            ok = av.astype(str).equals(bv.astype(str))
        if not ok:
            return f"column {c!r} differs from the oracle"
    return None


def oracle_check(report: dict, data: str) -> list:
    """Compare each query's result with its DuckDB oracle. Oracle
    results are cached by (input directory, SQL text)."""
    import duckdb
    import pandas as pd
    sqls = report["summary"].get("oracle_sql", {})
    out_dir = os.path.join(WORK_DIR, f"run-{report['workload']}", "out")
    cache = os.path.join(WORK_DIR, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    failures = []
    for name in report["checked"]:
        sql = sqls.get(name)
        if sql is None:
            failures.append(f"{name}: no oracle SQL")
            continue
        key = hashlib.sha256(f"{os.path.abspath(data)}\n{sql}".encode()).hexdigest()
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                expected = pickle.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in sorted(f[:-len(".parquet")] for f in os.listdir(data) if f.endswith(".parquet")):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            try:
                expected = canon(con.execute(sql).df())
            except Exception as e:  # an oracle that cannot run is a failed check
                failures.append(f"{name}: oracle SQL error: {e}")
                continue
            with open(path + ".tmp", "wb") as f:
                pickle.dump(expected, f)
            os.replace(path + ".tmp", path)
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            failures.append(f"{name}: no result written")
            continue
        msg = compare(canon(pd.read_parquet(qdir)), expected)
        if msg:
            failures.append(f"{name}: {msg}")
    if con is not None:
        con.close()
    return failures


def query_percentiles(report: dict) -> dict:
    """p50 (and p90, when at least 10 samples lie beyond it) over the
    timed operations of the untraced warm passes."""
    samples = sorted(op["wall_s"] for p in report["passes"] if p["index"] > 0 and not p["traced"]
                     for op in p["ops"] if op["error"] is None)
    return percentile_stats(samples)


def percentile_stats(samples: list) -> dict:
    """Median, and the highest of p90/p75 that has at least 10 samples
    beyond it (ties at the percentile are not beyond it)."""
    samples = sorted(samples)
    if not samples:
        return {"query_samples": 0}

    def pct(p):  # nearest rank
        return samples[max(0, math.ceil(p * len(samples)) - 1)]

    out = {"query_p50_s": pct(0.5), "query_samples": len(samples)}
    for p in (90, 75):
        v = pct(p / 100)
        beyond = sum(1 for x in samples if x > v)
        if beyond >= 10:
            out[f"query_p{p}_s"] = v
            break
        if p == 90:
            out["query_p90_omitted"] = f"{beyond} of {len(samples)} samples beyond p90; 10 needed"
    return out


SELF_TIME_LAYERS = ["queries.build_s", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
                    "executor.stage_wall_s", "scheduler.driver_gap_s", "other_s"]


def summarize(report: dict, oracle_failures: list, trace: bool):
    """(lines to print, result object, exit code) for a finished run.
    Every failed operation and every wrong result counts in `failed`."""
    failures = [f"{f['name']}/{f['kind']}: {f['error']}" for f in report["failures"]] + oracle_failures
    attempted = report["attempted"]
    failed = report["failed"] + len(oracle_failures)
    e2e = dict(report["end_to_end"])
    e2e.update(query_percentiles(report))
    e2e["failed_frac"] = failed / attempted
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(report["per_layer"].items())}
    else:
        metrics = {k: {"value": e2e.get(k), "unit": u} for k, u in END_TO_END.items()}
    lines = [f"FAILED {f}" for f in failures]
    lines.append(f"workload {report['workload']} seed {report['seed']}: {attempted} operations, {failed} failed")
    lines += [f"  {k} = {e2e[k]:.6g} {u}" for k, u in {**END_TO_END, **EXTRA_END_TO_END}.items() if k in e2e]
    if "query_p90_omitted" in e2e:
        lines.append(f"  query_p90_s omitted: {e2e['query_p90_omitted']}")
    if trace:
        lines += [f"  {k} = {m['value']:.6g} {m['unit']}" for k, m in metrics.items()]
        layers = report["per_layer"]
        total = sum(layers[k] for k in SELF_TIME_LAYERS)
        lines.append(f"  self times + other = {total:.6g} s of {layers['trace.wall_s']:.6g} s traced wall "
                     f"({' + '.join(SELF_TIME_LAYERS)})")
        lines.append(f"  tracing overhead: traced warm passes are {100 * layers['trace.overhead_frac']:+.1f}% "
                     f"against untraced ones")
    missing = [k for k, m in metrics.items()
               if not isinstance(m["value"], (int, float)) or math.isnan(m["value"])]
    for k in missing:
        metrics[k]["value"] = None
    if missing:
        lines.append(f"FAILED metrics without a value: {', '.join(missing)}")
    correct = failed == 0 and not missing
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return lines, result, 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"graft sources not found under {ROOT}/src/main/scala; run from a graft checkout")
    ensure_built()
    data = data_dir()
    report = run_jvm(args, data, time.time() + RUN_LIMIT_S - 10)
    oracle_failures = oracle_check(report, data) if "oracle_sql" in report["summary"] else []
    lines, result, code = summarize(report, oracle_failures, args.trace)
    reports = os.path.join(WORK_DIR, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{int(args.trace)}.json"), "w") as f:
        json.dump({**report, "oracle_failures": oracle_failures}, f)
    print("\n".join(lines))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
