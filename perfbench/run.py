#!/usr/bin/env python3
"""Benchmark of the graft library: one workload per run, timed end to end
and, with --trace 1, layer by layer (perfbench/README.md).

    python3 perfbench/run.py --workload cc-durable-resume --seed 1 \
        --seconds 10 --trace 0

Run it from the root of the repository. The first run builds the library
and the harness (perfbench/build.sbt) with sbt; later runs reuse the build
while the sources are unchanged. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The line before
it records the host (steal jiffies over the timed window, nproc, JVM and
Spark versions, seed, input sizes).

Developer options: --size smoke (tiny inputs that still exercise every
check and metric), --perturb 1 (corrupt one output before its check: the run
must then fail).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
DATA = os.path.join(HERE, "data")
CACHE = os.path.join(HERE, "cache")
WORK = os.path.join(HERE, "work")

WORKLOADS = ("pagerank-converge", "cc-durable-resume", "query-suite")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the library's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Tables the oracle SQL may name (as in scripts/check_oracles.py).
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the first spark-submit on the PATH that sits in a Spark
    installation (one with a jars directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d or ".", "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("set SPARK_HOME or put Spark's spark-submit on the PATH")


def build():
    """Compile library + harness; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log("building library + harness with sbt (first run in this checkout)")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if os.pathsep in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("could not read the classpath from sbt")
    classpath = cps[-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"build took {time.time() - t0:.1f} s")
    return classpath


# ------------------------------------------------------------ oracle check

def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def values_equal(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(got, want):
    """None when equal, else a one-line reason (scripts/check_oracles.py)."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for col in got.columns:
        for i, (g, w) in enumerate(zip(got[col].tolist(), want[col].tolist())):
            if not values_equal(g, w):
                return f"{col}[{i}] spark={g!r} duckdb={w!r}"
    return None


def oracle_check(sf_dir, results):
    """Compare every query result with its DuckDB oracle. Oracle answers are
    cached per (tables, SQL) under perfbench/cache. Returns the number of
    queries compared and {query: reason} for those that differ."""
    import duckdb
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = sorted(n for n in os.listdir(results) if os.path.isdir(os.path.join(results, n)))
    tables_id = hashlib.sha256()
    for t in sorted(glob.glob(os.path.join(sf_dir, "*.parquet", "*")) +
                    glob.glob(os.path.join(sf_dir, "*.parquet"))):
        if os.path.isfile(t):
            tables_id.update(f"{os.path.relpath(t, sf_dir)}:{os.path.getsize(t)}".encode())
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    os.makedirs(CACHE, exist_ok=True)
    failures = {}
    for name in sorted(set(names) | set(oracles)):
        if name not in oracles:
            failures[name] = "no oracle SQL"
            continue
        if name not in names:
            failures[name] = "no Spark result"
            continue
        key = hashlib.sha256(tables_id.digest() + oracles[name].encode()).hexdigest()[:32]
        cached = os.path.join(CACHE, f"oracle-{key}.pkl")
        if os.path.exists(cached):
            with open(cached, "rb") as f:
                want = pickle.load(f)
        else:
            try:
                want = canon(con.sql(oracles[name]).df())
            except Exception as e:  # noqa: BLE001 - any oracle error fails the query
                failures[name] = f"oracle SQL error: {e}"
                continue
            tmp = f"{cached}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                pickle.dump(want, f)
            os.replace(tmp, cached)
        got = canon(con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").df())
        reason = compare(got, want)
        if reason:
            failures[name] = reason
    con.close()
    return len(set(names) | set(oracles)), failures


# -------------------------------------------------------------------- main

def declared_metrics(values, trace):
    """The metrics BENCHMARK.json declares, with its units, in its order. A
    per-layer metric of a layer this workload does not touch reads 0; an
    end-to-end metric must always be measured."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    undeclared = sorted(set(values) - set(units))
    if undeclared:
        fail(f"metrics missing from BENCHMARK.json: {undeclared}")
    if not trace and set(values) != set(units):
        fail(f"end-to-end metrics not measured: {sorted(set(units) - set(values))}")
    return {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}


def java_cmd(classpath, args, work, traces):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classpath, "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--size", args.size, "--work", work, "--data", DATA, "--traces", traces,
             "--perturb", str(args.perturb)])


def run_jvm(cmd, deadline, log_path):
    """Run the JVM; returns (exit code, stdout, its own peak RSS in MB).
    None as exit code means it ran past the deadline and was killed."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, cwd=ROOT)
    timer = threading.Timer(max(1.0, deadline - time.time()), p.kill)
    timer.start()
    try:
        out = p.stdout.read()
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    if time.time() >= deadline:
        return None, out, 0.0
    return p.returncode, out, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"no library sources at {os.path.relpath(LIB_SRC, os.getcwd())}: "
             "run from the root of a full checkout")
    if not os.path.isdir(os.path.join(DATA, "sf0.01")):
        fail("missing perfbench/data tables")
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(WORK, "traces")
    jvm_log = os.path.join(WORK, f"jvm-{args.workload}-{args.seed}.log")
    try:
        code, out, rss_mb = run_jvm(java_cmd(classpath, args, run_dir, traces), deadline, jvm_log)
        if code is None:
            fail(f"workload exceeded {RUN_LIMIT_S} s; JVM log: {jvm_log}")
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if code != 0 or not lines:
            with open(jvm_log) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"workload JVM exited with code {code}")
        rep = json.loads(lines[-1][len("PERFBENCH "):])

        checks = rep["checks"]
        failed = rep["failed"]
        attempted = rep["attempted"]
        if "oracle" in rep:
            t0 = time.time()
            n, failures = oracle_check(rep["oracle"]["sf_dir"], rep["oracle"]["results"])
            rep["host"]["oracle_check_s"] = time.time() - t0
            checks.append({"name": "suite.oracle", "ok": not failures,
                           "detail": f"{n - len(failures)}/{n} match DuckDB"
                                     + "".join(f"; {k}: {v}" for k, v in sorted(failures.items())[:5])})
            attempted += n
            failed += len(failures)
        correct = failed == 0 and all(c["ok"] for c in checks)
        host = dict(rep["host"], checks=checks, e2e=rep["e2e"], peak_rss_mb=rss_mb,
                    elapsed_s=time.time() - start)
        print(json.dumps({"host": host}))
        metrics = declared_metrics(rep["layers"] if args.trace else rep["e2e"], args.trace)
        if not correct:
            for c in checks:
                if not c["ok"]:
                    log(f"check failed: {c['name']}: {c['detail']}")
            metrics = {}
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
