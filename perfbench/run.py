#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference ETL loop over JDBC and over
parquet, and a mix of analytic lanes.

Run from the root of the repository:

    python3 perfbench/run.py --workload etl_jdbc --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload

It builds the engine and the benchmark JVM with sbt (once per source
state), runs one JVM per workload, checks the outputs (lane results against
the project's DuckDB oracles), and prints one JSON result as the last line
of standard output. See perfbench/README.md for workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["etl_jdbc", "etl_parquet", "lanes_mix"]
# Files whose content decides whether the build can be reused.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            raise SystemExit(f"perfbench: {rel} is missing; run from a full checkout")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the JVM classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def run_jvm(classpath, workload, seed, seconds, trace, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} JVM exceeded {JVM_TIMEOUT_S} s")
    finally:  # also on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: {workload} JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


# ---- lane check against the DuckDB oracles ----

def canon(v):
    """A cell in a form both engines agree on: floats rounded to 9
    significant digits, so summation order does not matter."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b" + str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "~" if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "is_finite"):  # Decimal
        return f"{float(v):.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return "s" + str(v)


def digest(rows):
    """Order-independent digest of a multiset of rows: (count, hash sum)."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join(canon(x) for x in r).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
        n += 1
    return n, total


def sorted_rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [names[i] for i in order], [tuple(r[i] for i in order) for r in cur.fetchall()]


def check_lanes(fixture_dir, lanes_dir):
    """Compare each lane's result with its oracle; return {lane: problem}."""
    import duckdb
    con = duckdb.connect()
    for t in ("lineitem", "orders", "documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(lanes_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = {}
    for lane, sql in sorted(oracles.items()):
        try:
            s_cols, s_rows = sorted_rows(
                con, f"SELECT * FROM read_parquet('{lanes_dir}/{lane}/*.parquet')")
            o_cols, o_rows = sorted_rows(con, sql)
        except Exception as e:  # a failing oracle is a failed check
            problems[lane] = f"error: {e}"
            continue
        if s_cols != o_cols:
            problems[lane] = f"columns {s_cols} vs {o_cols}"
        elif digest(s_rows) != digest(o_rows):
            problems[lane] = f"digest {digest(s_rows)} vs oracle {digest(o_rows)}"
    return problems


# ---- result ----

def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result(jvm, trace, problems):
    attempted = jvm["attempted"]
    failed = jvm["failed"] + sum(jvm["op_runs"].get(l, 1) for l in problems)
    failed = min(failed, attempted)
    got = dict(jvm["metrics"])
    got["fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    wanted = spec()["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = got[m["name"]]
        elif trace:  # a layer this workload does not cross
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            raise SystemExit(f"perfbench: metric {m['name']} missing")
    return {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def run_one(classpath, workload, seed, seconds, trace):
    work = os.path.join(BUILD, f"run-{os.getpid()}-{workload}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(results, f"{workload}-seed{seed}-trace{int(trace)}.json")
    try:
        jvm = run_jvm(classpath, workload, seed, seconds, trace, work, out)
        problems = {}
        if jvm["lanes_dir"]:
            problems = check_lanes(jvm["fixture_dir"], jvm["lanes_dir"])
            for lane, p in problems.items():
                log(f"{lane}: result differs from its oracle: {p}")
            n = len(jvm["op_runs"])
            log(f"lane oracle check: {n - len(problems)}/{n} ok")
        res = result(jvm, trace, problems)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, m in res["metrics"].items():
        log(f"{workload:12s} {name:32s} {m['value']:14.6g} {m['unit']}")
    return res


def main(argv):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    classpath = build()
    if a.workload != "all":
        print(json.dumps(run_one(classpath, a.workload, a.seed, a.seconds, a.trace == 1)))
        return 0
    parts = {w: run_one(classpath, w, a.seed, a.seconds, a.trace == 1) for w in WORKLOADS}
    print(json.dumps({
        "correct": all(p["correct"] for p in parts.values()),
        "attempted": sum(p["attempted"] for p in parts.values()),
        "failed": sum(p["failed"] for p in parts.values()),
        "metrics": {f"{w}.{k}": v for w, p in parts.items() for k, v in p["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
