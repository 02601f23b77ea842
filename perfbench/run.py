#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine (src/main/scala) and the harness (perfbench/src) with the
Scala compiler that ships in the Spark distribution, runs one workload in a
fresh JVM for a measuring window of --seconds, checks its outputs (for
report_mix against DuckDB running each query's oracle SQL over the same
input), prints every figure with its unit, and prints as the last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer
metrics. The exit status is non-zero when a check or an op failed.

Build output, run directories and span traces go under $CARGO_TARGET_DIR
(default .bench_build) in the repository root.
"""
import argparse
import datetime
import decimal
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

# workload -> the per-layer metric prefixes it must report itself; the
# other layers' per-layer metrics read 0 on a workload that does not run them
OWN_LAYERS = {"etl_incremental": ("etl.",), "report_mix": ("ops.", "llm.")}
COMMON_LAYERS = ("spark.", "jvm.", "layer.", "trace.")
# A run is meant to end within 180 s; the JVM gets all of that but the few
# seconds the DuckDB check needs. A traced report_mix run, the longest, took
# 93 s on a quiet 4-core machine and 150 s when other tenants loaded it.
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840
HERE = os.path.dirname(os.path.abspath(__file__))

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the distribution
    whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or ".", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    if not harness:
        fail("no harness sources under perfbench/src")
    return engine + harness


def build(root, build_dir, jars):
    """Compile engine + harness once per source digest; returns the class dir."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = ":".join(jars)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp] + srcs
        t0 = time.time()
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        r = run_group(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr)
        if r != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"compile failed (exit {r})")
        os.rename(tmp, out)
        print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
        for old in glob.glob(os.path.join(build_dir, "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return out


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    interrupt, and always wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def java_cmd(classes, jars, work, extra):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData"] + opens + [
        "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", ":".join([classes] + jars), "graft.perfbench.Main"] + extra)


# ——— DuckDB oracle check ———

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return ("Decimal", str(v))
    if hasattr(v, "tolist"):
        return norm(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def result_digest(con, sql):
    """Order-insensitive digest of a query result: columns sorted by name,
    rows rendered and sorted."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    return (sorted(cols), len(rows),
            hashlib.sha256("\n".join(canon).encode()).hexdigest())


def oracle_check(tables_dir, entries):
    """[(query, ok, detail)] for each Spark result vs DuckDB over the same tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    out = []
    for e in entries:
        try:
            got = result_digest(con, f"SELECT * FROM read_parquet('{e['result']}/*.parquet')")
            want = result_digest(con, e["sql"])
            ok = got == want
            detail = "" if ok else f"spark {got} vs duckdb {want}"
        except Exception as ex:  # a failing oracle query is a failed check
            ok, detail = False, f"{type(ex).__name__}: {ex}"
        out.append((e["query"], ok, detail))
    return out


# ——— entry points ———

def self_test(root):
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    jars = spark_jars()
    classes = build(root, build_dir, jars)
    work = os.path.join(build_dir, "runs", f"self-test-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        r = run_group(java_cmd(classes, jars, work, ["--self-test"]), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r != 0:
        fail("harness self-test failed", 1)
    import duckdb
    con = duckdb.connect()
    a = result_digest(con, "SELECT * FROM (VALUES (1, 'x', 2.5), (2, 'y', -0.0)) t(a, b, c)")
    b = result_digest(con, "SELECT c, b, a FROM (VALUES (2, 'y', 0.0), (1, 'x', 2.5)) t(a, b, c)")
    c = result_digest(con, "SELECT * FROM (VALUES (1, 'x', 2.5), (2, 'y', 1.0)) t(a, b, c)")
    if not (a == b and a != c):
        fail("oracle digest self-test failed", 1)
    print("ok   oracle digest: insensitive to row and column order, sensitive to values")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(OWN_LAYERS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if args.self_test:
        return self_test(root)
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    jars = spark_jars()
    classes = build(root, build_dir, jars)
    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        r = run_group(java_cmd(classes, jars, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", trace_out if args.trace else ""]),
            RUN_TIMEOUT_S, stdout=sys.stderr)
        if r != 0:
            fail(f"benchmark JVM exited with {r}", 1)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        lines = list(res["lines"])
        if res["oracle"]:
            import duckdb
            for q, ok, detail in oracle_check(res["tables_dir"], res["oracle"]):
                attempted += 1
                if not ok:
                    failed += 1
                    lines.append(f"error: check {q}.oracle failed: {detail}")
            lines.append(f"oracle: {len(res['oracle'])} results compared with DuckDB "
                         f"{duckdb.__version__}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines.append(f"total: attempted {attempted}, failed {failed}, "
                 f"fail_ratio {failed / max(1, attempted)}")
    for line in lines:
        print(line)
    key, got = ("per_layer", res["per_layer"]) if args.trace else ("end_to_end", res["end_to_end"])
    names = [m["name"] for m in spec[key]]
    extra = sorted(set(got) - set(names))
    own = COMMON_LAYERS + OWN_LAYERS[args.workload] if args.trace else ("",)
    missing = sorted(n for n in names if n not in got and n.startswith(own))
    if extra or missing:
        fail(f"{key} metrics do not match BENCHMARK.json: extra {extra}, missing {missing}")
    metrics = {}
    for m in spec[key]:
        v = got.get(m["name"], {"value": 0.0})["value"]
        if v is None:
            fail(f"metric {m['name']} has no value")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
