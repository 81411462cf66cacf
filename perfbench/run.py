#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from the checkout's sources on first
use (sbt, into target/ directories the .gitignore names), then runs one
workload in a fresh JVM: seeded input generation, staging and warm-up
(set-up, timed from JVM start), one timed pass, and the correctness checks,
which run outside the timed window. `--trace 1` records spans around the
calls into each layer and prints the per-layer metrics instead of the
end-to-end ones; the spans are written to .perfbench_traces/. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics.

Workload parameters live in perfbench/workloads.json; metric names and
units in BENCHMARK.json. `--smoke` swaps in the tiny sizes the smoke test
uses. Scratch data lives under .perfbench_work/ and is deleted when the
run ends.
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
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 700        # build + first run must end within 900 s
JVM_OPTS = [
    # fixed heap size (as the engine's own build runs it)
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_mtime():
    """Newest mtime over every file the build reads."""
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """Build if the classpath stamp is missing or older than a source."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=BUILD_LIMIT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.stderr.write(stderr[-4000:])
    lines = [x for x in stdout.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines or "graft-perfbench" in lines[-1]:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, params, deadline):
    cmd = ["java"] + JVM_OPTS + ["-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--traces", os.path.join(ROOT, ".perfbench_traces"),
        "--cpus", str(cpus())]
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("workload timed out; killing it")
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def oracle_checks(tables_dir, tables, oracle):
    """Compare each op's output with its DuckDB oracle over the same
    tables: column names, row count and every value, exactly."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t + '.parquet')}'")
    checks = []
    for o in oracle:
        got = con.sql(f"SELECT * FROM '{o['out']}/*.parquet'")
        want = con.sql(o["sql"])
        gcols = [c.lower() for c in got.columns]
        wcols = [c.lower() for c in want.columns]
        cols = sorted(wcols)
        detail, bad = "", 0
        if sorted(gcols) != cols:
            detail, bad = f"columns {gcols} != {wcols}", 1
        else:
            key = lambda r: tuple((x is None, str(x)) for x in r)
            g = sorted((tuple(norm(r[gcols.index(c)]) for c in cols)
                        for r in got.fetchall()), key=key)
            w = sorted((tuple(norm(r[wcols.index(c)]) for c in cols)
                        for r in want.fetchall()), key=key)
            bad = sum(1 for a, b in zip(g, w) if a != b) + abs(len(g) - len(w))
            detail = f"rows {len(g)} vs oracle {len(w)}, {bad} differ"
        checks.append({"name": f"oracle.{o['op']}", "attempted": 1,
                       "failed": 1 if bad else 0, "detail": detail})
    return checks


def stop(signum, frame):
    # unwinds through the finally blocks: the JVM's process group is
    # killed and the scratch directory removed
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for the smoke test")
    args = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: no engine sources next to the benchmark")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    params = dict(spec["workloads"][args.workload]["params"])
    if args.smoke:
        params.update(spec["workloads"][args.workload].get("smoke", {}))

    cp = classpath()
    deadline = time.time() + RUN_LIMIT_S - 5 if time.time() - start > 60 \
        else start + RUN_LIMIT_S
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(cp, args, work, params, deadline - 15)
        result_file = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            log(f"workload failed (exit {rc}); no sample")
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                              "metrics": {}}))
            sys.exit(1)
        with open(result_file) as f:
            res = json.load(f)
        p = res["pass"]
        checks = p["checks"]
        if p["oracle"]:
            checks += oracle_checks(p["tables"], ["documents", "embeddings"], p["oracle"])
        for c in checks:
            log(f"{'CHECK FAILED' if c['failed'] else 'check'} {c['name']}: "
                f"{c['failed']}/{c['attempted']} failed; {c['detail']}")
        attempted = sum(c["attempted"] for c in checks)
        failed = sum(c["failed"] for c in checks)

        if args.trace:
            metrics, wanted = p["layers"], bench["per_layer"]
        else:
            metrics, wanted = dict(p["e2e"]), bench["end_to_end"]
            metrics["setup_s"] = {"value": res["setup_s"], "unit": "s"}
        # metrics of layers this workload never calls into report zero work
        idle = spec["workloads"][args.workload]["idle"]
        out = {}
        for m in wanted:
            got = metrics.get(m["name"])
            if got is None and any(m["name"] == p or m["name"].startswith(p + ".")
                                   for p in idle):
                got = {"value": 0, "unit": m["unit"]}
            if got is None or got["unit"] != m["unit"]:
                log(f"metric {m['name']} missing or in the wrong unit: {got}")
                failed += 1
                continue
            out[m["name"]] = got
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
