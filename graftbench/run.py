#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the repository root):
    python3 graftbench/run.py --workload lake_queries --seed 1 --seconds 10 --trace 0

Builds the benchmark package (graftbench/build.sbt, which compiles the
program's sources with the harness) when its sources changed, generates the
seeded inputs under graftbench/work/, runs the workload in one fresh JVM,
checks query results against the DuckDB oracle with the comparison
tools/parity.py uses, and prints every metric as `metric ...` lines. The
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: with --trace 0 the end-to-end metrics
of BENCHMARK.json, with --trace 1 its per-layer metrics. The exit code is
non-zero when any output check failed or the run could not complete.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
WORKLOADS = ["bag_ingest", "lake_queries"]
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 850
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, budget, **kw):
    """Run cmd in its own process group; kill the group past the budget."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {budget:.0f} s")
    return p.returncode, out


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness and the program unless the sources are unchanged."""
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile"], BUILD_BUDGET_S, cwd=HERE, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def oracle_check(spec):
    """Compare each query's first-pass result with DuckDB on the same lake.
    Returns the number of operations whose query did not match."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import parity
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in parity.TABLES:
        p = os.path.join(spec["lake"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(spec["results"], "oracle_sql.json")) as f:
        sql = json.load(f)
    bad = 0
    for q, n in sorted(spec["ops_per_query"].items()):
        try:
            err = parity.compare(q, parity.load_spark(spec["results"], q),
                                 parity.from_arrow(con.sql(sql[q]).arrow(), origin=q))
        except Exception as e:  # a broken oracle or result is a mismatch
            err = f"{type(e).__name__}: {e}"
        if err:
            print(f"check {q} MISMATCH {err}")
            bad += n - spec["failed_per_query"].get(q, 0)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources at src/main/scala/graft: run from a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload} (known: {', '.join(WORKLOADS)})")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4 install")

    build()
    # the run budget starts after the build: only a checkout's first run builds
    t_start = time.monotonic()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    if a.workload == "lake_queries":
        sys.path.insert(0, HERE)
        import lakegen
        lakegen.write(os.path.join(WORK, f"lake-{a.seed}"), a.seed)

    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK])
    log_path = os.path.join(WORK, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    with open(log_path, "w") as log:
        code, out = run_bounded(cmd, RUN_BUDGET_S - (time.monotonic() - t_start),
                                stdout=subprocess.PIPE, stderr=log, text=True)
    print(f"graftbench: workload JVM done at {time.monotonic() - t_start:.1f} s", file=sys.stderr)
    lines = out.splitlines()
    result = next((json.loads(l[len("RESULT "):]) for l in reversed(lines)
                   if l.startswith("RESULT ")), None)
    if code != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload run failed (exit {code}); log at {log_path}")
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)

    failed = result["failed"]
    if "oracle" in result["deferred"]:
        failed += oracle_check(result["deferred"]["oracle"])
    ctx = result["context"]
    print("context " + " ".join(f"{k}={v}" for k, v in ctx.items()))
    with open(os.path.join(WORK, f"result-{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(dict(result, failed=failed), f, indent=1)

    source = result["metrics"] if a.trace == "0" else result["per_layer"]
    wanted = bench["end_to_end"] if a.trace == "0" else bench["per_layer"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"run did not produce metrics {missing} (too few samples?)")
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
