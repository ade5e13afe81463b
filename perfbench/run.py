#!/usr/bin/env python3
"""Benchmark runner: builds the program with the harness, runs one workload
in its own JVM, checks the outputs, and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run in a checkout compiles the
program's sources together with the harness (`perfbench/build.sbt`, output
under `.bench_build/`); later runs reuse the build while the sources hash the
same. Workloads, metrics and their meaning are described in
`perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
# Spark on JDK 17 outside spark-submit needs these (as in the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src/main", "perfbench/build.sbt", "perfbench/project/build.properties"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def build(env):
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and \
            os.path.exists(os.path.join(CLASSES, "perfbench", "Main.class")):
        return
    if not shutil.which("sbt"):
        fail("sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd="perfbench", env=env, stdout=out, stderr=subprocess.STDOUT, timeout=880)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)


def suite_check(res):
    """Row count of every query the run executed against DuckDB running the
    query's oracle SQL on the same parquet files. Returns mismatch messages."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.abspath(os.path.join(BUILD, 'tmp', 'duckdb'))}'")
    d = res["suite_dir"]
    for t in res["suite_tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    oracle = res["suite_oracle"]
    bad = []
    for q, got in res["suite_counts"].items():
        sql = oracle.get(q, "").strip().rstrip(";")
        if not sql:
            bad.append(f"{q}: no oracle SQL")
            continue
        want = con.execute(f"SELECT count(*) FROM ({sql}) AS oracle_q").fetchone()[0]
        if want != got:
            bad.append(f"{q}: {got} rows, DuckDB oracle {want}")
    missing = [q for q in oracle if q not in res["suite_counts"]]
    bad += [f"{q}: no count recorded" for q in missing]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("perfbench/build.sbt"):
        fail("run from the repository root: program sources (src/main/scala/graft) not found")
    try:
        spec = json.load(open("BENCHMARK.json"))
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    declared = spec["per_layer" if a.trace else "end_to_end"]

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    build(env)

    work = os.path.abspath(os.path.join(BUILD, "work", a.workload))
    out = os.path.abspath(os.path.join(BUILD, f"result-{a.workload}.json"))
    if os.path.exists(out):
        os.remove(out)
    cp = os.pathsep.join([os.path.abspath(CLASSES), os.path.join(env["SPARK_HOME"], "jars", "*")])
    # temporary files, shuffle files and the warehouse stay inside the checkout
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java"] + HEAP + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--work", work]
    log = os.path.join(BUILD, f"jvm-{a.workload}.log")
    t0 = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload did not finish within 170 s", 3)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"workload JVM exited with {rc}", 3)
    res = json.load(open(out))

    errors = list(res["errors"])
    failed = res["failed"]
    attempted = res["attempted"]
    if "suite_counts" in res:
        bad = suite_check(res)
        errors += bad
        # every pass runs every sampled query once
        failed += len(bad) * attempted // max(1, len(res["suite_oracle"]))
    failed = min(failed, attempted)

    metrics = {}
    for m in declared:
        if m["name"] not in res["metrics"]:
            fail(f"harness did not report {m['name']}", 3)
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}

    info = dict(res["info"])
    info["failed_ops_frac"] = failed / attempted
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {attempted} ops, {failed} failed, "
          f"{time.time() - t0:.1f} s wall")
    for k, v in info.items():
        print(f"  {k} = {v}")
    for e in errors:
        print(f"  error: {e}")
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
