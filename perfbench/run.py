#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler shipped in the
Spark jars, into $CARGO_TARGET_DIR or .bench_build, reusing the classes
while the sources are unchanged. Then starts one JVM per run, so
`setup_s` never includes compilation, and prints the JVM's result JSON
as the last stdout line, with each metric's unit from BENCHMARK.json.
For `neardup` it also checks the q28 rows the JVM recorded against the
DuckDB oracle SQL from `SparkEntry.oracleSql`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the sbt
    build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


HEAP = "3g"
# a fixed young generation makes every warm iteration run collections,
# which the peak-live-heap metric reads
YOUNG = "256m"
RUN_TIMEOUT_S = 170
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


def build(build_dir):
    """Compiled classes for the current sources (compiled when missing)."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala; run from the repository root")
    srcs += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    if not os.path.isdir(spark_jars()):
        fail("Spark jars not found: set SPARK_HOME")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed", 1)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def threads():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(4, n or 1))


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def q28_check(work):
    """Checks the recorded q28 rows against the DuckDB q28 oracle. Returns
    the number of rows that differ from the oracle's row, and whether the
    last recorded row with one count changed is rejected (the check's
    self-test)."""
    path = os.path.join(work, "q28_check.json")
    with open(path) as f:
        rec = json.load(f)
    try:
        import duckdb
    except ImportError:
        print("perfbench: duckdb is not importable; q28 rows count as failed", file=sys.stderr)
        return len(rec["rows"]), False
    con = duckdb.connect()
    glob_path = os.path.join(rec["documents"], "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob_path}')")
    oracle = [int(v) for v in con.execute(rec["sql"]).fetchone()]
    con.close()
    def differing(rows):
        return [r for r in rows if r != oracle]
    bad = differing(rec["rows"])
    if bad:
        print(f"perfbench: q28 rows differ from the DuckDB oracle {oracle}: {bad[:2]}", file=sys.stderr)
    last = rec["rows"][-1]
    return len(bad), len(differing([[last[0] + 1] + last[1:]])) == 1


def main():
    try:
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json ({e}); run from the repository root")
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    classes = build(build_dir)
    work = os.path.abspath(os.path.join(build_dir, "run", a.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--threads", str(threads()), "--spans",
            os.path.abspath(os.path.join(build_dir, "trace", f"{a.workload}-seed{a.seed}.spans.jsonl"))]
    log_path = os.path.join(build_dir, f"{a.workload}.stderr.log")
    with open(log_path, "w") as log:
        ticks0 = cpu_ticks()
        launch = time.time_ns()
        proc = subprocess.Popen(cmd + ["--launch-ns", str(launch)],
                                stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}", 1)
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # time the hypervisor gave the host's CPUs to other guests: the
        # main source of run-to-run spread on a shared host
        steal = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        print(f"perfbench: host steal {100 * steal:.1f}% of CPU time during the run", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with code {proc.returncode}", 1)
    res = json.loads(lines[-1])
    # the JVM prints values by name; units and the metric list are
    # BENCHMARK.json's. A layer the workload does not run reads 0.
    values = res.pop("values")
    units = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    unknown = sorted(set(values) - set(units))
    missing = [] if a.trace else sorted(set(units) - set(values))
    if unknown or missing:
        fail(f"metrics not in BENCHMARK.json: {unknown}; metrics not measured: {missing}", 1)
    res["metrics"] = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}
    if a.workload == "neardup":
        t0 = time.time()
        bad, selftest_ok = q28_check(work)
        print(f"perfbench: DuckDB q28 oracle check took {time.time() - t0:.1f} s", file=sys.stderr)
        res["failed"] += bad
        res["correct"] = res["correct"] and bad == 0 and selftest_ok
    # the JVM's timeline and any check failures
    with open(log_path) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[")))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
