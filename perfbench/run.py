#!/usr/bin/env python3
"""Product-path benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload copy_sync --seed 1 --seconds 20 --trace 0

It compiles graft (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler shipped in the Spark jar directory the sbt build names,
caches the classes under .bench_build/ keyed by a hash of the sources, runs
one workload in one JVM and prints its result object as the last line of
standard output. Everything it writes stays under .bench_build/.

The inputs come from the sf0.1 fixture: $SPARK_GRAFT_SF_DIR if set, else
the directory graft.Bench reads by default.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("copy_sync", "pipeline_ingest")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# What spark-submit would add on JDK 17 (the list build.sbt passes too).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def spark_jars():
    """The jar directory build.sbt names as unmanagedBase."""
    if not os.path.isfile("build.sbt"):
        fail("no build.sbt here; run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read("build.sbt"))
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase jar directory")
    d = m.group(1)
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sf_dir():
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    bench = os.path.join("src", "main", "scala", "graft", "Bench.scala")
    if not os.path.isfile(bench):
        fail("no graft sources here (src/main/scala/graft/Bench.scala)")
    m = re.search(r'"SPARK_GRAFT_SF_DIR"\s*,\s*"([^"]+)"', read(bench))
    if not m:
        fail("graft.Bench names no default fixture directory")
    return m.group(1)


def sources():
    out = []
    for root in (os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")):
        if not os.path.isdir(root):
            fail(f"missing source directory {root}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile graft and the benchmark once per source hash."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    key = h.hexdigest()[:16]
    classes = os.path.join(BUILD_DIR, f"classes-{key}")
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser(description="graft product-path benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    jars = spark_jars()
    data = sf_dir()
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"no sf0.1 fixture at {data}")
    classes = build(jars)

    # Half the cores, at most two: the driver thread, the JIT compilers and
    # the GC get the rest, so a run times graft rather than the scheduler.
    cores = max(1, min(2, len(os.sched_getaffinity(0)) // 2))
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", f"{a.workload}-{os.getpid()}"))
    traces = os.path.abspath(os.path.join(BUILD_DIR, "traces"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(traces, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.callstack.depth=400",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
        "-cp", os.pathsep.join([classes] + jars),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--sf", data, "--work", work, "--cores", str(cores),
        "--spans", os.path.join(traces, f"spans-{a.workload}-{a.seed}.jsonl"),
    ])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.decode(errors="replace").splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not a result object: {lines[-1][:200]}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result object has the wrong keys")
    for ln in lines:
        print(ln)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
