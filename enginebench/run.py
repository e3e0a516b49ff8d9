#!/usr/bin/env python3
"""Engine benchmark: build the engine and the benchmark from source, run one
seeded workload in one JVM, and print its result as the last stdout line.

    python3 enginebench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0
    python3 enginebench/run.py --selftest

Run it from the repository root. Builds go to $CARGO_TARGET_DIR (default
.bench_build), keyed by a hash of the sources; scratch tables to .bench_work
(deleted after each run); per-run reports and traces to .bench_out.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["search_serve", "crawl_cycle", "graph_loops", "stream_ticks"]
RUN_TIMEOUT_S = 170
HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[bench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME's, else those of the first
    spark-submit on PATH that sits in a distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    fail("no Spark distribution found: set SPARK_HOME")


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_scala(srcs, classpath, out, label):
    """scalac from the Spark distribution's own compiler jar; the output
    directory appears only once compilation succeeded."""
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compiling {label} failed")
    os.rename(tmp, out)
    print(f"[bench] built {label} in {time.time() - t0:.1f}s", file=sys.stderr)


def build(root):
    engine_src = os.path.join(root, "src", "main", "scala")
    srcs = sorted(glob.glob(os.path.join(engine_src, "**", "*.scala"), recursive=True))
    if not srcs or not os.path.isfile(os.path.join(engine_src, "graft", "Bench.scala")):
        fail("no engine sources under src/main/scala: run from the repository root")
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    eh = digest(srcs)
    engine = os.path.join(out, "engine-" + eh)
    compile_scala(srcs, jars, engine, "engine")
    bench = os.path.join(out, "bench-" + digest(bench_srcs, eh))
    compile_scala(bench_srcs, engine + os.pathsep + jars, bench, "benchmark")
    return os.pathsep.join([bench, engine, jars])


def java_cmd(root, classpath, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + tmp,
            # a fixed-size heap: peak RSS then tracks what the run touches,
            # not when the collector chose to grow the heap
            "-Xms" + HEAP, "-Xmx" + HEAP,
            "-cp", classpath, "graftbench.Main"]


def run_jvm(cmd, log_path):
    """Run the benchmark JVM; relay its [bench] lines, return (rc, result).
    A JVM still running after RUN_TIMEOUT_S is killed and waited for."""
    result = None
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        timer = threading.Timer(RUN_TIMEOUT_S, p.kill)
        timer.start()
        try:
            for line in p.stdout:
                if line.startswith("BENCH_RESULT "):
                    result = line[len("BENCH_RESULT "):].strip()
                elif line.startswith("[bench]") or line.startswith("[selftest]"):
                    sys.stdout.write(line)
                    sys.stdout.flush()
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
            timed_out = not timer.is_alive()
            timer.cancel()
    if timed_out:
        print(f"[bench] run exceeded {RUN_TIMEOUT_S}s; killed", file=sys.stderr)
        return 124, None
    return p.returncode, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    root = os.getcwd()
    classpath = build(root)
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")
    out = os.path.join(root, ".bench_out")
    os.makedirs(out, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(root, classpath, work)
    if a.selftest:
        cmd += ["--selftest", "1", "--work", work]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--out", out, "--work", work]
    log = os.path.join(out, tag + ".log")
    try:
        rc, result = run_jvm(cmd, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or (result is None and not a.selftest):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}; log in {log}", rc or 1)
    if a.selftest:
        return
    res = json.loads(result)
    print(json.dumps(res))
    if not res["correct"] or res["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
