#!/usr/bin/env python3
"""Build and run the wirespark end-to-end benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

The program (src/main/scala) and the benchmark (perfbench/src) are
compiled together with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars, else the one beside spark-submit on PATH) into the build
directory ($CARGO_TARGET_DIR, default .bench_build). A build is reused
while the sources hash the same. The measuring JVM writes its report to
the run's scratch directory; this script relays it, keeps the report
(and, in traced runs, spans.jsonl) in <build dir>/last/<workload>/,
deletes the run's scratch data and prints the one-line JSON result last.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_stream", "kv_http", "corpus_dedup")
JVM_TIMEOUT_S = 170
SCALA = "2.13.17"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(with_tests):
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if with_tests:
        dirs.append(os.path.join(HERE, "test"))
    files = []
    for d in dirs:
        found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
        if not found:
            fail(f"no Scala sources under {os.path.relpath(d, ROOT)}; "
                 "run from the root of a wirespark checkout")
        files += found
    return files


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    fail("no Spark jars found: set SPARK_HOME or put Spark's bin directory on PATH")


def build(with_tests=False):
    """Compile once per distinct source set; returns the classes dir."""
    files = sources(with_tests)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, base
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
        f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        fail(f"Scala {SCALA} compiler jars not found beside Spark")
    argfile = os.path.join(base, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-cp", os.pathsep.join(jars), "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(out, ".done"), "w").close()
    print(f"perfbench: built in {time.time() - t0:.1f}s -> {out}", file=sys.stderr)
    return out, base


def run_jvm(classes, base, main, args, cpus):
    run_dir = os.path.join(base, "runs", f"{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([classes] + spark_jars())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", "-Dderby.system.home=" + tmp]
           + opens + ["-cp", cp, main, "--cpus", str(cpus), "--out", run_dir] + args)
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    return code, run_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    cpus = os.cpu_count() or 1
    classes, base = build(with_tests=a.self_test)
    if a.self_test:
        code, run_dir = run_jvm(classes, base, "perfbench.SelfTest",
                                ["--benchmark", os.path.join(ROOT, "BENCHMARK.json")], cpus)
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(0 if code == 0 else 1)
    code, run_dir = run_jvm(classes, base, "perfbench.Main",
                            ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace)], cpus)
    result_path = os.path.join(run_dir, "result.json")
    report_path = os.path.join(run_dir, "report.txt")
    result = None
    if code is not None and os.path.exists(result_path):
        with open(result_path) as fh:
            result = json.load(fh)
    if os.path.exists(report_path):
        with open(report_path) as fh:
            sys.stdout.write(fh.read())
    last = os.path.join(base, "last", a.workload)
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for name in ("report.txt", "spans.jsonl"):
        if os.path.exists(os.path.join(run_dir, name)):
            shutil.copy(os.path.join(run_dir, name), last)
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        fail(f"measuring JVM {'timed out' if code is None else f'exited with {code}'}"
             " without a result")
    print(json.dumps(result, separators=(", ", ": ")))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
