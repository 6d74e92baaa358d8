#!/usr/bin/env python3
"""Run one workload of the store benchmark.

    python3 storebench/run.py --workload paper_parquet --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the benchmark together
with the program's sources (sbt, in storebench/); later runs reuse the build
while no source has changed. The last line of standard output is the run's
JSON result. Build output and run scratch space go to .bench_build/; a traced
run (--trace 1) also writes its spans to .bench_build/trace/.

--corrupt-expected 1 alters one expected document, to show that the output
check catches a wrong answer: the run then reports a failure and exits 1.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these (as in the program's build).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"storebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
              os.path.join(HERE, "src"), PROGRAM_SRC]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def classpath():
    """Build if any source changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala")):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}/scala")
    stamp = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                             timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {out.returncode})")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--corrupt-expected", choices=["0", "1"], default="0")
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file in the system temp directory: the run writes only in the checkout
    cmd = [java, "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-cp", cp, "storebench.Main", "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", a.trace,
         "--corrupt-expected", a.corrupt_expected, "--work", work,
         "--trace-out", os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.jsonl")]
    # a terminated launcher still stops and waits for the JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 3
        print("storebench: run timed out", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
