#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 lifecyclebench/run.py --workload import_snapshot --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine (src/main/scala) and the
benchmark (lifecyclebench/src) are compiled together with the Scala
compiler that ships in $SPARK_HOME/jars; classes go to .bench_build/ and
are rebuilt only when a source file changes. The last line of standard
output is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("import_snapshot", "live_ingest", "dedup_graph")
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lifecyclebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for d in (os.path.join("src", "main", "scala"), os.path.join("lifecyclebench", "src")):
        for base, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + sorted(os.listdir(jars)):
        h.update(f.encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, jars):
    files = sources(root)
    if not any("/src/main/scala/" in f for f in files):
        fail("no engine sources under src/main/scala; run from the repository root")
    classes = os.path.join(root, BUILD, "classes")
    want = stamp(files, jars)
    stamp_file = os.path.join(root, BUILD, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t = time.time()
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    print(f"lifecyclebench: compiled {len(files)} files in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def heap():
    """Half the machine's memory, 2..8 GiB: the tier-1 test sizing."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution")
    jars = os.path.join(spark_home, "jars")
    classes = build(root, jars)
    t0_ms = int(time.time() * 1000)

    work = os.path.join(root, BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    # A fixed heap and the parallel collector: with G1 and a growing heap,
    # round times kept falling for several rounds after the warm-up.
    cmd = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", f"-Xms{heap()}", f"-Xmx{heap()}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                                    os.path.join(jars, "*")]),
            "lifecyclebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--t0-ms", str(t0_ms)]
    # a SIGTERM raises SystemExit here, so the child is stopped below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, stdout=sys.stdout, stderr=sys.stderr)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except BaseException:
        child.kill()
        child.wait()
        print("lifecyclebench: run killed", file=sys.stderr)
        code = 1
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
