#!/usr/bin/env python3
"""graft-bench runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first call builds the library and
the benchmark from source with sbt (perfbench/build.sbt); later calls reuse
the build while no source file changed. The benchmark itself runs in a fresh
JVM on local[4]. Its last stdout line is the result object.

Work files live under perfbench/work/ and are deleted when the run ends;
result and trace files are kept under perfbench/out/.
"""

import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graft-bench.stamp")
# BENCHMARK.json lists ingest_commit and dedup_integrity. validate_scan (the
# cheap gate alone, plus its local[1] scaling phase) runs only when asked for:
# each run pays a warm-up of 25-30 s, and a third workload does not fit the
# time the full set of benchmark runs is allowed.
WORKLOADS = ["validate_scan", "ingest_commit", "dedup_integrity"]
DRIVER_HEAP = "4g"

# Spark 4 on JDK 17 needs these when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graft-bench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                          stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    if not os.path.isdir(LIB_SRC):
        fail(f"no library sources at {os.path.relpath(LIB_SRC)}; run from the root of a graft checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4 distribution")
    build()

    work = os.path.join(BENCH, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # No hsperfdata file, and JVM temp files under the work dir.
    cmd = [java, f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    try:
        proc = subprocess.run(cmd, cwd=BENCH, stdin=subprocess.DEVNULL, timeout=170)
    except subprocess.TimeoutExpired:
        fail("run exceeded 170 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark exited with {proc.returncode}")


if __name__ == "__main__":
    main()
