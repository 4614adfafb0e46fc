#!/usr/bin/env python3
"""geoqspark benchmark: one workload per run.

    python3 geobench/run.py --workload <tiling_spatial_join|geoq_stream_neardup>
        --seed <n> --seconds <s> --trace <0|1> [--size tiny] [--expect-wrong 1]

Run from the root of a checkout. Builds the engine sources next to it plus
the benchmark code (sbt, geobench/build.sbt) when they changed since the
last build, runs the workload in one JVM and prints a report followed by
one JSON result line. Everything it writes goes under .bench_build/ and
geobench/target/ in the checkout. See geobench/NOTES.md.
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
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("tiling_spatial_join", "geoq_stream_neardup")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"geobench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile with sbt unless the sources hash to the last build's stamp."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    print("geobench: building (sbt compile)", file=sys.stderr)
    # dependencies come from the local caches only; nothing is downloaded
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                            "compile"], cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--expect-wrong", type=int, choices=(0, 1), default=0,
                   help="perturb one expected answer (tests the output checks)")
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a geoqspark checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    build()

    out = os.path.join(WORK, f"result-{a.workload}-{a.seed}-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    # CompileThresholdScaling=0.2: the JIT compiles hot code after a fifth
    # of the usual invocations, so the passes reach steady state after the
    # warm-up instead of speeding up through the first five timed passes.
    # -Xmn512m: a fixed young generation, so the peak RSS follows the data
    # the run keeps, not the collector's adaptive sizing (which moved it by
    # up to 500 MB between runs of one workload)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-Xms1g", "-Xmx3g", "-Xmn512m", "-XX:CompileThresholdScaling=0.2", "-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "geobench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--size", a.size,
            "--expect-wrong", str(a.expect_wrong), "--work-dir", WORK, "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    t0 = time.time()
    try:
        stdout, stderr = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(stderr[-4000:])
        fail(f"{a.workload} exited with code {proc.returncode} after {time.time() - t0:.0f} s")
    with open(out) as fh:
        result = json.loads(fh.read())
    os.remove(out)
    sys.stdout.write(stdout)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
