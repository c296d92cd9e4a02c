#!/usr/bin/env python3
"""Build and run the graft benchmark (see README.md in this directory).

    python3 perfbench/run.py --workload suite|pipeline --seed N \
        --seconds S --trace 0|1

Compiles the engine's sources with the benchmark's own sbt build when they
changed since the last build, then runs the benchmark main in a fresh
working directory inside the checkout and removes it afterwards. The last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; `metrics` holds the metrics that
BENCHMARK.json lists (end-to-end ones for --trace 0, per-layer ones for
--trace 1). Every metric the run measured, the input shape and the trace
are written to perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench-sources.sha256")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
KNOB_VARS = ("GRAFT_SALT_THRESHOLD", "GRAFT_ITER_VERBOSE")

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    # Resolve the compiler from the local caches only.
    env["COURSIER_MODE"] = "offline"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "clean", "compile"]
    print("perfbench: building (" + " ".join(cmd) + ")", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, stdin=subprocess.DEVNULL,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(3, "build failed: %s" % e)
    if r.returncode != 0:
        fail(3, "build failed with exit code %d" % r.returncode)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def listed_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(2, "cannot read %s: %s" % (path, e))
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_main(args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail(2, "SPARK_HOME must point at a Spark distribution")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A run lives about a minute on a shared host. With C2, the JIT keeps
    # recompiling Spark's planner through the whole run, so op times drift
    # with the CPU its threads get; C1 alone settles within the warm-up.
    # C1's default code cache (48 MB) fills up with Spark and the code each
    # op generates, after which ops slow down unevenly, hence 256 MB. The
    # serial collector on a fixed heap runs no concurrent GC threads.
    cmd = [java, "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           "-XX:+UseSerialGC", "-Xms2g", "-Xmx2g",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--workdir", work, "--results", os.path.join(HERE, "results")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(5, "run exceeded %d s" % RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["suite", "pipeline"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    knobs = sorted(k for k in os.environ
                   if k.startswith("GRAFT_FORCE_") or k in KNOB_VARS)
    if knobs:
        fail(2, "refusing to run with program knobs set: " + ", ".join(knobs))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(2, "engine sources not found under " + ENGINE_SRC)
    names = listed_metrics(args.trace)
    build()

    work = os.path.join(ROOT, ".bench_build", "run-" + uuid.uuid4().hex)
    os.makedirs(work)
    try:
        code, lines = run_main(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print("\n".join(lines))
        fail(code or 4, "the run printed no result (exit code %d)" % code)
    for line in lines[:-1]:
        print(line)
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail(4, "the run did not measure: " + ", ".join(missing))
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
