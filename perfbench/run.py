#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload browse --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The engine's sources (src/main/scala) and the benchmark's (perfbench/src)
compile together with the Scala compiler that ships among the Spark jars,
into .bench_build/classes; a stamp of the sources skips the build when
nothing changed. The workload runs in one JVM with its scratch data under
.bench_build/work, which is wiped before and after. The last line of
standard output is the result JSON; the exit code is non-zero when a check
failed or the run could not complete.
"""

import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(REPO, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORK = os.path.join(BUILD, "work")
TRACES = os.path.join(BUILD, "traces")

# a run must end well inside the 180 s a caller allows it
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these opened (as build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """SPARK_HOME, or the first Spark installation (bin/spark-submit beside
    a jars directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    fail("set SPARK_HOME or put Spark's bin directory on PATH")


def sources():
    engine = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from a full checkout")
    return engine + sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))


def spark_classpath():
    jars_dir = os.path.join(spark_home(), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {jars_dir}")
    return os.pathsep.join(jars)


def build(srcs, cp):
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, REPO).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update(cp.encode())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + args_file]
    try:
        done = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compilation timed out")
    if done.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")


def java_cmd(cp, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", "-Xmx2g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"]
            + opens + ["-cp", CLASSES + os.pathsep + cp, main] + args)


def run_jvm(cmd):
    """Run the JVM, relay its stdout, and return its exit code; the whole
    process group is killed if it overruns."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # scratch inside the work directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    cp = spark_classpath()
    srcs = sources()
    os.makedirs(BUILD, exist_ok=True)
    build(srcs, cp)
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        if a.selftest:
            code = run_jvm(java_cmd(cp, "perfbench.SelfTest",
                                    [os.path.join(REPO, "BENCHMARK.json")]))
        else:
            os.makedirs(TRACES, exist_ok=True)
            code = run_jvm(java_cmd(cp, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--work", os.path.join(WORK, "run"),
                "--trace-out", os.path.join(TRACES, f"trace-{a.workload}-{a.seed}.json")]))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
