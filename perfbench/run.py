#!/usr/bin/env python3
"""Build and run the timedbspark benchmark.

    python3 perfbench/run.py --workload <timedb|dedup> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first call compiles the repository's
main sources together with the benchmark driver (sbt, in this directory);
later calls reuse the build until a source changes. The driver runs in
one JVM with Spark in local mode; its last stdout line is the result
object. Everything the run writes stays under perfbench/ (build output
in perfbench/target, stores and traces in perfbench/work).
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
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench-sources.sha256")
WORK = os.path.join(HERE, "work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module opens.
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, cwd, env=None, stdout=None):
    """Run cmd in its own process group; kill the whole group on timeout
    or interruption, and always wait for it."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def build():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "TimeDb.scala")):
        fail("the repository's sources (src/main/scala) are not next to perfbench/; "
             "run from a full checkout")
    spark_home()
    files = sources()
    want = fingerprint(files)
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP) and open(STAMP).read().strip() == want:
        return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    opts = os.environ.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env = dict(os.environ, SBT_OPTS=opts.strip())
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        code = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "compile"], BUILD_TIMEOUT_S, HERE, env=env, stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if code != 0:
        fail(f"build failed (sbt exit {code})", 1)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def java_cmd(args, work):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME") and os.path.isfile(os.path.join(os.environ["JAVA_HOME"], "bin", "java")):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    if not java:
        fail("java is not on PATH")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=256m",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    return [java] + flags + ["-cp", cp, "perfbench.Main"] + args + ["--work", work]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["timedb", "dedup"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None or a.seconds <= 0):
        ap.error("--workload, --seed and a positive --seconds are required")
    build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    if a.self_test:
        args = ["--self-test", "1"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    sys.stdout.flush()
    try:
        code = run_child(java_cmd(args, work), RUN_TIMEOUT_S, ROOT)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
