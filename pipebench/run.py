#!/usr/bin/env python3
"""Build and run one pipeline benchmark run.

    python3 pipebench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 pipebench/run.py --self-test

Run from the repository root. The first run compiles the program
(src/main/scala) together with the benchmark (pipebench/src) with the
Scala compiler that ships in the Spark jars; later runs reuse the
classes while the sources are unchanged. Build output, per-run scratch
directories and trace side files go under .bench_build/ in the
repository root. The last line on stdout is the run's JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "pipebench")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# What spark-submit adds for JDK 17 (the repository's build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WORKLOADS = ("newsletter-backlog", "slack-threads", "index-churn")


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not program:
        fail("no program sources under src/main/scala; run from the repository root")
    if not bench:
        fail("no benchmark sources under pipebench/src")
    return program + bench


def spark_jars():
    """$SPARK_HOME/jars, else the directory the repository's build.sbt
    takes its Spark jars from (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jars directory found")
    return m.group(1)


def compiler_cp(spark):
    jars = [os.path.join(spark, f"scala-{p}-2.13.17.jar")
            for p in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        fail(f"Scala compiler jars not found: {missing}")
    return ":".join(jars)


def build(spark):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp(spark),
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(spark, "*")] + srcs
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build timed out")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        fail("build failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_cmd(classes, spark, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata files outside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:ParallelGCThreads=2"]
             + opens +
            ["-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-cp", classes + ":" + os.path.join(spark, "*"), main] + args)


def run_jvm(cmd, env):
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def parse_result(out):
    for line in reversed(out.strip().splitlines()):
        try:
            r = json.loads(line)
        except ValueError:
            continue
        if isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}:
            return r
    return None


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

    sources()
    spark = spark_jars()
    classes = build(spark)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    tag = "self-test" if a.self_test else f"{a.workload}-seed{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.self_test:
            code, out = run_jvm(java_cmd(classes, spark, "pipebench.SelfTest", [], work), env)
            sys.stdout.write(out)
            sys.exit(code)
        traces = os.path.join(BUILD, "traces")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        if a.trace:
            os.makedirs(traces, exist_ok=True)
            args += ["--trace-dir", traces]
        code, out = run_jvm(java_cmd(classes, spark, "pipebench.Main", args, work), env)
        result = parse_result(out)
        if code != 0 or result is None:
            sys.stderr.write(out[-4000:])
            fail(f"run failed (exit {code})")
        if a.trace:
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.layers.json"), "w") as f:
                json.dump(result, f, indent=1, sort_keys=True)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
