#!/usr/bin/env python3
"""Pipeline benchmark entry point.

    python3 pipebench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the benchmark together with the program it measures (sbt, from the
sources of the checkout it runs in) when the sources changed since the last
build, then runs one workload in a fresh JVM. The JVM's stdout is passed
through; its last line is the JSON result. Extra flags for the benchmark's
own tests: --size tiny, --corrupt 1 (one bad sink row), --replay 1 (the
catch-up stream starts at the head of the log instead of its GTID fence).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("bucketed_catchup", "wide_multichain_catchup", "cli_snapshot_tail")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LOG4J2 = """rootLogger.level = warn
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss.SSS} %p %c{1}: %m%n
"""


def source_digest():
    """Digest of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile when the sources changed; return the path of the java argfile."""
    argfile = os.path.join(BUILD, "java-classpath.args")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(argfile) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return argfile
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        sys.exit("pipebench: build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "pipebench" not in cp or cp.startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("pipebench: build failed")
    with open(argfile, "w") as f:
        f.write("-cp\n" + cp + "\n")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return argfile


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    ap.add_argument("--replay", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("pipebench: the program's sources are not in this checkout")
    argfile = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log4j = os.path.join(work, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write(LOG4J2)
    spans = os.path.join(BUILD, "traces",
                         f"{a.workload}-seed{a.seed}-{a.size}.spans.jsonl")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dlog4j2.configurationFile={log4j}",
            "-Dspark.ui.enabled=false", "@" + argfile, "pipebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--size", a.size, "--corrupt", str(a.corrupt),
            "--replay", str(a.replay)]
    if a.trace:
        cmd += ["--spans", spans]
    try:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        sys.exit(f"pipebench: {a.workload} did not finish in {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if result:
        print(result[-1])
    if p.returncode != 0 or not result:
        sys.stdout.flush()
        sys.exit(f"pipebench: {a.workload} failed (exit {p.returncode})")


if __name__ == "__main__":
    main()
