#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_feed --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the program and the benchmark with sbt
(`perfbench/build.sbt`); later runs reuse that build while no source is
newer than it. Each run starts a fresh JVM with its own work directory
under `perfbench/out/`, which is deleted afterwards; the run's trace file
stays in `perfbench/out/`. The last line of standard output is the result
object; a run that cannot finish exits non-zero without printing one.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = ("daily_feed", "wide_feed", "query_suite")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the program's build
# passes the same list to its forked JVMs).
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
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no child outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out, err


def newest_source():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the program's sources (src/main/scala, build.sbt) are not in this checkout")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source():
        with open(CLASSPATH) as f:
            return f.read().strip()
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as logf:
        code, out, _ = run_group(
            ["sbt", "-batch", "compile", "export Runtime / fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True)
        logf.write(out)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()

    os.makedirs(OUT, exist_ok=True)
    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--trace-out", os.path.join(OUT, f"trace-{tag}.json")]
    log = os.path.join(OUT, f"run-{tag}.log")
    try:
        with open(log, "w") as logf:
            code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                     stdout=subprocess.PIPE, stderr=logf,
                                     stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            try:
                result = json.loads(line)
                break
            except ValueError:
                pass
    if code != 0 or result is None:
        fail(f"run failed (exit {code}); see {log}")
    for line in lines:
        if line.startswith("#"):
            print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
