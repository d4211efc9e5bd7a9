#!/usr/bin/env python3
"""Build graft from this checkout and run one benchmark workload.

    python3 perfbench/run.py --workload snapshot_reads --seed 1 --seconds 10 --trace 0

Builds the benchmark (perfbench/build.sbt, which compiles graft's own
sources) when the sources changed since the last build, then runs one
JVM: a single closed-loop client on Spark local[<cores>]. The report goes
to stdout and the last line is one JSON object with the keys correct,
attempted, failed and metrics. Exits non-zero, without a result line, if
the build or the run fails. Build outputs and run scratch live under
.bench_build/ at the checkout root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp")
RUN_LIMIT_S = 170
HEAP = "3g"

# What the build reads: graft's sources and build, and the benchmark's.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]

# Spark on JDK 17 outside spark-submit (same list as graft's build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the same sources were built already;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh, open(CLASSPATH) as cp:
            classpath = cp.read().strip()
            if fh.read().strip() == stamp and all(
                    os.path.exists(p) for p in classpath.split(os.pathsep)):
                return classpath
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-Dsbt.supershell=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(cmd + ["export Runtime/fullClasspath"], cwd=HERE,
                              env=env, stdout=subprocess.PIPE, stderr=out,
                              text=True, timeout=800)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(proc.stdout)
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (sbt exit {proc.returncode}); see {log}")
    classpath = lines[-1]
    with open(CLASSPATH, "w") as fh:
        fh.write(classpath)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath


def run_jvm(classpath, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", args.scale, "--work", work]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, log, "timed out"
    return (out if proc.returncode == 0 else None), log, f"exit {proc.returncode}"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["snapshot_reads", "recursive_closure", "tx_interleaved"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["default", "tiny"], default="default")
    args = p.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Graft.scala")):
        fail("graft sources (src/main/scala/graft) not found next to perfbench/", 2)
    classpath = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        out, log, status = run_jvm(classpath, args, work)
        if out is None:
            with open(log) as fh:
                text = fh.read()
            causes = [l for l in text.splitlines()
                      if "Exception" in l or "Caused by" in l or "[graftbench]" in l]
            fail(f"benchmark JVM failed ({status}); errors:\n" +
                 "\n".join(causes[:20]) + "\nlog tail:\n" + text[-1500:])
        lines = [l for l in out.splitlines() if l.strip()]
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("malformed result line")
        for line in lines[:-1]:
            print(line)
        if result["failed"]:
            with open(log) as fh:
                for line in fh:
                    if "[graftbench]" in line:
                        print(line.rstrip(), file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
