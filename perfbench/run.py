#!/usr/bin/env python3
"""Run one benchmark workload against the program built from source.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first call builds the program and the benchmark with sbt (offline) and
caches the classpath under .bench_build/; later calls start the JVM
directly. The last line of standard output is the JSON result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("rpl_ingest", "corpus_curate")
ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "classpath.txt"
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the root build does)
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
    sys.exit(2)


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout and
    once the command ends, so nothing it started outlives it."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode


def sources():
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project", BENCH / "src" / "main"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            for p in r.rglob("*"):
                if p.is_file() and "target" not in p.parts:
                    yield p


def classpath():
    """Build with sbt when the cached classpath is missing or stale."""
    newest = max(p.stat().st_mtime for p in sources())
    if CLASSPATH.is_file() and CLASSPATH.stat().st_mtime >= newest:
        cp = CLASSPATH.read_text().strip()
        if all(Path(e).exists() for e in cp.split(os.pathsep)):
            return cp
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(tmp))
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         BENCH, env, BUILD_TIMEOUT_S, out, subprocess.STDOUT)
    lines = log.read_text().splitlines()
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    CLASSPATH.write_text(lines[-1].strip() + "\n")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("run from the repository root: the program's sources are missing")
    BUILD.mkdir(exist_ok=True)
    cp = classpath()

    work = BUILD / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    out_path, err_path = work.with_suffix(".out"), work.with_suffix(".err")
    started = time.time()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"),
                   TMPDIR=str(work / "tmp"))
        code = run_group(cmd, ROOT, env, RUN_TIMEOUT_S, out, err)
    lines = out_path.read_text().splitlines()
    errors = err_path.read_text().splitlines()
    shutil.rmtree(work, ignore_errors=True)
    out_path.unlink()
    err_path.unlink()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines + errors[-40:]) + "\n")
        fail("run failed" if code is not None else f"run timed out after {RUN_TIMEOUT_S} s")
    print("\n".join(lines[:-1]))
    print(f"# wall {time.time() - started:.1f} s")
    print(lines[-1])


if __name__ == "__main__":
    main()
