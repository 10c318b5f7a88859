#!/usr/bin/env python3
"""Run one workload of the ingest / search / curate benchmark.

    python3 loadbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (a few minutes at most); later runs reuse the build
until a source file changes. Each run is one JVM: set-up, one timed
window, output checks. The last line of stdout is the result object.
Exits non-zero, printing no result, when the build or the run fails or
an output is wrong.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = HERE / "target" / "bench.classpath"
STAMP = BUILD / "build.stamp"
WORKLOADS = ("ingest", "search", "curate")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark unless the build is current;
    returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT}: run from a full checkout")
    current = stamp()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == current:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not CLASSPATH.is_file():
        fail(f"build failed (sbt exit {proc.returncode})")
    BUILD.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(current)
    return CLASSPATH.read_text().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    classpath = build()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # C1 only: a run is too short for C2 to settle, and its background
    # recompiles of the planner land in the timed window
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=256m",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", classpath, "loadbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", str(BUILD / "work")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or result is None:
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})")
    for line in lines:
        print(line)
    if not result["correct"]:
        print("run.py: wrong output", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
