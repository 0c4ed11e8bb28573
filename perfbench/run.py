#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the benchmark from source, runs
one workload in one JVM, and prints the result object as its last line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_forecast, queries_loops, queries_scan (see
perfbench/README.md). The build goes to .bench_build/ and is reused while
the sources are unchanged. Exits non-zero without a result when the engine
sources are missing, the build fails, a run exceeds its time limit, or the
JVM does not end with a result object.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("pipeline_forecast", "queries_loops", "queries_scan")
ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_sbt():
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        fail("build.sbt not found: not a repository checkout")
    return sbt.read_text()


def spark_jars():
    """The jar directory the repository build compiles against: $SPARK_JARS,
    else build.sbt's `unmanagedBase`."""
    if os.environ.get("SPARK_JARS"):
        return Path(os.environ["SPARK_JARS"])
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory; set SPARK_JARS")
    return Path(m.group(1))


def add_opens():
    """The `--add-opens` flags Spark 4 needs on JDK 17 outside
    spark-submit: build.sbt's `jdk17AddOpens` list."""
    m = re.search(r"val\s+jdk17AddOpens\s*=\s*Seq\((.*?)\)", build_sbt(), re.S)
    mods = re.findall(r'"([\w.]+/[\w.]+)"', m.group(1)) if m else []
    if not mods:
        fail("build.sbt has no jdk17AddOpens list of modules to open")
    return [x for mod in mods for x in ("--add-opens", f"{mod}=ALL-UNNAMED")]


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail("src/main/scala not found: not a repository checkout")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def build(jars):
    """Compiles the engine and the benchmark with scalac into
    .bench_build/classes, unless a build of the same sources exists."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    classes = BUILD / "classes"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = BUILD / "classes.stamp"
        if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
            return classes
        shutil.rmtree(classes, ignore_errors=True)
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        args_file = BUILD / "scalac.args"
        args_file.write_text("\n".join(str(f) for f in files) + "\n")
        cp = f"{jars}/*"
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{args_file}"]
        print("perfbench: compiling engine and benchmark", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail(f"build failed (scalac exit {r.returncode})")
        tmp.rename(classes)
        stamp_file.write_text(stamp)
        return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Scala compiler jar in {jars}")
    classes = build(jars)

    work = BUILD / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # a fixed heap with ParallelGC, so that GC work per iteration does not
    # follow adaptive sizing; a fixed set of JIT compiler threads, whose
    # time cpu_s leaves out (Main.scala)
    cmd = (["java"] + add_opens() +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseParallelGC",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work), "--expected", str(BENCH / "expected.json")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"JVM exited with {proc.returncode} and no result", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last JVM output line is not a result object", 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result object has unexpected keys", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
