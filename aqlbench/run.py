#!/usr/bin/env python3
"""Run one AQL workload benchmark and print its result line.

    python3 aqlbench/run.py --workload etl_relational --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It compiles the engine together with
the benchmark (sbt, offline) the first time and whenever a source file
changes, then starts one JVM that generates the inputs from the seed, runs
the workload as a closed loop for the given number of seconds, checks every
output and prints, as its last stdout line, one JSON object with the keys
correct, attempted, failed and metrics. It exits 0 when every output was
right, 4 after the result line when one was wrong, and another non-zero
code without a result when it cannot build or run. --trace 1 prints the
per-layer metrics instead of the end-to-end ones and writes the span file
under aqlbench/work/trace/. Everything the run writes stays under
aqlbench/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("etl_relational", "curate_inplan", "index_lifecycle",
             "server_mixed", "server_serial")
BENCH = Path("aqlbench")
ENGINE_SRC = Path("src/main/scala")
CLASSPATH_FILE = BENCH / "target" / "aqlbench-classpath.txt"
STAMP_FILE = BENCH / "target" / "aqlbench-stamp.txt"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"

JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"aqlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for root in (ENGINE_SRC, BENCH / "src" / "main"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if CLASSPATH_FILE.exists() and STAMP_FILE.exists() \
            and STAMP_FILE.read_text() == stamp:
        return CLASSPATH_FILE.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S,
                           stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    cp = [line for line in r.stdout.splitlines()
          if "scala-library" in line and not line.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"build failed (sbt exit {r.returncode})")
    CLASSPATH_FILE.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH_FILE.write_text(cp[-1].strip())
    STAMP_FILE.write_text(stamp)
    return cp[-1].strip()


def java_cmd(classpath, work, args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_ADD_OPENS]
    opts += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        # the same system properties the repository's sbt run passes
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # keep Spark's scratch files inside the checkout
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
    ]
    return [str(java), *opts, "-cp", classpath, "aqlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--trace-dir", str(BENCH / "work" / "trace")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be >= 1")
    if not (ENGINE_SRC / "graft").is_dir() or not (BENCH / "build.sbt").is_file():
        fail("run from the root of a checkout that holds the engine "
             "sources (src/main/scala/graft) and aqlbench/")
    classpath = build()

    work = (BENCH / "work" / f"{args.workload}-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True)
    proc = subprocess.Popen(java_cmd(classpath, work, args),
                            stdin=subprocess.DEVNULL, start_new_session=True)
    start = time.monotonic()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 3
        print(f"aqlbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(f"aqlbench: jvm ran {time.monotonic() - start:.1f} s",
          file=sys.stderr)
    sys.exit(code)


if __name__ == "__main__":
    main()
