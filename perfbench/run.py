#!/usr/bin/env python3
"""Run one perfbench workload from the root of a checkout.

    python3 perfbench/run.py --workload kg_update --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source on first use (sbt, cached in
.bench_build/ under a hash of the sources), then runs the harness in one JVM
at local[4]. Working files go to .bench_work/ and are removed afterwards;
each run's full metrics and log land in .bench_results/. The last stdout line
is the result JSON: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "classes.jsa"
WORKLOADS = ["kg_update", "corpus_dedup", "ann_serve"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these module openings.
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


def stamp():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(cp, work, jvm_flags, args):
    home = os.environ.get("JAVA_HOME")
    java = str(Path(home) / "bin" / "java") if home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap and the throughput collector gave the steadiest
    # operation times on a 4-core host
    return [java, *opens, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work / 'tmp'}", *jvm_flags,
            "-cp", cp, "graft.perfbench.Main", "--work-dir", str(work), *args]


def archive_classes(cp):
    """Records the classes a short run loads into a class-data archive that
    every run maps at start-up (with -Xshare:on, so a run never starts
    without it), which roughly halves JVM and session start. A failed dump
    fails the build."""
    ARCHIVE.unlink(missing_ok=True)
    work = BUILD / "archive-run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                   ["--workload", "corpus_dedup", "--seed", "0", "--seconds", "1", "--trace", "0",
                    "--results", str(work / "result.json")])
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                              stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("class-data archive run timed out", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not ARCHIVE.is_file():
        sys.stderr.write("".join(proc.stderr.splitlines(True)[-40:]))
        ARCHIVE.unlink(missing_ok=True)
        fail(f"class-data archive run exited with {proc.returncode}", 1)


def build():
    """Compiles once per source state; returns the runtime classpath."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
        if (stamp_file.exists() and cp_file.exists() and ARCHIVE.is_file()
                and stamp_file.read_text() == want):
            return cp_file.read_text().strip()
        print("perfbench: building engine and harness", file=sys.stderr)
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.supershell=false", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        cp = lines[-1].strip() if lines else ""
        if proc.returncode != 0 or cp.startswith("[") or ".jar" not in cp:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail("build failed", 1)
        stamp_file.unlink(missing_ok=True)
        cp_file.write_text(cp)
        archive_classes(cp)
        stamp_file.write_text(want)
        return cp


def run(cmd, work, log):
    """Streams the harness's stdout; returns its exit code and last line."""
    last = ""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                if line.strip():
                    last = line.strip()
                sys.stdout.write(line)
                sys.stdout.flush()
            return proc.wait(), last
        finally:
            timer.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT}/src/main/scala/graft")

    cp = build()
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = ROOT / ".bench_work" / f"{name}-{os.getpid()}"
    results = ROOT / ".bench_results" / f"{name}.json"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.parent.mkdir(exist_ok=True)
    cmd = java_cmd(cp, work, [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on"],
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--results", str(results)])
    log = results.with_suffix(".log")
    try:
        code, last = run(cmd, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
        fail(f"harness exited with {code}" + (" (killed at the time limit)" if code == -signal.SIGKILL else ""), 1)
    try:
        result = json.loads(last)
    except ValueError:
        result = {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result line", 1)


if __name__ == "__main__":
    main()
