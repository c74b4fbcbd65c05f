#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 6 --trace 0

Builds the library and the benchmark from source with sbt on first use
(the classpath is cached under perfbench/.build, keyed by a hash of the
sources), then runs the workload in a fresh JVM pinned to at most four
cores, with a fixed heap, shuffle partition count and scratch directory
under perfbench/.work. After a build, one short training JVM loads the
classes a run needs and dumps them into a class-data-sharing archive
under perfbench/.build, which every run maps instead of loading those
classes from the jars. Everything the Spark run writes is deleted when it
ends, except traced runs' span files under perfbench/.work/traces.
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
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("cdc_sync", "serve_search")
CORES = 4
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
ARCHIVE = HERE / ".build" / "classes.jsa"

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256(str(ROOT).encode())
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes() if f.exists() else b"<missing>")
    return h.hexdigest()


def build(deadline):
    """Returns the runtime classpath, compiling first if the sources changed."""
    state = HERE / ".build"
    state.mkdir(exist_ok=True)
    with open(state / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp, cp_file = state / "stamp", state / "classpath.txt"
        key = fingerprint()
        if cp_file.exists() and stamp.exists() and stamp.read_text() == key:
            return cp_file.read_text().strip(), False
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        stamp.unlink(missing_ok=True)
        ARCHIVE.unlink(missing_ok=True)
        # jars only: class-data sharing refuses a class path with directories
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "export perfbench/Runtime/fullClasspathAsJars"]
        log("building: " + " ".join(cmd))
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, err = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("build timed out")
            return None, True
        finally:
            stop(proc)
        sys.stderr.write(out[-4000:] + err[-4000:])
        lines = [ln.strip() for ln in out.splitlines()
                 if ln.strip().endswith(".jar") and os.pathsep in ln]
        if proc.returncode != 0 or not lines:
            log(f"build failed (exit {proc.returncode})")
            return None, True
        cp = lines[-1]
        train(cp, deadline)
        cp_file.write_text(cp)
        stamp.write_text(key)
        return cp, True


def train(cp, deadline):
    """Dumps the class-data archive from a short run over the sync path.
    Without it, runs load every class from the jars: slower, still correct."""
    work = HERE / ".work" / f"train-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                       ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0"],
                       work, work / "result.json", deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not ARCHIVE.exists():
        log(f"class-data archive not made (exit {code}); runs load classes from the jars")
        ARCHIVE.unlink(missing_ok=True)


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def stop(proc):
    """Kills what is left of the process group `proc` leads, and reaps it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_jvm(cp, jvm_args, main_args, work, out, deadline):
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-XX:ActiveProcessorCount={len(cpus)}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + jvm_args
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + main_args
           + ["--work", str(work), "--cores", str(len(cpus)), "--out", str(out)])
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True,
                            preexec_fn=lambda: os.sched_setaffinity(0, cpus))
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("workload run timed out")
        return None
    finally:
        stop(proc)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        log(f"no library sources next to {HERE.name}/ (expected src/main/scala/graft and build.sbt)")
        return 2
    cp, built = build(start + BUILD_LIMIT_S)
    if cp is None:
        return 3
    deadline = (start + BUILD_LIMIT_S) if built else (start + RUN_LIMIT_S)

    work = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    try:
        shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
        code = run_jvm(cp, shared,
                       ["--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", str(args.trace)],
                       work, out, deadline)
        if code != 0 or not out.exists():
            log(f"workload run failed (exit {code})")
            return 4
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = expected_metrics(args.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want or set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"result does not match BENCHMARK.json: {sorted(got.items())} vs {sorted(want.items())}")
        return 5
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
