#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload tile_pbf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and the
engine from this checkout's sources (sbt, under .bench_build/); later runs
reuse the build until a source file changes. The workload runs in one JVM
at local[nproc], its inputs are generated from --seed under
.bench_build/work/ and removed afterwards. The last line of stdout is the
JSON result; build and Spark logs go to stderr.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("tile_pbf", "join_bcast")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: harness, build files, engine sources."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (HERE / "src" / "main", ENGINE_SRC):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile with sbt unless this exact source set is already built;
    returns the runtime classpath."""
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building harness and engine with sbt")
    res = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=850)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if res.returncode != 0 or not lines:
        raise SystemExit(f"build failed (sbt exit {res.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a SIGTERM to this script must not leave sbt or the JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}: "
                         "run from the root of a graft checkout")
    stamp = source_stamp()
    cp = build(stamp)

    cores = len(os.sched_getaffinity(0))
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = shutil.which("java") or str(pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # fixed heap and generation sizes: peak_heap_mb then reads the same
        # GC policy on every run
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        f"-XX:ParallelGCThreads={cores}",
        f"-XX:ActiveProcessorCount={cores}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--state", str(BUILD / "state"), "--build-id", stamp,
    ]
    # Spark's scratch space stays in the run's own directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{args.workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if lines:
        print(lines[-1], flush=True)
    sys.exit(proc.returncode if lines else 1)


if __name__ == "__main__":
    main()
