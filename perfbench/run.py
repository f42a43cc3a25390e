#!/usr/bin/env python3
"""Benchmark entry point for the CRZ pipeline and the corpus-dedup ops.

    python3 perfbench/run.py --workload crz_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program from
source together with the benchmark (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are
unchanged. Each run then launches one JVM that generates the workload's
inputs from the seed under a fresh run directory in .bench_build/runs/,
measures, checks the outputs and prints a report whose last line is the
result JSON. The run directory is deleted afterwards.

Workloads: crz_daily, corpus_dedup. Input sizes are benchmark
arguments (--day-contracts, --legacy-rows, --docs, --vecs, --dim).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 175
SIZE_ARGS = ["day-contracts", "legacy-rows", "docs", "vecs", "dim"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compile program + benchmark with sbt unless this source hash is built."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == src_hash:
                return cp_file
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # resolve only from the local toolchain caches, never the network
    repo_cfg = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    default_opts = "-Dsbt.offline=true -Dsbt.override.build.repos=true"
    if os.path.exists(repo_cfg):
        default_opts += f" -Dsbt.repository.config={repo_cfg}"
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or default_opts) + " -Xmx2g"
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "writeClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, cwd=HERE, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(src_hash)
    return cp_file


def jvm_opts():
    # what spark-submit would add on JDK 17
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in pkgs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    for a in SIZE_ARGS:
        ap.add_argument(f"--{a}", type=int)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala", 2)
    src_hash = source_hash()
    cp_file = build(src_hash)
    with open(cp_file) as fh:
        classpath = os.pathsep.join(l.strip() for l in fh if l.strip())

    run_root = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", *jvm_opts(),
           f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", run_root, "--records", os.path.join(BUILD, "records"),
           "--cores", str(cores)]
    for a in SIZE_ARGS:
        v = getattr(args, a.replace("-", "_"))
        if v is not None:
            cmd += [f"--{a}", str(v)]
    env = dict(os.environ, PERFBENCH_SOURCE_HASH=src_hash)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    last = None
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", 4)
    shutil.rmtree(run_root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if lines and lines[-1].startswith("{"):
        last = lines.pop()
    for l in lines:
        print(l)
    if proc.returncode != 0 or last is None:
        fail(f"benchmark JVM failed (exit {proc.returncode})", 5)
    print(last)


if __name__ == "__main__":
    main()
