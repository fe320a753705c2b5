#!/usr/bin/env python3
"""Benchmark command: build the engine and the benchmark from this checkout,
run one workload in a fresh local-mode JVM, and print the result.

    python3 perfbench/run.py --workload elt_incremental --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is the
result JSON ({"correct", "attempted", "failed", "metrics"}); the line before
it records the box and the engine configuration. Program output goes to
standard error. `--size smoke` runs every workload in seconds (the
benchmark's own check, see test_smoke.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
WORKLOADS = ("elt_incremental", "query_mix")
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(root):
    """Digest of every input of the build, so a checkout is rebuilt exactly
    when its code changes."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out, digest):
    """Compile engine + benchmark with sbt (offline) and return the runtime
    classpath. Reuses the previous build while `digest` is unchanged."""
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
            opts.insert(0, "-Dsbt.override.build.repos=true")
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    log("building: " + " ".join(cmd))
    t0 = time.time()
    p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None where it is missing."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def commit_id(root):
    """HEAD when the checkout is a git work tree of its own, else None."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no engine sources here: run from the root of a checkout")
        return 2
    out = os.path.join(root, ".bench_build")
    digest = source_digest(root)
    classpath = build(root, out, digest)

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(out, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    heap = [f"-Xmx{HEAP}", f"-Xms{HEAP}"]
    java = ["java", "-XX:-UsePerfData"] + [
        x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + heap + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Bench",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--size", args.size, "--dir", run_dir]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        # state-family stores live in this run's directory: nothing is
        # served from another run's (or another commit's) build
        "SPARK_GRAFT_DEDUP_STATE_DIR": os.path.join(run_dir, "state", "dedup"),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "state", "index"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PERFBENCH_EXPECTED_COUNTS": os.path.join(HERE, "expected_counts.tsv"),
    })
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    load_start, cpu_start = os.getloadavg(), cpu_times()
    proc = subprocess.Popen(java, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 3
    load_end, cpu_end = os.getloadavg(), cpu_times()
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM exited with {proc.returncode}")
        return proc.returncode or 1
    result = json.loads(lines[-1])
    engine = next((json.loads(ln)["engine"] for ln in lines if ln.startswith('{"engine"')), {})
    box = {"nproc": nproc, "master": engine.get("master"),
           "default_parallelism": engine.get("default_parallelism"),
           "heap": heap, "load_start": load_start[0], "load_end": load_end[0],
           # share of CPU time the hypervisor gave to other guests during the run
           "cpu_steal_frac": (cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1])
           if cpu_start and cpu_end else None,
           "commit": commit_id(root), "source_digest": digest[:16],
           "workload": args.workload, "seed": args.seed, "size": args.size,
           "trace": args.trace}
    print(json.dumps({"box": box}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
