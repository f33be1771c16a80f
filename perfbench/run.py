#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <movie_etl|ann_serve>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (sbt, into
.bench_build/), then runs perfbench.Main in one JVM with inputs and
scratch files under .bench_work/. Prints the JVM's report lines, one
line describing the box (cores, memory, load and steal before and after),
and, last, the result object. Exits non-zero without a result when the
build or the run fails, and with 1 after the result when an output check
failed.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("movie_etl", "ann_serve")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile with sbt unless .bench_build holds a build of this tree.
    Returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if "scala-2.13/classes" in l]
    if out.returncode != 0 or not lines:
        fail(f"build failed (rc={out.returncode}, log: {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def box_markers():
    """Load average and cumulative steal jiffies, read from /proc."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else -1
    return {"loadavg": load, "steal_jiffies": steal, "t": time.time()}


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}")
    classpath = ensure_build()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC",
        # as many GC threads as Spark task threads (Main gives Spark half the cores)
        f"-XX:ParallelGCThreads={max(1, len(os.sched_getaffinity(0)) // 2)}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", work]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    before = box_markers()
    log_path = os.path.join(WORK, f"{args.workload}-{args.seed}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = box_markers()

    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"run produced no result (rc={proc.returncode}, log: {log_path})", 3)

    for line in lines[:-1]:
        print(line)
    cpus = len(os.sched_getaffinity(0))
    wall = after["t"] - before["t"]
    steal_pct = None
    if before["steal_jiffies"] >= 0 and wall > 0:
        hz = os.sysconf("SC_CLK_TCK")
        steal_pct = round(100.0 * (after["steal_jiffies"] - before["steal_jiffies"])
                          / (hz * wall * os.cpu_count()), 3)
    print(json.dumps({"perfbench": "box", "workload": args.workload,
                      "seed": args.seed, "trace": int(args.trace),
                      "nproc": cpus, "mem_total_mb": mem_total_mb(),
                      "loadavg_before": before["loadavg"],
                      "loadavg_after": after["loadavg"],
                      "steal_pct": steal_pct, "wall_s": round(wall, 3)}))
    print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
