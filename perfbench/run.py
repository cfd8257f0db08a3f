#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload meta_inspect --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine plus harness on first use (see build.py), then starts one
JVM with a local Spark session that runs nproc - 1 task threads. Scratch files
live under the build directory and are deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("meta_inspect", "cdc_table", "dedup_ingest")
RUN_TIMEOUT_S = 170
NPROC = len(os.sched_getaffinity(0))
# Spark task threads: one core fewer than the box has, so the client thread
# (which also runs Catalyst and the DAG scheduler), the JIT and the GC are
# not queued behind a full set of tasks; on a shared host that queueing
# turns CPU steal into run-to-run spread.
SPARK_THREADS = max(1, NPROC - 1)

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def java_cmd(classes, jars, work, main, args):
    gc_threads = max(1, NPROC // 2)  # a stop-the-world pause waits for its slowest worker
    cmd = ["java", "-Xmx2g", "-Xss4m", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={gc_threads}",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(build.BENCH_DIR, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{classes}:{os.path.join(jars, '*')}", main] + args


def run_jvm(cmd):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classes, stamp = build.build()
    jars = build.spark_jars()
    bd = build.build_dir()
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(bd, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(bd, "records")
    os.makedirs(records, exist_ok=True)
    try:
        if a.selftest:
            rc, out = run_jvm(java_cmd(classes, jars, work, "perfbench.SelfTest", []))
            sys.stdout.write(out)
            return rc
        rc, out = run_jvm(java_cmd(classes, jars, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--cpus", str(SPARK_THREADS), "--nproc", str(NPROC),
            "--data", os.path.join(build.BENCH_DIR, "data"),
            "--record", os.path.join(records, f"{tag}.json"),
            "--commit", git_commit(), "--stamp", stamp[:16]]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        print(f"[perfbench] run failed (exit {rc})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or any(
            not isinstance(m.get("value"), (int, float)) for m in result["metrics"].values()):
        print("[perfbench] malformed result line", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        print(f"[perfbench] {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(1)
