#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 graftbench/run.py --workload replicate --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (see build.py), then runs the
workload in one JVM on local[nproc] with a heap of half the machine's
memory. The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics, or with --trace 1 the per-layer metrics (the
spans and every metric also go to .graftbench/traces/). Exit code 0 when
every operation matched its planted truth, 1 on a mismatch, 2 on any
other failure. Everything the run writes stays under .graftbench/; its
scratch directory is removed when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

import build

WORKLOADS = ["replicate", "backfill_verify", "curate"]
JVM_SECONDS = 170

def machine():
    """Cores this process may use and half the machine's memory, in MB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return cores, kb // 2 // 1024


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        jar = build.build()
    except (build.BuildError, subprocess.SubprocessError) as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2

    cores, heap_mb = machine()
    scratch = os.path.join(build.WORK, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)  # left by a killed run
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(build.WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    trace_out = os.path.join(build.WORK, "traces", f"{a.workload}-seed{a.seed}.json")

    cmd = [*build.java_run(tmp, f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Dderby.system.home={scratch}",
                           f"-XX:ErrorFile={scratch}/hs_err_%p.log", "-cp", build.classpath(jar)),
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
           "--scratch", scratch, "--trace-out", trace_out if a.trace else ""]
    log_path = os.path.join(logs, name + ".log")
    lines = []
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        reader = threading.Thread(target=lambda: lines.extend(proc.stdout), daemon=True)
        reader.start()
        try:
            code = proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            print(f"graftbench: JVM exceeded {JVM_SECONDS}s, killed", file=sys.stderr)
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            reader.join(timeout=10)
            shutil.rmtree(scratch, ignore_errors=True)

    result = None
    for line in lines:
        if line.startswith("GRAFTBENCH_RESULT "):
            result = json.loads(line[len("GRAFTBENCH_RESULT "):])
        else:
            print(line, end="")
    if result is None or code not in (0, 1):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"graftbench: no result (JVM exit {code}); log at {log_path}", file=sys.stderr)
        return 2
    print(f"graftbench: cores={cores} heap_mb={heap_mb} log={os.path.relpath(log_path, build.ROOT)}")
    print(json.dumps(result))
    return 0 if result["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
