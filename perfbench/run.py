#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload etl|registry \
        --seed N --seconds S --trace 0|1

Builds the library and the harness from source if needed (see
build.py), then runs the harness in one JVM at local[nproc]. The last
line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}};
the line before it reports every workload metric by name. A traced run
(--trace 1) prints the per-layer metrics instead of the end-to-end ones
and writes its spans and counters to .bench_build/perfbench/traces/.

Exits non-zero without a result line when the build fails, the JVM
fails or does not finish in time.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("etl", "registry")
DEADLINE_S = 170  # whole run, build excluded


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    start = time.monotonic()

    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", *build.ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", os.path.join(build.OUT, "traces")])
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = proc.communicate(timeout=max(30.0, DEADLINE_S - (time.monotonic() - start)))
    except subprocess.TimeoutExpired:
        print("[perfbench] run did not finish in time", file=sys.stderr)
        kill()
    shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        ok = proc.returncode == 0 and set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        sys.stderr.write(out)
        print(f"[perfbench] harness failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
