"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see BENCHMARK.json) in a fresh worker process and
relays its output; the last line is the JSON result. Everything the run
writes stays under ``.perfbench/`` at the repository root:

- ``data/``   seeded input tables, one directory per (scale, seed), reused
              only when their row counts match;
- ``run/``    TMPDIR, SPARK_LOCAL_DIRS, lake roots and the event log of the
              current run, wiped before and after it;
- ``trace/``  spans of the last traced run of each workload.

The worker runs in its own process group with PYTHONPATH at the
repository root, so Spark's Python workers import the package from any
working directory. When the worker exits, anything left in its group is
killed and waited for.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 160
DRIVER_MEM = "2g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _reap(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        t_end = time.monotonic() + 5
        while _group_alive(pgid) and time.monotonic() < t_end:
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pydatalake_gen2_spark")):
        print("perfbench: pydatalake_gen2_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2

    work = os.path.join(STATE, "run")
    out = os.path.join(STATE, "trace", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM's own temporary files (streaming's temporary checkpoints,
        # perf-data) would otherwise land in /tmp
        "SPARK_SUBMIT_OPTS": " ".join(filter(None, [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            env.get("SPARK_SUBMIT_OPTS")])),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS") or str(min(4, os.cpu_count() or 4)),
        # a fixed heap, whatever the caller's environment says: heap sizing,
        # GC and peak_rss_mb then depend on the code alone. 2g holds the
        # few-MB inputs many times over; the program's 16g default is more
        # memory than a small shared host has.
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", os.path.join(STATE, "data"), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    # on SIGTERM, still reap the worker's group (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        stdout, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _reap(proc.pid)
        proc.wait()
        print("perfbench: worker timed out", file=sys.stderr)
        return 3
    finally:
        _reap(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stdout)
        print(f"perfbench: worker failed with code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    sys.stdout.write(stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
