"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py <workload> [--seeds 1-10] [--trace 0|1]

For every metric: the median of the per-seed values and the distance
between their first and third quartile as a share of that median, next
to the metric's bound from BENCHMARK.json (end-to-end metrics only).
Each run's JSON line is appended to .perfbench/spread-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1-10", type=seed_range)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = stats.load_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log = os.path.join(os.path.dirname(HERE), ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.time()
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            capture_output=True, text=True)
        walls.append(time.time() - t0)
        if res.returncode != 0:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
            return 1
        lines = res.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        info = dict(ln[5:].split(" = ", 1) for ln in lines if ln.startswith("info "))
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "trace": args.trace, "info": info, **out}) + "\n")
        print(f"seed {seed}: {walls[-1]:.0f}s correct={out['correct']} "
              f"failed={out['failed']}/{out['attempted']}", flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {stats.median(walls):.1f}s, max {max(walls):.1f}s")
    for k, vs in values.items():
        med = stats.median(vs)
        spread = stats.iqr_share(vs) if len(vs) > 1 and med else float("nan")
        bound = bounds.get(k)
        mark = "" if bound is None else (" ok" if spread < bound / 3 else
                                         " WITHIN" if spread <= bound else " OVER")
        print(f"{k:40s} median {med:12.6g}  spread {spread:7.3f}"
              + ("" if bound is None else f"  bound {bound}") + mark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
