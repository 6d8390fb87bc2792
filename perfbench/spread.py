#!/usr/bin/env python3
"""Run workloads on several seeds and report, per end-to-end metric,
the median and the inter-quartile spread as a share of the median,
against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10 [--out runs.jsonl]
    python3 perfbench/spread.py --workload all --seeds 1     # every workload once

Runs are sequential, each a fresh ``run.py`` process with the
BENCHMARK.json ``run_seconds``.  ``--out`` appends every result line, so
a second set of seeds can be compared with the first.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, spread  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]] if a.workload == "all" else [a.workload]
    status = 0
    for name in names:
        status |= run_workload(bench, name, a)
    return status


def run_workload(bench: dict, workload: str, a) -> int:
    print(f"== {workload}")
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seed_range(a.seeds):
        t0 = time.time()
        proc = subprocess.run(
            bench["command"] + ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        if not res["correct"]:
            print(f"seed {seed}: failing ops {json.loads(lines[-2])['context']['failed_ops']}")
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, **res}) + "\n")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              f"wall={walls[-1]:.1f}s " + " ".join(
                  f"{k}={m['value']:.4g}{m['unit']}" for k, m in res["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"wall per run: median {median(walls):.1f}s max {max(walls):.1f}s")
    for k, xs in values.items():
        if k in bounds and len(xs) >= 2:
            s = spread(xs)
            print(f"{k:14s} median={median(xs):.4g} spread={s:.3f} "
                  f"bound={bounds[k]} {'ok' if s < bounds[k] / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
