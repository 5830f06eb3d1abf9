"""Steadiness receipt: run every workload over several seeds and record
each end-to-end metric's median and quartile spread.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/receipts/set1.json
    python3 perfbench/steady.py --seeds 1-3 --trace --out perfbench/receipts/traced.json

Run from the repository root. The spread is (Q3 - Q1) / median with
``statistics.quantiles(values, n=4)``; a metric is steady when its spread
stays under a third of its bound in BENCHMARK.json (``setup_s`` is judged
on its median alone).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DETAIL = ("raw_setup_s", "raw_wall_s", "steal_share", "host_factor")


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(int(trace)),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    lines = proc.stdout.strip().splitlines()
    line = json.loads(lines[-1])
    line["run_s"] = time.monotonic() - t0
    # the uncompared detail lines ("name = value unit") that show how much
    # the host took: raw times and the stolen share
    line["detail"] = {
        name: float(value)
        for name, eq, value, *_ in (l.split() for l in lines[:-1] if l.count(" ") >= 2)
        if eq == "=" and name in DETAIL
    }
    return line


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = seed_range(args.seeds)

    report = {"seeds": seeds, "seconds": spec["run_seconds"], "trace": args.trace, "workloads": {}}
    for name in names:
        runs = []
        for seed in seeds:
            line = run_once(name, seed, spec["run_seconds"], args.trace)
            runs.append(line)
            print(name, seed, round(line["run_s"], 1), {k: round(v["value"], 4) for k, v in line["metrics"].items()}, flush=True)
        metrics = {}
        for metric in runs[0]["metrics"]:
            values = [r["metrics"][metric]["value"] for r in runs]
            metrics[metric] = {"values": values, **summarize(values)}
            bound = bounds.get(metric)
            if bound is not None and metric != "setup_s":
                metrics[metric]["steady"] = metrics[metric]["spread"] < bound / 3
        for name_ in DETAIL:
            values = [r["detail"][name_] for r in runs if name_ in r["detail"]]
            if len(values) == len(runs) and len(runs) > 1:
                metrics[name_] = {"values": values, **summarize(values)}
        report["workloads"][name] = {
            "correct": all(r["correct"] for r in runs),
            "run_s": [r["run_s"] for r in runs],
            "metrics": metrics,
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
