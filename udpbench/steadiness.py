#!/usr/bin/env python3
"""Repeat the benchmark over seeds and record each metric's spread.

    python3 udpbench/steadiness.py --workloads ingest history \\
        --seeds 1-10 [--out udpbench/STEADINESS.json]

Runs are sequential (one JVM at a time).  For each workload and end-to-end
metric the record holds the values, their median, first and third quartile
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json, and per run its wall time
and whether its warm-up settled.  For ingest it also pools the op times of
the first and second half of each run's measured loop and compares their
medians (stationarity).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float, bool, dict]:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join("udpbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    settled = "settled=True" in p.stderr
    halves = {}
    for line in p.stderr.splitlines():
        if line.startswith("[udpbench] stationarity "):
            halves = json.loads(line.split(" ", 2)[2])
    return json.loads(p.stdout.strip().splitlines()[-1]), wall, settled, halves


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {
        "host": f"{platform.machine()}, {os.cpu_count()} cpus",
        "run_seconds": bench["run_seconds"],
        "workloads": {},
    }
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        walls, settled, ok = [], [], True
        pooled: dict[str, list[float]] = {"first": [], "second": []}
        for s in seeds(args.seeds):
            res, wall, warm, halves = run_once(wl, s, bench["run_seconds"])
            walls.append(round(wall, 1))
            settled.append(warm)
            for k, v in halves.items():
                pooled[k].extend(v)
            ok = ok and res["correct"] and res["failed"] == 0
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {s}: {wall:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            summary[k] = {
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med, "bound": bounds.get(k),
                "values": vs,
            }
        record["workloads"][wl] = {
            "seeds": args.seeds, "all_correct": ok, "run_wall_s": walls,
            "warmup_settled": settled, "metrics": summary,
        }
        if pooled["first"] and pooled["second"]:
            a, b = statistics.median(pooled["first"]), statistics.median(pooled["second"])
            record["workloads"][wl]["stationarity"] = {
                "first_half_p50_s": a, "second_half_p50_s": b, "change": b / a - 1.0,
                "ops": [len(pooled["first"]), len(pooled["second"])],
            }
            print(f"{wl:8s} stationarity: first-half op p50 {a:.3f}s, "
                  f"second-half {b:.3f}s ({b / a - 1.0:+.1%})", flush=True)
        for k, v in summary.items():
            print(f"{wl:8s} {k:18s} median {v['median']:.4g} spread {v['spread']:.3f} "
                  f"(bound {v['bound']})", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
