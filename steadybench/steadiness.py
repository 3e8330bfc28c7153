#!/usr/bin/env python3
"""Run one workload on several seeds and report how far each end-to-end
metric spreads.

    python3 steadybench/steadiness.py --workload serve_names --seeds 1-10 [--seconds S]

For every metric of ``BENCHMARK.json`` it prints the median of the runs
and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median,
beside the metric's bound.  A spread above a third of its bound is
flagged.  Each run's result line is kept in
``.bench_work/out/steadiness-<workload>.jsonl``.
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


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    log = os.path.join(os.getcwd(), ".bench_work", "out", f"steadiness-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(line) if proc.returncode == 0 else {}
        res.update(seed=seed, wall_s=round(wall, 1), exit=proc.returncode)
        results.append(res)
        with open(log, "a") as fh:
            fh.write(json.dumps(res) + "\n")
        vals = {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}
        print(f"seed {seed}: exit {proc.returncode} correct {res.get('correct')} "
              f"wall {wall:.1f}s {vals}", flush=True)
    ok = [r for r in results if r.get("exit") == 0 and r.get("correct")]
    if len(ok) < 2:
        print("fewer than two good runs")
        return 1
    worst = 0.0
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in ok]
        med, sp = spread(values)
        flag = "" if sp <= m["bound"] / 3 else "  <-- above a third of the bound"
        if m["name"] != "setup_s":
            worst = max(worst, sp / m["bound"])
        print(f"{m['name']:14s} median {med:12.4f} {m['unit']:5s} spread {sp:.4f} bound {m['bound']}{flag}")
    print(f"largest spread/bound (setup_s aside): {worst:.3f}; "
          f"wall median {statistics.median(r['wall_s'] for r in results):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
