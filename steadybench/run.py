#!/usr/bin/env python3
"""Benchmark entry point.

    python3 steadybench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  It builds the workload's inputs from
``--seed``, starts the program's Spark session, runs the workload's
untimed warm-up and its fixed timed op sequence (sized from
``--seconds``), checks the program's outputs, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer ones, from a run with spans on.

Scratch files live under ``.bench_work/`` in the working directory.
Each run leaves its record (machine, host load, per-kind latencies
with sample counts, check results) in ``.bench_work/out/`` and, when
traced, its spans and exact counters beside it.  A traced run's record
also holds ``trace_overhead``: its ``ops_per_s`` over that of the
untraced run of the same workload, seed and length, or null when this
checkout has no such run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("serve_names", "batch_queries")
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms"}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _untraced_rate(out_dir: str, workload: str, seed: int, seconds: int) -> float | None:
    """ops_per_s of the untraced run of the same workload, seed and
    length, if one was made in this checkout."""
    path = os.path.join(out_dir, f"result-{workload}-s{seed}-t0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        rec = json.load(fh)
    return rec["metrics"]["ops_per_s"]["value"] if rec["seconds"] == seconds else None


def _latency_summary(latencies: dict[str, list[float]]) -> dict:
    from common import p50, tail

    out = {}
    for kind, values in sorted(latencies.items()):
        t = tail(values)
        out[kind] = {
            "n": len(values),
            "p50_ms": round(p50(values), 3),
            "tail_ms": round(t[0], 3) if t else None,
            "tail_pct": round(t[1], 1) if t else None,
        }
    return out


def main(argv=None) -> int:
    args = _args(argv)
    try:
        import pyspark  # noqa: F401

        import delta_lake_play_spark  # noqa: F401
    except ImportError as exc:
        print(f"steadybench: the program is not importable here: {exc}", file=sys.stderr)
        return 2

    import common
    import tracing
    from batch_queries import KEYS

    work_root = os.path.join(os.getcwd(), ".bench_work")
    out_dir = os.path.join(work_root, "out")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    common.remove_tree(work)
    common.prepare_env(work)
    tracer = tracing.Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    spark = None
    try:
        spark, spark_s = common.start_spark()
        pid = common.jvm_pid(spark)
        if tracer is not None:
            tracer.attach(spark)
        outcome = common.Outcome(tracer=tracer)
        importlib.import_module(args.workload).run(
            spark, work, args.seed, args.seconds, outcome
        )
        rss = common.peak_rss_mb(pid)
        machine = common.machine_record(spark)
    except Exception:  # noqa: BLE001 - report the crash, print no result
        traceback.print_exc()
        return 1
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            common.stop_spark(spark)
        common.remove_tree(work)

    ops_per_s = outcome.timed_ops / outcome.timed_s if outcome.timed_s else 0.0
    overhead = None
    if args.trace:
        names = tracing.per_layer_names(KEYS)
        values = tracer.metrics(names)
        values["process.peak_rss_mb"] = rss
        values["trace.ops_per_s"] = ops_per_s
        base = _untraced_rate(out_dir, args.workload, args.seed, args.seconds)
        overhead = ops_per_s / base if base else None
    else:
        names = END_TO_END
        values = {
            "setup_s": spark_s + outcome.setup_s,
            "ops_per_s": ops_per_s,
            "p50_ms": common.p50(outcome.latencies.get(outcome.primary, [])),
        }
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names.items()}
    correct = outcome.correct and outcome.failed == 0
    result = {
        "correct": correct,
        "attempted": max(outcome.attempted, 1),
        "failed": outcome.failed,
        "metrics": metrics,
    }
    record = {
        **result,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "machine": machine,
        "host_timed": outcome.host,
        "get_spark_s": spark_s,
        "setup_after_spark_s": outcome.setup_s,
        "peak_rss_mb": rss,
        "timed_s": outcome.timed_s,
        "timed_ops": outcome.timed_ops,
        "primary_kind": outcome.primary,
        "latency": _latency_summary(outcome.latencies),
        "latencies_ms": {k: [round(x, 1) for x in v] for k, v in outcome.latencies.items()},
        "problems": outcome.problems,
        "extra": outcome.extra,
        "trace_overhead": overhead,
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    common.write_json(os.path.join(out_dir, f"result-{tag}.json"), record)
    if tracer is not None:
        common.write_json(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"), tracer.dump())
    print(
        json.dumps(
            {k: record[k] for k in ("machine", "host_timed", "latency", "problems", "trace_overhead")},
            default=str,
        ),
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
