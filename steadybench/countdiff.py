#!/usr/bin/env python3
"""Compare the exact counters of two traced runs.

    python3 steadybench/countdiff.py A.json B.json

``A`` and ``B`` are trace files that ``run.py --trace 1`` leaves in
``.bench_work/out/`` (``trace-<workload>-s<seed>.json``).  For two runs
of the same workload and seed every counter must match: Spark jobs per
op kind, data files added and removed, bytes written, bytes of both
commit logs, checkpoints and cached blocks left after each query.
Prints each difference and exits 1 if there is any.
"""

from __future__ import annotations

import json
import sys


def diff(a: dict, b: dict) -> list[str]:
    out = []
    for key in sorted(set(a) | set(b)):
        if a.get(key) != b.get(key):
            out.append(f"{key}: {a.get(key)} != {b.get(key)}")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    counts = []
    for path in argv:
        with open(path) as fh:
            counts.append(json.load(fh)["counts"])
    lines = diff(*counts)
    for line in lines:
        print(line)
    print(f"{len(lines)} differing counters of {len(set(counts[0]) | set(counts[1]))}")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
