"""``batch_queries``: a fixed ordered list of registry keys over the
star schema, documents and embeddings that ``scripts/gen_altdata.py``
generates from the seed, each forced through the noop sink, with the
cache cleared between keys.

The list holds the near-dup MinHash key, the triangle count, and one
LLM similarity, text, relational, window and stream key.  It leaves out
keys that read the memoized CDF fixture or write a table, so the
table and log layers are not exercised here.

The untimed warm-up pass also collects each key's result; after the
timed pass it is compared with the key's DuckDB oracle over the same
parquet by ``tests/parity.py``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from common import Outcome

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01
KEYS = (
    "llm_dedup_near_minhash",
    "graph_triangle_count",
    "llm_similarity_lsh",
    "llm_text_stats",
    "join_multiway_star",
    "win_row_number_topk_per_group",
    "stream_tumbling_window",
)
#: One timed pass per this many seconds of ``--seconds``, at least one.
#: A pass takes 10-14 s on a 4-core host at ``local[2]``.  The second
#: pass of a run is 10-20 % faster than the first and spreads more from
#: run to run, as the JVM is still compiling; one pass keeps a run
#: near a minute.
SECONDS_PER_PASS = 20
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def write_inputs(sf_dir: str, seed: int, sf: float) -> None:
    """The star schema, documents and embeddings at scale ``sf``."""
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "gen_altdata.py"), sf_dir, str(seed), str(sf)],
        check=True, stdout=subprocess.DEVNULL, cwd=ROOT,
    )


def oracle_frames(sf_dir: str, keys: tuple[str, ...]) -> dict:
    """Each key's DuckDB oracle result over the parquet in ``sf_dir``."""
    import duckdb

    from delta_lake_play_spark.registry import all_oracles

    oracles = all_oracles()
    con = duckdb.connect(config={"threads": 2})
    try:
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, name + '.parquet')}')"
            )
        return {k: con.execute(oracles[k]).fetchdf() for k in keys}
    finally:
        con.close()


def run(spark, work: str, seed: int, seconds: int, out: Outcome) -> None:
    from delta_lake_play_spark.registry import all_queries
    from tests import parity

    out.primary = "pass"
    tracer = out.tracer
    sf_dir = os.path.join(work, "star")
    write_inputs(sf_dir, seed, SF)
    queries = all_queries()
    missing = [k for k in KEYS if k not in queries]
    if missing:
        raise KeyError(f"registry lacks {missing}")
    got = {}

    def one(key: str, timed: bool, collect: bool = False) -> None:
        if tracer is not None:
            tracer.op_begin()
        out.attempted += 1
        w0, p0 = time.time(), time.perf_counter()
        try:
            df = queries[key](spark, sf_dir)
            p1 = time.perf_counter()
            if collect:
                got[key] = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 - a failed key is counted, run goes on
            out.failed += 1
            out.fail(f"{key}: {type(exc).__name__}: {exc}")
            spark.catalog.clearCache()
            return
        p2 = time.perf_counter()
        if tracer is not None:
            tracer.op_end(
                "query", w0, time.time(), key=key,
                build_ms=(p1 - p0) * 1000.0, action_ms=(p2 - p1) * 1000.0,
            )
            blocks = tracer.cursor.cached_blocks()
            tracer.count("leftover_blocks", blocks)
            tracer.count(f"leftover_blocks.{key}", blocks)
        spark.catalog.clearCache()
        if timed:
            out.record("query", (p2 - p0) * 1000.0)

    t0 = time.perf_counter()
    for key in KEYS:
        one(key, timed=False, collect=True)
    out.setup_s = time.perf_counter() - t0

    passes = max(1, seconds // SECONDS_PER_PASS)
    pass_ms = []
    out.start_timed()
    for _ in range(passes):
        if out.late():
            break
        p0 = time.perf_counter()
        for key in KEYS:
            one(key, timed=True)
        pass_ms.append((time.perf_counter() - p0) * 1000.0)
    out.end_timed(len(pass_ms) * len(KEYS))
    out.latencies["pass"] = pass_ms

    want = oracle_frames(sf_dir, tuple(got))
    for key, pdf in got.items():
        try:
            parity.compare(pdf, want[key], key)
        except (AssertionError, TypeError) as exc:
            out.fail(f"{key}: differs from the DuckDB oracle: {str(exc)[:300]}")
    out.extra["checked_keys"] = sorted(got)
