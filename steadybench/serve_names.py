"""``serve_names``: the reference's own use, one closed-loop HTTP client
against the five endpoints of ``serving.http_server`` over the names
table.

The service is built as the reference deploys it: its table keeps the
Delta log (``NamesTableService(delta_mirror=True)``, the composition
in which delta-spark writes ``_delta_log`` under every endpoint DML),
served through ``http_server.make_handler`` on a threading HTTP server.

About three quarters of the requests are ``POST /get_table`` (latest,
as of a version, as of a timestamp); a few read the history; the rest
are 20-row MERGE batches (half existing ids) and small DELETEs.  The
data stays tiny, so the fixed cost per request is what is measured:
Spark jobs per commit, both commit logs and their checkpoints, py4j
and HTTP.
"""

from __future__ import annotations

import http.client
import json
import os
import time
from http.server import ThreadingHTTPServer
from threading import Thread

import numpy as np

from common import Outcome

#: One cycle of the timed sequence.  The kinds and their order are the
#: same for every seed (the seed picks only ids, names and versions), so
#: every run does the same work: 12 reads (latest, as of a version, as of
#: a timestamp), 2 MERGEs, 1 DELETE and 1 history call, a read after
#: every write.
CYCLE = ("get_latest", "get_version", "merge", "get_timestamp",
         "get_latest", "get_version", "history", "get_timestamp",
         "get_latest", "get_version", "merge", "get_timestamp",
         "get_latest", "get_version", "delete", "get_timestamp")
#: Seconds one cycle takes on a 4-core host; sets the number of timed
#: cycles from ``--seconds``.
CYCLE_S = 7.0
KIND = {"get_latest": "read", "get_version": "read", "get_timestamp": "read",
        "history": "history", "merge": "merge", "delete": "delete"}
#: One untimed cycle covers every op kind (history first, so timestamp
#: reads have timestamps to pick from), then a stretch of reads: the read
#: path keeps getting faster for its first few dozen calls as the JVM
#: compiles it.  With its three commits, three timed cycles hold the
#: tenth commit, a checkpoint commit (every
#: ``delta_log._CHECKPOINT_EVERY``-th), for every seed.
WARMUP = ("hello", "history") + CYCLE + ("get_latest", "get_version", "get_timestamp") * 4
FIRST = ["James", "Alice", "Joe", "Eve", "Mia", "Noah", "Liam", "Ava", "Zoe", "Ivan"]
LAST = ["Bond", "Rogers", "Bloggs", "Adams", "Smith", "Khan", "Lee", "Diaz", "Ng", "Moss"]


def name_row(rng: np.random.Generator, key: int) -> dict:
    """One ``names`` row for id ``key``."""
    return {
        "id": int(key),
        "firstname": FIRST[int(rng.integers(len(FIRST)))],
        "lastname": LAST[int(rng.integers(len(LAST)))],
    }


class Client:
    """One closed-loop client; keeps a dict model of every version from
    the acknowledged writes."""

    def __init__(self, port: int, seed: int, tracer=None) -> None:
        self.port = port
        self.rng = np.random.default_rng([seed, 12])
        self.tracer = tracer
        from delta_lake_play_spark.serving.handlers import SEED_ROWS

        self.versions: list[dict[int, tuple[str, str]]] = [
            {i: (first, last) for i, first, last in SEED_ROWS}
        ]
        self.timestamps: dict[int, str] = {}
        self.next_id = 1000
        self.reads: list[tuple[int, dict]] = []  # (expected version, response)

    def request(self, method: str, path: str, body: dict | None = None) -> dict:
        span = self.tracer.begin("client.request", path=path) if self.tracer else None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                payload = json.dumps(body).encode() if body is not None else None
                headers = {"Content-Type": "application/json"} if payload else {}
                conn.request(method, path, body=payload, headers=headers)
                resp = conn.getresponse()
                data = json.loads(resp.read().decode())
            finally:
                conn.close()
        finally:
            if span is not None:
                self.tracer.end(span)
        if resp.status != 200:
            raise RuntimeError(f"{method} {path} -> {resp.status}: {data}")
        return data

    # ---------------------------------------------------------- op payloads

    def payload(self, op: str):
        """(method, path, body, expected read version or None, changed rows)."""
        latest = len(self.versions) - 1
        if op == "hello":
            return "GET", "/hello_world", None, None, 0
        if op == "history":
            return "GET", "/get_table_history", None, None, 0
        if op == "get_latest":
            return "POST", "/get_table", {"version": None}, latest, 0
        if op == "get_version":
            v = int(self.rng.integers(0, latest + 1))
            return "POST", "/get_table", {"version": v}, v, 0
        if op == "get_timestamp":
            known = sorted(self.timestamps)
            v = known[int(self.rng.integers(0, len(known)))]
            return "POST", "/get_table", {"version": self.timestamps[v]}, v, 0
        current = sorted(self.versions[-1])
        if op == "merge":
            old = self.rng.choice(current, min(10, len(current)), replace=False)
            ids = [int(i) for i in old] + list(range(self.next_id, self.next_id + 10))
            self.next_id += 10
            rows = [name_row(self.rng, i) for i in ids]
            return "PUT", "/merge_to_table", {"data": rows}, None, len(rows)
        if op == "delete":
            ids = sorted(int(i) for i in self.rng.choice(current, 2, replace=False))
            return "DELETE", "/delete_from_table", {"ids": ids}, None, 2
        raise ValueError(op)

    def apply(self, op: str, body: dict | None, expected: int | None, resp: dict) -> str | None:
        """Fold a reply into the model; returns a problem or None."""
        if op == "history":
            self.timestamps = {int(v): ts for v, ts in resp["timestamp"].items()}
            if sorted(self.timestamps) != list(range(len(self.versions))):
                return f"history lists versions {sorted(self.timestamps)}"
        elif op.startswith("get_"):
            self.reads.append((expected, resp))
        elif op in ("merge", "delete"):
            snap = dict(self.versions[-1])
            if op == "merge":
                snap.update({r["id"]: (r["firstname"], r["lastname"]) for r in body["data"]})
            else:
                for i in body["ids"]:
                    snap.pop(i, None)
            self.versions.append(snap)
            if resp.get("version") != len(self.versions) - 1:
                return f"{op} acknowledged version {resp.get('version')}, model has {len(self.versions) - 1}"
        return None

    def check_reads(self) -> list[str]:
        problems = []
        for expected, resp in self.reads:
            rows = {r["id"]: (r["firstname"], r["lastname"]) for r in resp["data"]}
            if rows != self.versions[expected]:
                problems.append(f"read of version {expected} differs from the model")
            if isinstance(resp["version"], int) and resp["version"] != expected:
                problems.append(f"read labelled {resp['version']}, expected {expected}")
        return problems


def run(spark, work: str, seed: int, seconds: int, out: Outcome) -> None:
    from delta_lake_play_spark.serving.handlers import NamesTableService
    from delta_lake_play_spark.serving.http_server import make_handler
    from delta_lake_play_spark.table import delta_log
    from delta_lake_play_spark.table.versioned import VersionedTable

    out.primary = "read"
    tracer = out.tracer
    table_dir = os.path.join(work, "names", "table")
    t0 = time.perf_counter()
    service = NamesTableService(spark, table_dir, delta_mirror=True)
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(service))
    thread = Thread(target=server.serve_forever, daemon=True)
    thread.start()
    probe = None
    if tracer is not None:
        from tracing import TableProbe

        probe = TableProbe(tracer, spark, table_dir)
    try:
        client = Client(server.server_address[1], seed, tracer)

        def one(op: str, timed: bool) -> None:
            method, path, body, expected, changed = client.payload(op)
            kind = KIND.get(op)
            commit = op in ("merge", "delete")
            if tracer is not None and kind:
                if commit:
                    probe.before()
                tracer.op_begin()
            out.attempted += 1
            w0, p0 = time.time(), time.perf_counter()
            try:
                resp = client.request(method, path, body)
            except Exception as exc:  # noqa: BLE001 - a failed request is counted, run goes on
                out.failed += 1
                out.fail(f"{op}: {exc}")
                return
            ms = (time.perf_counter() - p0) * 1000.0
            if tracer is not None and kind:
                tracer.op_end(kind, w0, time.time(), changed_rows=changed)
                if commit:
                    probe.after()
            if timed and kind:
                out.record(kind, ms)
            problem = client.apply(op, body, expected, resp)
            if problem:
                out.fail(problem)

        for op in WARMUP:
            one(op, timed=False)
        out.setup_s = time.perf_counter() - t0

        ops = CYCLE * max(1, round(seconds / CYCLE_S))
        out.start_timed()
        done = 0
        while done < len(ops) and not out.late():
            one(ops[done], timed=True)
            done += 1
        out.end_timed(done)

        # Checks, outside every timed metric.
        final = client.request("POST", "/get_table", {"version": None})
        client.reads.append((len(client.versions) - 1, final))
        for problem in client.check_reads():
            out.fail(problem)
        # A freshly opened table and the _delta_log protocol reader must
        # see the same final snapshot as the model.
        model = client.versions[-1]
        for name, df in (
            ("reopened", VersionedTable(spark, table_dir).to_df()),
            ("delta_log", delta_log.read_delta_snapshot(spark, table_dir)),
        ):
            rows = {r.id: (r.firstname, r.lastname) for r in df.collect()}
            if rows != model:
                out.fail(f"{name} snapshot differs from the model")
        out.extra["versions"] = len(client.versions)
        out.extra["reads_checked"] = len(client.reads)
        if probe is not None:
            probe.finish()
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)
