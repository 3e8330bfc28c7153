"""Traced runs: spans around calls into the program's layers, Spark jobs
attributed to ops, and the per-layer metrics derived from them.

Spans are recorded from this file only, by replacing the public entry
points of each layer with a timing wrapper for the life of a
:class:`Tracer` (``install``/``uninstall``).  Spans stay in memory and
are written out once, when the run ends.

Spark jobs come from the JVM status store.  They are attributed to the
op whose submission window holds them: the client is closed-loop, so
every job submitted between an op's start and end belongs to it.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from dataclasses import dataclass, field

from common import OP_KINDS, cpu_s, jvm_pid, p50, tail

ENDPOINTS = ("get_table", "get_table_history", "merge_to_table", "delete_from_table")
TABLE_METHODS = ("merge", "delete", "read", "history", "latest_version")
#: (module, class or None for a module function, function, span name)
_TARGETS = (
    ("delta_lake_play_spark.session", None, "get_spark", "session.get_spark"),
    *(
        ("delta_lake_play_spark.serving.handlers", "NamesTableService", m, f"handler.{m}")
        for m in ENDPOINTS
    ),
    *(
        ("delta_lake_play_spark.table.versioned", "VersionedTable", m, f"table.{m}")
        for m in TABLE_METHODS
    ),
    ("delta_lake_play_spark.table.delta_log", None, "sync", "delta_log.sync"),
    ("delta_lake_play_spark.table.delta_log", None, "_write_checkpoint", "delta_log.checkpoint"),
)
COMMIT_KINDS = ("merge", "delete")


def per_layer_names(batch_keys: tuple[str, ...]) -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    names = {"session.get_spark_s": "s", "serving.http_ms_p50": "ms"}
    names.update({f"serving.handler_self_ms_p50.{e}": "ms" for e in ENDPOINTS})
    names.update({f"table.{m}_ms_p50": "ms" for m in TABLE_METHODS})
    names.update(
        {
            "table.files_added_per_commit": "count",
            "table.files_removed_per_commit": "count",
            "table.bytes_written_per_changed_row": "B",
            "table.log_bytes_per_commit": "B",
            "table.space_amp": "ratio",
            "table.stored_mb": "MB",
            "delta_log.sync_ms_p50": "ms",
            "delta_log.sync_share_of_commit": "ratio",
            "delta_log.checkpoint_ms_p50": "ms",
            "delta_log.checkpoints": "count",
            "delta_log.bytes_per_commit": "B",
        }
    )
    for kind in OP_KINDS:
        names[f"spark.jobs_per_op.{kind}"] = "count"
        names[f"spark.tasks_per_op.{kind}"] = "count"
        names[f"spark.executor_run_ms_per_op.{kind}"] = "ms"
        names[f"spark.shuffle_bytes_per_op.{kind}"] = "B"
        names[f"spark.driver_gap_ms_p50.{kind}"] = "ms"
    for key in batch_keys:
        names[f"queries.{key}.build_ms_p50"] = "ms"
        names[f"queries.{key}.action_ms_p50"] = "ms"
    names["cache.leftover_blocks"] = "count"
    names["process.cpu_ms_per_op"] = "ms"
    names["process.peak_rss_mb"] = "MB"
    for kind in OP_KINDS:
        names[f"op.{kind}.ms_p50"] = "ms"
        names[f"op.{kind}.ms_tail"] = "ms"
        names[f"op.{kind}.samples"] = "count"
    names["trace.ops_per_s"] = "1/s"
    return names


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    thread: int = 0
    phase: str = "setup"
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total * 1000.0


class JobCursor:
    """Reads the Spark jobs submitted since the last call, from the
    status store, after draining the listener bus so every job that
    ended is recorded."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next = 0
        self.take()

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def take(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        jobs, seen_stages = [], set()
        while (jd := self._job(self._next)) is not None:
            self._next += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
            run_ms = shuffle = 0
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                run_ms += st.executorRunTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
            jobs.append(
                {
                    "id": jd.jobId(),
                    "t0": t0,
                    "t1": t1,
                    "tasks": jd.numCompletedTasks(),
                    "run_ms": run_ms,
                    "shuffle_bytes": shuffle,
                }
            )
        return jobs

    def cached_blocks(self) -> int:
        """Cached RDD blocks held right now."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(int(i.numCachedPartitions()) for i in infos)


class Tracer:
    """Spans, op records and counters of one traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.counts: dict[str, int] = {}
        self.values: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.cursor: JobCursor | None = None
        #: "setup", "timed" or "check"; metrics use timed spans and ops only
        self.phase = "setup"

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **attrs) -> Span:
        stack = self._stack()
        span = Span(
            next(self._ids),
            stack[-1] if stack else None,
            name,
            time.time(),
            thread=threading.get_ident(),
            phase=self.phase,
            attrs=attrs,
        )
        stack.append(span.sid)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.time()
        self._stack().pop()
        self.spans.append(span)

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            span = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, name in _TARGETS:
            mod = importlib.import_module(mod_name)
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, attr)
            self._patched.append((target, attr, orig))
            setattr(target, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._patched):
            setattr(target, attr, orig)
        self._patched.clear()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    # -------------------------------------------------------------- ops

    def attach(self, spark) -> None:
        self.cursor = JobCursor(spark)
        self._pid = jvm_pid(spark)

    def op_begin(self) -> None:
        self.cursor.take()  # jobs of set-up or probes belong to no op
        self._cpu0 = cpu_s(self._pid)

    def op_end(self, kind: str, t0: float, t1: float, **attrs) -> None:
        cpu_ms = (cpu_s(self._pid) - self._cpu0) * 1000.0
        jobs = self.cursor.take()
        busy = _union_ms([(j["t0"], j["t1"]) for j in jobs], t0, t1)
        rec = {
            "kind": kind,
            "t0": t0,
            "t1": t1,
            "ms": (t1 - t0) * 1000.0,
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "run_ms": sum(j["run_ms"] for j in jobs),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "driver_gap_ms": max((t1 - t0) * 1000.0 - busy, 0.0),
            "cpu_ms": cpu_ms,
            "phase": self.phase,
            **attrs,
        }
        self.ops.append(rec)
        self.count(f"jobs.{kind}", len(jobs))
        if "key" in attrs:
            self.count(f"jobs.{kind}.{attrs['key']}", len(jobs))

    # --------------------------------------------------------- metrics

    def _by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase == "timed"]

    def _self_ms(self, span: Span) -> float:
        kids = [(c.t0, c.t1) for c in self.spans if c.parent == span.sid]
        return span.ms - _union_ms(kids, span.t0, span.t1)

    def metrics(self, names: dict[str, str]) -> dict[str, float]:
        m = {name: 0.0 for name in names}
        m.update({k: v for k, v in self.values.items() if k in m})
        gs = [s for s in self.spans if s.name == "session.get_spark"]
        if gs:
            m["session.get_spark_s"] = gs[0].ms / 1000.0
        timed_ops = [o for o in self.ops if o["phase"] == "timed"]
        handlers = [s for s in self.spans if s.name.startswith("handler.") and s.phase == "timed"]
        for ep in ENDPOINTS:
            m[f"serving.handler_self_ms_p50.{ep}"] = p50(
                [self._self_ms(s) for s in handlers if s.name == f"handler.{ep}"]
            )
        http = []
        for req in self._by_name("client.request"):
            inside = [h for h in handlers if req.t0 <= h.t0 and h.t1 <= req.t1]
            if inside:
                http.append(req.ms - inside[0].ms)
        m["serving.http_ms_p50"] = p50(http)
        for meth in TABLE_METHODS:
            m[f"table.{meth}_ms_p50"] = p50([s.ms for s in self._by_name(f"table.{meth}")])
        commits = [o for o in self.ops if o["kind"] in COMMIT_KINDS]  # counts cover every commit
        if commits:
            n = len(commits)
            changed = sum(o.get("changed_rows", 0) for o in commits)
            m["table.files_added_per_commit"] = self.counts.get("files_added", 0) / n
            m["table.files_removed_per_commit"] = self.counts.get("files_removed", 0) / n
            m["table.bytes_written_per_changed_row"] = (
                self.counts.get("bytes_written", 0) / changed if changed else 0.0
            )
            m["table.log_bytes_per_commit"] = self.counts.get("log_bytes", 0) / n
            m["delta_log.bytes_per_commit"] = self.counts.get("delta_log_bytes", 0) / n
            syncs = self._by_name("delta_log.sync")
            commit_ms = sum(
                s.ms for k in COMMIT_KINDS for s in self._by_name(f"table.{k}")
            )
            m["delta_log.sync_ms_p50"] = p50([s.ms for s in syncs])
            m["delta_log.sync_share_of_commit"] = (
                sum(s.ms for s in syncs) / commit_ms if commit_ms else 0.0
            )
        cps = [s for s in self.spans if s.name == "delta_log.checkpoint"]
        m["delta_log.checkpoint_ms_p50"] = p50([s.ms for s in cps])
        m["delta_log.checkpoints"] = float(len(cps))
        for kind in OP_KINDS:
            ops = [o for o in timed_ops if o["kind"] == kind]
            if not ops:
                continue
            n = len(ops)
            m[f"spark.jobs_per_op.{kind}"] = sum(o["jobs"] for o in ops) / n
            m[f"spark.tasks_per_op.{kind}"] = sum(o["tasks"] for o in ops) / n
            m[f"spark.executor_run_ms_per_op.{kind}"] = sum(o["run_ms"] for o in ops) / n
            m[f"spark.shuffle_bytes_per_op.{kind}"] = sum(o["shuffle_bytes"] for o in ops) / n
            m[f"spark.driver_gap_ms_p50.{kind}"] = p50([o["driver_gap_ms"] for o in ops])
            lat = [o["ms"] for o in ops]
            m[f"op.{kind}.ms_p50"] = p50(lat)
            t = tail(lat)
            m[f"op.{kind}.ms_tail"] = t[0] if t else 0.0
            m[f"op.{kind}.samples"] = float(n)
        for name in names:
            if name.startswith("queries."):
                _, key, what = name.split(".", 2)
                field_ = what.split("_ms")[0] + "_ms"
                m[name] = p50([o[field_] for o in timed_ops if o.get("key") == key])
        m["cache.leftover_blocks"] = float(self.counts.get("leftover_blocks", 0))
        if timed_ops:
            m["process.cpu_ms_per_op"] = sum(o["cpu_ms"] for o in timed_ops) / len(timed_ops)
        return m

    def dump(self) -> dict:
        counts = dict(self.counts)
        counts["checkpoints"] = sum(s.name == "delta_log.checkpoint" for s in self.spans)
        return {
            "spans": [s.__dict__ for s in self.spans],
            "ops": self.ops,
            "counts": dict(sorted(counts.items())),
        }


def table_files(path: str) -> dict[str, int]:
    """Data files under a table directory (relative path -> bytes),
    leaving out both commit logs."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in ("_log", "_delta_log")]
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def _tree_bytes(d: str, skip_checkpoints: bool = False) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not (skip_checkpoints and ".checkpoint." in f):
                total += os.path.getsize(os.path.join(root, f))
    return total


def log_bytes(path: str, sub: str) -> int:
    """Bytes of a commit log directory, leaving out checkpoint parquet:
    it stores file modification times, so its compressed size differs
    by a few bytes between two runs of the same ops."""
    return _tree_bytes(os.path.join(path, sub), skip_checkpoints=True)


class TableProbe:
    """Per-commit file and log counts of one table, read from disk and
    from the table's public ``files_df`` around each op."""

    def __init__(self, tracer: Tracer, spark, path: str) -> None:
        self.tracer, self.spark, self.path = tracer, spark, path

    def _live(self) -> set[str]:
        from delta_lake_play_spark.table.versioned import VersionedTable

        rows = VersionedTable(self.spark, self.path).files_df().select("path").collect()
        return {r.path for r in rows}

    def before(self) -> None:
        self._files = table_files(self.path)
        self._log = log_bytes(self.path, "_log")
        self._dlog = log_bytes(self.path, "_delta_log")
        self._live0 = self._live()

    def after(self) -> None:
        files = table_files(self.path)
        added = [p for p in files if p not in self._files]
        t = self.tracer
        t.count("commits")
        t.count("files_added", len(added))
        t.count("bytes_written", sum(files[p] for p in added))
        t.count("files_removed", len(self._live0 - self._live()))
        t.count("log_bytes", log_bytes(self.path, "_log") - self._log)
        t.count("delta_log_bytes", log_bytes(self.path, "_delta_log") - self._dlog)

    def finish(self) -> None:
        """Stored size and space amplification at the end of the run."""
        files = table_files(self.path)
        live = self._live()
        live_bytes = sum(b for p, b in files.items() if p in live)
        stored = _tree_bytes(self.path)
        self.tracer.values["table.stored_mb"] = stored / 1e6
        self.tracer.values["table.space_amp"] = stored / live_bytes if live_bytes else 0.0
