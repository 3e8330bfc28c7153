"""Shared pieces of the benchmark: environment, statistics, process and
host readings, and the per-run result record."""

from __future__ import annotations

import hashlib
import json
import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field

#: Spark runs ``local[CPUS]`` with a ``DRIVER_HEAP`` heap, and the JVM
#: sizes its GC and compiler pools for ``CPUS`` processors, whatever the
#: caller's environment says, so two hosts run the same configuration.
#: Half of a 4-core host stays free for the client, the Python side and
#: the rest of the machine: at ``local[4]`` with pools sized for four,
#: one client kept three of four cores busy.
CPUS = 2
DRIVER_HEAP = "2g"
#: Every op kind any workload runs.  Per-layer metrics are keyed by these.
OP_KINDS = ("read", "history", "merge", "delete", "query")


@dataclass
class Outcome:
    """What a workload fills in for ``run.py``: op counts, check results,
    the timed region and the latencies of its timed ops by kind."""

    tracer: object = None
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    problems: list[str] = field(default_factory=list)
    timed_s: float = 0.0
    timed_ops: int = 0
    setup_s: float = 0.0
    #: op kind -> latencies (ms) of the timed ops of that kind
    latencies: dict[str, list[float]] = field(default_factory=dict)
    #: the kind the workload's ``p50_ms`` is taken over
    primary: str = "read"
    extra: dict = field(default_factory=dict)
    host: dict = field(default_factory=dict)
    #: the timed loop stops issuing ops once it has run this long
    budget_s: float = 90.0

    def start_timed(self) -> None:
        if self.tracer is not None:
            self.tracer.phase = "timed"
        self._watch = HostWatch()
        self._t0 = time.perf_counter()

    def late(self) -> bool:
        return time.perf_counter() - self._t0 > self.budget_s

    def end_timed(self, ops: int) -> None:
        self.timed_s = time.perf_counter() - self._t0
        self.host = self._watch.finish()
        self.timed_ops = ops
        if self.tracer is not None:
            self.tracer.phase = "check"

    def fail(self, msg: str) -> None:
        self.correct = False
        self.problems.append(msg)

    def record(self, kind: str, ms: float) -> None:
        self.latencies.setdefault(kind, []).append(ms)


def prepare_env(work: str) -> None:
    """Confine scratch files to ``work`` and pin the Spark settings.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_COMMITTER_ALGO"] = "2"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:ActiveProcessorCount={CPUS}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    for var in ("PYSPARK_PYTHON", "PYSPARK_DRIVER_PYTHON", "OMP_NUM_THREADS"):
        os.environ.pop(var, None)


def start_spark():
    """``session.get_spark`` under the pinned settings; returns the
    session and its wall time in seconds."""
    from delta_lake_play_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("steadybench", cpus=CPUS)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    # The gateway is gone: let the next session in this process launch
    # a new JVM instead of reusing the dead one.
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------- statistics


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``, or None while that percentile would lie
    below the median (fewer than 20 samples)."""
    n = len(values)
    if n < 20:
        return None
    i = n - 11
    return sorted(values)[i], 100.0 * (i + 1) / n, n


# ------------------------------------------------------ process and host


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of the JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_proc_status_kb(pid, "VmHWM") + py_kb) / 1024.0


def cpu_s(pid: int) -> float:
    """User+system CPU seconds of the JVM plus this Python process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    jvm = (int(fields[11]) + int(fields[12])) / ticks
    t = os.times()
    return jvm + t.user + t.system


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded CPU task that runs none of
    the program's code (16 SHA-256 passes over 4 MiB), so a change in
    host speed shows apart from a change in the program."""
    data = bytes(range(256)) * 16384
    t0 = time.perf_counter()
    for _ in range(16):
        hashlib.sha256(data).digest()
    return (time.perf_counter() - t0) * 1000.0


class HostWatch:
    """Load average, CPU steal and host speed over a region of the run."""

    def __init__(self) -> None:
        self.probe_start = cpu_probe_ms()
        self.load_start = os.getloadavg()
        self._cpu0 = _cpu_line()

    def finish(self) -> dict:
        cpu1 = _cpu_line()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_share": round(steal / total, 4),
            "cpu_busy_share": round(1 - (delta[3] + delta[4]) / total, 4),
            "cpu_probe_ms": [round(self.probe_start, 2), round(cpu_probe_ms(), 2)],
        }


def machine_record(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "pinned_cores": sorted(os.sched_getaffinity(0)),
        "spark_master": conf.get("spark.master"),
        "driver_heap": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True, default=str)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
