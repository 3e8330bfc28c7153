"""Smoke tests of the benchmark itself, on tiny inputs.

    python3 -m pytest steadybench/test_smoke.py -q

Each workload runs once through ``run.main`` with its inputs shrunk;
the printed metric names and units must match ``BENCHMARK.json``, and
a corrupted result must fail the workload's output check.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import batch_queries  # noqa: E402
import run  # noqa: E402
import serve_names  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

TINY_KEYS = ("llm_text_stats", "join_multiway_star")


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Shrunk inputs, scratch files under ``tmp_path``; the environment
    and temp dir that ``run.main`` pins are restored afterwards."""
    import tempfile

    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(batch_queries, "SF", 0.001)
    monkeypatch.setattr(serve_names, "WARMUP", serve_names.WARMUP[:8])
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    env = dict(os.environ)
    yield tmp_path
    os.environ.clear()
    os.environ.update(env)


def _run(capsys, workload: str, trace: int = 0, seed: int = 3) -> dict:
    code = run.main(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                     "--trace", str(trace)])
    assert code == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


def test_benchmark_json_names_the_workloads():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == tracing.per_layer_names(
        batch_queries.KEYS
    )


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_prints_end_to_end_metrics(tiny, capsys, monkeypatch, workload):
    monkeypatch.setattr(batch_queries, "KEYS", TINY_KEYS)
    res = _run(capsys, workload)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert _units(res) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_prints_per_layer_metrics_and_exact_counts(tiny, capsys):
    res = _run(capsys, "serve_names", trace=1)
    assert res["correct"] is True
    assert _units(res) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs_per_op.merge"] > 0 and m["serving.http_ms_p50"] > 0
    assert m["delta_log.bytes_per_commit"] > 0  # the service keeps the Delta log
    assert m["cache.leftover_blocks"] == 0 and m["spark.jobs_per_op.query"] == 0
    with open(os.path.join(tiny, ".bench_work", "out", "trace-serve_names-s3.json")) as fh:
        counts = json.load(fh)["counts"]
    assert counts["commits"] > 0 and counts["jobs.read"] > 0


def test_serve_names_check_catches_a_wrong_read():
    client = serve_names.Client(port=0, seed=1)
    client.apply("get_latest", None, 0, {"version": 0, "data": [
        {"id": 1, "firstname": "James", "lastname": "Bond"},
        {"id": 2, "firstname": "Alice", "lastname": "Rogers"},
        {"id": 3, "firstname": "Joe", "lastname": "Bloggs"},
    ]})
    assert client.check_reads() == []
    client.reads[0][1]["data"][0]["lastname"] = "Smith"
    assert client.check_reads() != []


def test_batch_queries_check_catches_a_wrong_result(tiny, capsys, monkeypatch):
    monkeypatch.setattr(batch_queries, "KEYS", TINY_KEYS)
    real = batch_queries.oracle_frames

    def corrupted(sf_dir, keys):
        frames = real(sf_dir, keys)
        frames[TINY_KEYS[0]] = frames[TINY_KEYS[0]].iloc[1:]
        return frames

    monkeypatch.setattr(batch_queries, "oracle_frames", corrupted)
    res = _run(capsys, "batch_queries")
    assert res["correct"] is False


def test_run_refuses_without_the_program(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(HERE, tmp_path / "steadybench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "steadybench/run.py", "--workload", "serve_names", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
