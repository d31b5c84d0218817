"""Tests of the benchmark itself (not of the package).

The end-to-end cases run each workload at sf0.001 with every output check
on, and once more per checker with a planted fault that the checker must
count as a failed operation. They start Spark, so each takes a minute:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.layers import PER_LAYER
from perfbench.lake_query import tail
from perfbench.spans import _covered

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = [sys.executable, "perfbench/run.py"]


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        RUN + list(args), cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == {"ingest_upsert", "lake_query"}
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail(list(range(10))) == (None, None)
    v, pct = tail([float(x) for x in range(20)])
    assert v == 9.0 and pct == 50.0
    assert sum(x > v for x in range(20)) == 10


def test_covered_merges_overlaps_and_clips():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert _covered([], 0, 10) == 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _bench("--workload", "lake_query", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.mark.parametrize("workload", ["ingest_upsert", "lake_query"])
def test_workload_end_to_end_is_correct(workload):
    res = _result(_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", "0", "--sf", "0.001"))
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {"setup_s", "round_cpu_s", "lake_bytes_per_row"}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload,fault", [
    ("ingest_upsert", "drop_row"),
    ("lake_query", "perturb_result"),
    ("ingest_upsert", "skip_upsert"),
])
def test_planted_fault_is_counted(workload, fault):
    proc = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", "0", "--sf", "0.001", "--fault", fault)
    res = _result(proc)
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["perfbench_detail"]
    assert res["correct"] is False and res["failed"] >= 1
    assert detail["workload_metrics"]["failed_op_ratio"] > 0


@pytest.mark.parametrize("workload,ran,idle", [
    ("ingest_upsert",
     ("sources.files.jobs", "pipeline.orchestrator.jobs", "config.state.calls",
      "sinks.writer.files_written", "sinks.txlog.merge_jobs",
      "sinks.matview.additive_refresh_jobs", "sinks.matview.recompute_refresh_jobs",
      "sinks.txlog.live_files"),
     ("catalog.jobs", "operators.jobs")),
    ("lake_query",
     ("catalog.build_jobs", "catalog.jobs", "operators.jobs", "operators.tasks"),
     ("sources.files.calls", "sinks.writer.calls", "sinks.txlog.merge_jobs",
      "sinks.matview.additive_refresh_jobs")),
])
def test_traced_run_reports_every_layer_metric(workload, ran, idle):
    res = _result(_bench("--workload", workload, "--seed", "3",
                         "--seconds", "1", "--trace", "1", "--sf", "0.001"))
    assert res["correct"] is True
    assert [k for k in res["metrics"]] == [n for n, _ in PER_LAYER]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for k in (*ran, "session.start_s", "trace.round_s", "trace.overhead_s"):
        assert m[k] > 0, k
    for k in idle:
        assert m[k] == 0, k
