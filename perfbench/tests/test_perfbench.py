"""Self-tests of the benchmark: tiny sf0.001 runs of one query.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each test starts one fresh Spark driver through perfbench/run.py, so the
module takes a few minutes. They are not part of the engine's tier-1
suite (``tests/``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from worker import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
E2E = {
    "setup_s",
    "first_pass_s",
    "op_p50_s",
    "op_tail_s",
    "ops_per_s",
    "op_error_ratio",
    "peak_rss_mb",
    "heap_live_mb",
}


def run(workload: str, trace: int, *extra: str, root: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload]
    cmd += ["--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001", *extra]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd="/")


def result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_benchmark_metric_is_printed(workload, trace):
    record, last = result(run(workload, trace, "--queries", WORKLOADS[workload][0]))
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    assert last["attempted"] == 2  # one first-pass and one steady op
    listed = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == listed
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
    assert set(record["end_to_end"]) == E2E
    assert record["end_to_end"]["op_error_ratio"] == {"value": 0.0, "unit": "ratio"}
    assert record["spark_master"] == f"local[{len(os.sched_getaffinity(0))}]"


def test_planted_fingerprint_mismatch_counts_as_failed_op():
    record, last = result(run("catalog", 0, "--queries", "scan_parquet", "--plant-mismatch"))
    assert last["correct"] is False and last["failed"] == 1 and last["attempted"] == 2
    assert record["end_to_end"]["op_error_ratio"]["value"] == 0.5
    steady = [op for op in record["ops"] if op["phase"] == "steady"]
    assert steady[0]["error"].startswith("fingerprint")


def test_streaming_layer_is_read_on_ingest():
    _, last = result(run("ingest", 1, "--queries", "stream_tumbling_counts"))
    m = {k: v["value"] for k, v in last["metrics"].items()}
    assert m["streaming.batches"] >= 1 and m["streaming.input_rows"] > 0
    assert m["streaming.sink_views_alive"] >= 1
    assert m["spark.jobs"] >= 1 and m["spark.tasks"] >= m["spark.stages"] >= 1


def test_python_edge_layer_is_read_on_catalog():
    assert "udf_regex_python_only" in WORKLOADS["catalog"]
    _, last = result(run("catalog", 1, "--queries", "udf_regex_python_only"))
    m = {k: v["value"] for k, v in last["metrics"].items()}
    assert m["python.total_ms"] > 0 and m["python.rows_received"] > 0
    assert m["python.bytes_sent"] > 0 and m["python.bytes_received"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = run("catalog", 0, root=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout == ""
