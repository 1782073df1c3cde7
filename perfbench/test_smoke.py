"""Smoke test of the benchmark itself: every workload at a tiny size, plain
and traced, with the printed metric names checked against BENCHMARK.json,
plus its refusal to run outside a full checkout.

    python3 -m pytest perfbench/test_smoke.py -q      # ~5 min on 4 CPUs
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, root: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--scale", "0.05",
    ]
    return subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    return res


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    res = _result(_run(workload, 0))
    assert list(res["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload):
    res = _result(_run(workload, 1))
    assert list(res["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    assert res["metrics"]["trace.coverage"]["value"] >= 0.9
    path = os.path.join(ROOT, ".perfbench_work", "trace", f"{workload}-seed7.jsonl")
    with open(path) as f:
        lines = [json.loads(line) for line in f]
    spans = lines[:-1]
    assert {"name", "start", "end", "parent", "iteration", "wall_s", "self_s", "plan_ms",
            "exec_run_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "tasks", "failed_tasks"} <= set(spans[0])
    assert sum(s["jobs"] for s in spans) > 0
    assert lines[-1]["summary"]["trace.coverage"] >= 0.9


def test_report_names_match_reportset(tmp_path):
    from pyspark.sql import SparkSession

    sys.path.insert(0, ROOT)
    from ictspark import io
    from ictspark.pipeline import ReportSet
    from perfbench import inputs
    from perfbench.workloads import REPORTS

    inp = inputs.transcripts(str(tmp_path), seed=3, n_convs=10, n_files=1)
    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        t = io.load_transcripts(spark, inp.dir)
        tool_dim, _ = io.load_dims(spark, inp.dir)
        assert tuple(ReportSet(t, tool_dim).all_reports()) == REPORTS
    finally:
        spark.stop()


def test_refuses_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(WORKLOADS[0], 0, root=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
