"""Reference-fixture parity (SURVEY.md §5.2): Spark aggregates vs the pure-Python
oracle (the ICT_logfile stand-in) on the smoke-scale transcripts."""

import os

import pytest

from ictspark import aggregates as A
from ictspark import io, parse, pyoracle


@pytest.fixture(scope="module")
def golden(smoke_dir):
    steps = pyoracle.parse_steps(os.path.join(smoke_dir, "transcripts.parquet"))
    return {
        "steps": steps,
        "yield": pyoracle.golden_yield(steps),
        "failure_counts": pyoracle.golden_failure_counts(steps),
        "hourly": pyoracle.golden_hourly(steps),
        "first_fail": pyoracle.golden_first_fail(steps),
        "limit_changes": pyoracle.golden_limit_changes(steps),
        "routes": pyoracle.golden_route_counts(steps, os.path.join(smoke_dir, "tool_dim.parquet")),
    }


@pytest.fixture(scope="module")
def steps_a(spark, smoke_sf_dir):
    sa = A.with_attempt(parse.parse_steps(io.load_transcripts(spark, smoke_sf_dir)))
    sa.cache().count()
    return sa


def test_step_count(golden, steps_a):
    assert steps_a.count() == len(golden["steps"])


def test_yields(golden, steps_a):
    rows = {(r["level"], r["grain"]): (r["ok"], r["nok"]) for r in A.yields(steps_a).collect()}
    assert rows == golden["yield"]


def test_failure_counts(golden, steps_a):
    rows = {(r["mode"], r["step"]): r["n_fail"] for r in A.failure_counts(steps_a).collect()}
    assert rows == golden["failure_counts"]


def test_hourly(golden, steps_a):
    rows = {r["hour"]: (r["ok"], r["nok"]) for r in A.hourly_stats(A.runs(steps_a)).collect()}
    assert rows == golden["hourly"]


def test_first_fail(golden, steps_a):
    rows = {r["conv_id"]: (r["step"], r["turn_idx"], r["ts"]) for r in A.first_fail(steps_a).collect()}
    assert rows == golden["first_fail"]


def test_limit_changes(golden, steps_a):
    rows = {r["step"] for r in A.limit_changes(steps_a).collect()}
    assert rows == golden["limit_changes"]
    assert len(rows) > 0  # the synth data plants ~2% changed-limit steps


def test_route_counts(spark, golden, steps_a, smoke_sf_dir):
    from ictspark import enrich

    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    rows = {
        r["route_key"]: r["n"]
        for r in enrich.enrich_steps(steps_a, tool_dim).groupBy("route_key").count().withColumnRenamed("count", "n").collect()
    }
    assert rows == golden["routes"]
    assert "misc" in rows  # test_digital is deliberately absent from tool_dim


def test_product_failures_match_pyoracle(spark, steps_a, golden, smoke_dir):
    """Third independent check of the J1 wide join: Spark == pure-Python."""
    from ictspark import enrich
    from ictspark import product_report as PR

    exp = pyoracle.golden_product_failures(
        golden["steps"], os.path.join(smoke_dir, "tool_dim.parquet")
    )
    es = enrich.enrich_steps(steps_a, spark.read.parquet(os.path.join(smoke_dir, "tool_dim.parquet")))
    got = {
        (r["route_key"], r["step"]): (r["n_fail_all"], r["n_fail_after_retest"])
        for r in PR.product_daily_failures(es).collect()
    }
    assert got == exp


def test_error_bursts_match_pyoracle(golden, steps_a):
    rows = {r["conv_id"]: (r["n_bursts"], r["max_burst"]) for r in A.error_bursts(steps_a).collect()}
    assert rows == pyoracle.golden_error_bursts(golden["steps"])
    assert rows  # the synth plants failures


def test_tool_latency_match_pyoracle(spark, smoke_dir, smoke_sf_dir):
    got = {
        r["tool"]: (r["n_calls"], r["avg_gap_s"], r["max_gap_s"])
        for r in A.tool_latency(io.load_transcripts(spark, smoke_sf_dir)).collect()
    }
    exp = pyoracle.golden_tool_latency(os.path.join(smoke_dir, "transcripts.parquet"))
    assert got == exp
