"""ReportSet (shared-intermediate pipeline) must agree with the direct
per-query aggregates — same semantics, different materialization strategy."""

import pytest

from ictspark import aggregates as A
from ictspark import io, parse
from ictspark.pipeline import ReportSet


@pytest.fixture(scope="module")
def rs(spark, smoke_sf_dir):
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    r = ReportSet(t, tool_dim)
    r.materialize()
    yield r
    r.unpersist()


@pytest.fixture(scope="module")
def sa(spark, smoke_sf_dir):
    return A.with_attempt(parse.parse_steps(io.load_transcripts(spark, smoke_sf_dir))).cache()


def _same(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_yields_agree(rs, sa):
    _same(rs.yields(), A.yields(sa))


def test_hourly_agree(rs, sa):
    _same(rs.hourly_stats(), A.hourly_stats(A.runs(sa)))


def test_failure_counts_agree(rs, sa):
    _same(rs.failure_counts(), A.failure_counts(sa))


def test_mb_results_agree(rs, sa):
    _same(rs.mb_results(), A.mb_results(A.runs(sa)))


def test_failed_boards_agree(rs, sa):
    from pyspark.sql import functions as F

    _same(rs.failed_boards(), A.failed_boards(A.runs(sa), sa.where(F.col("status") != "pass")))


def test_first_fail_agree(rs, sa):
    _same(rs.first_fail(), A.first_fail(sa))


def test_time_filter_pushdown(spark, smoke_sf_dir):
    """S2/F1/F2: time-range predicates and column pruning must reach the
    parquet scan (PushedFilters + 2-column ReadSchema), so an Iceberg days(ts)
    layout prunes whole partitions from the same plan."""
    from pyspark.sql import functions as F

    from ictspark import io

    t = io.load_transcripts(spark, smoke_sf_dir)
    df = t.where((F.col("ts") >= "2024-03-02") & (F.col("ts") < "2024-03-03")).select(
        "conv_id", "ts"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(ts" in plan and "LessThan(ts" in plan
    # column pruning: scan reads only the 2 projected columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"conv_id", "ts"}


def test_error_bursts_islands(spark):
    """Planted sequence p f f f p f → 2 bursts, max 3."""
    from ictspark import aggregates as A
    from pyspark.sql import functions as F

    rows = []
    statuses = ["pass", "fail", "fail", "fail", "pass", "fail"]
    for i, st in enumerate(statuses):
        rows.append(("conv-0000-01", i, i, f"s{i}", st))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, line_no int, step string, status string"
    )
    out = A.error_bursts(df).collect()
    assert len(out) == 1
    assert out[0]["n_bursts"] == 2 and out[0]["max_burst"] == 3


def test_limit_regime_asof_semantics(spark):
    """As-of join: queries see the most recent regime at-or-before their ts;
    a query AT the change instant sees the NEW regime; queries before any
    regime get nulls."""
    from ictspark import aggregates as A
    from datetime import datetime

    def row(conv, turn, line, step, status, val, lo, nom, hi, ts):
        return (conv, "s", 1, turn, line, step, status, val, lo, nom, hi, ts, "t")

    schema = ("conv_id string, session_id string, board_idx int, turn_idx int, line_no int,"
              " step string, status string, value double, lo double, nom double, hi double,"
              " ts timestamp_ntz, tool string")
    t0 = datetime(2024, 3, 1, 10, 0, 0)
    t1 = datetime(2024, 3, 1, 11, 0, 0)
    t2 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        row("a-01", 0, 0, "r1", "pass", 5.0, 1.0, 2.0, 3.0, t0),   # regime A starts
        row("b-01", 1, 0, "r1", "pass", 6.0, 1.0, 2.0, 3.0, t1),   # still A
        row("c-01", 2, 0, "r1", "pass", 7.0, 9.0, 10.0, 11.0, t2), # regime B starts HERE
        row("d-01", 3, 0, "r1", "pass", 8.0, 9.0, 10.0, 11.0, t2), # at change instant → B
    ]
    df = spark.createDataFrame(rows, schema)
    sa = A.with_attempt(df)
    out = {r["conv_id"]: (r["regime_lo"], r["regime_since"]) for r in A.limit_regime_asof(sa).collect()}
    assert out["a-01"] == (1.0, "2024-03-01 10:00:00")
    assert out["b-01"] == (1.0, "2024-03-01 10:00:00")
    assert out["c-01"] == (9.0, "2024-03-01 12:00:00")
    assert out["d-01"] == (9.0, "2024-03-01 12:00:00")


def test_yields_materialize_leaves_no_cached_frames(spark, sa):
    """VERDICT r03 item 3: a standalone A.yields() call must not leave a
    run-grain cache in the session (one cached frame per invocation adds up
    to real cache pressure on a shared long-lived cluster session)."""
    sa.count()  # materialize the module fixture's own cache OUTSIDE the
    # measured region, so this test is order-independent under -k/xdist
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = A.yields(sa)  # lazy over the runs grain: nothing persisted
    assert out.count() > 0
    after = jsc.getPersistentRDDs().size()
    assert after == before, (before, after)


def test_yields_job_count_pinned(spark, sa):
    """Spark jobs of one standalone A.yields(sa).collect() at sf0.001, read
    from the status tracker before and after (the counting of
    test_ingest_cycle_job_count_pinned). The three yield grains read the one
    `runs` shuffle; a persist-collect-createDataFrame round trip or a second
    run grain beside `runs` adds jobs and fails here."""
    sa.count()  # the fixture cache is built outside the measured call
    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()

    def job_ids() -> set[int]:
        bus.waitUntilEmpty()
        return set(tracker.getJobIdsForGroup())

    before = job_ids()
    assert len(A.yields(sa).collect()) == 6  # {conv, session} × 3 grains
    after = job_ids()
    assert len(after - before) == 11, len(after - before)


def test_reportset_barrier_truncates_lineage(rs):
    """r10 (OPTIMIZATION_r10.md §P3): the materialized intermediates must be
    lineage-truncated leaves — with plain persist() every fresh report
    DataFrame re-paid ~0.5-1 s of catalyst analysis walking the parse+window
    plan under the cache (measured; the round's biggest headline win). The
    barrier makes steps_a a scanned RDD leaf: no Generate/posexplode (the
    parse explode) and no Window (the attempt ranking) may remain in its
    analyzed plan, and downstream report plans shrink accordingly."""
    steps_plan = rs.steps_a._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in steps_plan or "ExistingRDD" in steps_plan, steps_plan
    assert "Generate" not in steps_plan and "Window" not in steps_plan, steps_plan
    # a derived report's whole optimized plan stays small (pre-barrier:
    # hundreds of lines, plans/r10/yield_report_before.txt)
    y_plan = rs.yields()._jdf.queryExecution().optimizedPlan().toString()
    assert len(y_plan.splitlines()) < 120, len(y_plan.splitlines())


def test_shuffle_partition_heuristic():
    """Local = 1x cores (floor 16); cluster = 3x cores; env flag works."""
    import os

    from ictspark.session import shuffle_partitions_for

    assert shuffle_partitions_for(32, cluster=False) == 32
    assert shuffle_partitions_for(8, cluster=False) == 16  # floor
    assert shuffle_partitions_for(32, cluster=True) == 96
    old = os.environ.get("ICTSPARK_CLUSTER")
    try:
        os.environ["ICTSPARK_CLUSTER"] = "1"
        assert shuffle_partitions_for(32) == 96
        os.environ["ICTSPARK_CLUSTER"] = "0"
        assert shuffle_partitions_for(32) == 32
    finally:
        if old is None:
            os.environ.pop("ICTSPARK_CLUSTER", None)
        else:
            os.environ["ICTSPARK_CLUSTER"] = old
