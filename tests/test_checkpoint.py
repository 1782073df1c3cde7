"""Incremental/checkpoint tests (SURVEY.md §5.4): resume-from-checkpoint equals
cold run; committed partitions are not reprocessed."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ictspark import checkpoint as CK
from ictspark import enrich, io, parse
from ictspark import aggregates as A


def _cold_routed(spark, sf_dir):
    t = io.load_transcripts(spark, sf_dir).dropDuplicates(["conv_id", "turn_idx"])
    tool_dim, _ = io.load_dims(spark, sf_dir)
    return enrich.enrich_steps(parse.parse_steps(t), tool_dim)


def test_incremental_equals_cold(spark, smoke_sf_dir):
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        got = CK.read_all_routed(spark, f"{d}/out").drop("day")
        exp = _cold_routed(spark, smoke_sf_dir)
        assert got.count() == exp.count()
        assert got.select(*exp.columns).exceptAll(exp).count() == 0


@pytest.mark.parametrize("fail_after", [0, 2])
def test_resume_after_crash(spark, smoke_sf_dir, fail_after):
    """A crash between the one write and commit k+1: every day is already on
    disk, only k are committed; resume rewrites the rest exactly once."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    days = sorted(r["d"] for r in t.select(day.alias("d")).dropna().distinct().collect())
    with tempfile.TemporaryDirectory() as d:
        with pytest.raises(RuntimeError, match="injected failure"):
            CK.run_incremental(
                spark, t, tool_dim, f"{d}/out", f"{d}/ck", fail_after=fail_after
            )
        lin = CK.Lineage(f"{d}/ck")
        committed_before = lin.committed()
        assert len(committed_before) == fail_after
        assert all(os.path.isdir(f"{d}/out/day={day}") for day in days)
        # resume: must process ONLY the remaining partitions
        processed = CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        assert set(processed).isdisjoint(committed_before)
        # no partition committed twice (skipped_committed events may repeat a
        # partition — they record re-pushed input for committed days)
        parts = [e["partition"] for e in lin.entries() if e.get("status") == "committed"]
        assert len(parts) == len(set(parts))
        assert set(parts) == set(days[:-1])  # every closed day, open day not
        # final state equals cold run. Multiset equality via |A|==|B| and
        # A∖B==∅ (the reverse exceptAll trips a Spark 4.1 internal bug —
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — on this join+generate plan).
        got = CK.read_all_routed(spark, f"{d}/out").drop("day")
        exp = _cold_routed(spark, smoke_sf_dir)
        assert got.count() == exp.count()
        assert got.select(*exp.columns).exceptAll(exp).count() == 0


def test_ingest_cycle_job_count_pinned(spark, smoke_sf_dir):
    """Spark jobs of one ingest cycle over two uncommitted days, read from
    the status tracker before and after (the counting of
    test_curate_pipeline_job_count_pinned): day stats, the one partitioned
    write and the grouped footer count. A job per day fails here."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    first_two = [
        r["d"] for r in t.select(F.to_date("ts").alias("d")).dropna().distinct()
        .orderBy("d").limit(2).collect()
    ]
    two_days = t.where(F.to_date("ts").isin(first_two))
    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()

    def job_ids() -> set[int]:
        bus.waitUntilEmpty()
        return set(tracker.getJobIdsForGroup())

    with tempfile.TemporaryDirectory() as d:
        before = job_ids()
        processed = CK.run_incremental(spark, two_days, tool_dim, f"{d}/out", f"{d}/ck")
        after = job_ids()
    assert len(processed) == 2
    assert len(after - before) == 9, len(after - before)


def test_lineage_metrics(spark, smoke_sf_dir):
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        m = CK.lineage_metrics(spark, f"{d}/ck")
        rows = m.collect()
        assert all(r["rows"] > 0 and r["duration_s"] > 0 for r in rows)
        total = sum(r["rows"] for r in rows)
        exp = _cold_routed(spark, smoke_sf_dir).count()
        assert total == exp


def test_report_from_store_matches_direct(spark, smoke_sf_dir):
    """Aggregates over the incremental store == aggregates over a direct parse
    (attempt windows must be conv-scoped even when convs span day partitions)."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        sa_store = CK.report_from_store(spark, f"{d}/out")
        got = A.yields(sa_store)
        exp = A.yields(A.with_attempt(parse.parse_steps(t)))
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


def test_idempotent_rerun(spark, smoke_sf_dir):
    """Rerun reprocesses ONLY the still-open (max) day; with
    commit_open_day=True (known-complete backlog) it is a full no-op."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        first = CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        again = CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        assert len(first) > 2
        # r03: an idle rerun on content-identical input skips even the open
        # day (crc32 signature match) — nothing reprocessed, journals stop
        assert again == []
        # store unchanged by the rewrite
        got = CK.read_all_routed(spark, f"{d}/out").drop("day")
        exp = _cold_routed(spark, smoke_sf_dir)
        assert got.count() == exp.count()
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck", commit_open_day=True)
        again = CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck", commit_open_day=True)
        assert again == []


def test_open_day_late_arrivals(spark, smoke_sf_dir):
    """ADVICE r01 (high): rows arriving for the still-open day after a cycle
    committed it must NOT be dropped — the open day is rewritten next cycle."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    max_day = t.select(F.max(F.to_date("ts")).alias("d")).first()["d"]
    is_open = F.to_date("ts") == F.lit(max_day)
    # first cycle sees only half the open day's convs; second cycle sees all
    early = t.where(~is_open | (F.crc32("conv_id") % 2 == 0))
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, early, tool_dim, f"{d}/out", f"{d}/ck")
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        got = CK.read_all_routed(spark, f"{d}/out").drop("day")
        exp = _cold_routed(spark, smoke_sf_dir)
        assert got.count() == exp.count()
        assert got.select(*exp.columns).exceptAll(exp).count() == 0


@pytest.mark.parametrize("journal", ["lineage", "snapshots"])
def test_lineage_tolerates_torn_tail(spark, smoke_sf_dir, journal):
    """A crash mid-append can tear the final line of either journal (the
    lineage log or the snapshot journal); recovery must skip it (the torn
    commit reprocesses idempotently) instead of failing forever."""
    from ictspark.snapshots import SnapshotLog

    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        lin, snaps = CK.Lineage(f"{d}/ck"), SnapshotLog(f"{d}/ck")
        n_committed, n_snaps = len(lin.committed()), len(snaps.entries())
        top = snaps.current_id()
        with open(lin.path if journal == "lineage" else snaps.path, "a") as f:
            f.write('{"partition": "2024-99-99", "status": "comm')  # torn line
        assert len(lin.committed()) == n_committed  # torn line skipped
        assert len(snaps.entries()) == n_snaps
        again = CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        assert again == []  # resume works; idle open day skipped (r03)
        # the append-side heal: a record written AFTER the torn tail must not
        # glue onto it — both must stay parseable/skipped independently
        if journal == "lineage":
            lin.append({"partition": "x", "status": "open", "at": 0.0, "rows": 0,
                        "duration_s": 0.0, "mode": "t", "input_rows": 0, "input_sig": 0})
            assert any(e.get("partition") == "x" for e in lin.entries())
        else:
            sid = snaps.record("x", [], "append")
            assert sid == top + 1
            # the writer's offset resyncs past the healed tail (no re-read),
            # and a fresh reader parses the new record too
            assert [e["snapshot_id"] for e in snaps.entries()][-1] == sid
            assert len(snaps.entries()) == n_snaps + 1
            assert SnapshotLog(f"{d}/ck").entries()[-1]["partition"] == "x"


def test_cold_start_equals_cold_and_continues(spark, smoke_sf_dir):
    """A cold start over the whole backlog (one write) == cold run; lineage
    commits every closed day; a later cycle continues from the same
    checkpoint (only the open day is reprocessed)."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        processed = CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        assert len(processed) > 2
        got = CK.read_all_routed(spark, f"{d}/out").drop("day")
        exp = _cold_routed(spark, smoke_sf_dir)
        assert got.count() == exp.count()
        assert got.select(*exp.columns).exceptAll(exp).count() == 0
        lin = CK.Lineage(f"{d}/ck")
        assert lin.committed() == set(processed[:-1])  # open day not committed
        # lineage metrics homogeneous + correct totals
        m = {r["partition"]: r["rows"] for r in CK.lineage_metrics(spark, f"{d}/ck").collect()}
        assert sum(m.values()) == exp.count()
        # an incremental cycle continues the same checkpoint seamlessly —
        # and on identical input the open day's signature match skips it
        again = CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        assert again == []
        got2 = CK.read_all_routed(spark, f"{d}/out").drop("day")
        assert got2.count() == exp.count()


def test_rewrite_removes_stale_open_day_dir(spark, smoke_sf_dir):
    """ADVICE r02 (medium): a day written OPEN by an earlier cycle
    keeps stale on-disk files when a later cycle's dedupe moves all its rows to
    a newer day — dynamic partition overwrite only replaces partitions present
    in the new batch. The fix deletes uncommitted day dirs before the write, so
    the day commits rows=0 and the store holds exactly the deduped rows."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    max_day = t.select(F.max(F.to_date("ts")).alias("d")).first()["d"]
    open_rows = t.where(F.to_date("ts") == F.lit(max_day))
    replayed = open_rows.withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 DAYS"))
    with tempfile.TemporaryDirectory() as d:
        # cycle 1: max_day is the open day — written to disk, NOT committed
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        # cycle 2: every open-day key re-pushed with newer ts on a later day —
        # the dedupe empties max_day, so its cycle-1 files are stale
        t2 = t.unionByName(replayed)
        CK.run_incremental(spark, t2, tool_dim, f"{d}/out", f"{d}/ck")
        lin = CK.Lineage(f"{d}/ck")
        by_day = {e["partition"]: e for e in lin.entries() if e.get("status") == "committed"}
        assert str(max_day) in by_day
        assert by_day[str(max_day)]["rows"] == 0  # stale dir would make this non-zero
        got = CK.read_all_routed(spark, f"{d}/out").drop("day")
        from ictspark.io import dedupe_transcripts

        exp = enrich.enrich_steps(parse.parse_steps(dedupe_transcripts(t2)), tool_dim)
        assert got.count() == exp.count()  # no double-counted stale rows
        assert got.select(*exp.columns).exceptAll(exp).count() == 0


def test_skipped_committed_rows_are_observable(spark, smoke_sf_dir):
    """ADVICE r02: rows arriving for already-committed days are dropped by
    protocol; the drop must be visible as skipped_committed lineage events."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck", commit_open_day=True)
        lin = CK.Lineage(f"{d}/ck")
        assert not [e for e in lin.entries() if e.get("status") == "skipped_committed"]
        # every day now committed: a full re-push is dropped — and recorded
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck", commit_open_day=True)
        skipped = [e for e in lin.entries() if e.get("status") == "skipped_committed"]
        assert skipped
        assert sum(e["rows"] for e in skipped) == t.count()
        # the metrics surface still loads (schema-homogeneous events)
        m = CK.lineage_metrics(spark, f"{d}/ck")
        assert m.where(F.col("status") == "skipped_committed").count() == len(skipped)


def test_fully_deduped_day_commits_empty(spark, smoke_sf_dir):
    """A day whose every (conv_id, turn_idx) key reappears with a NEWER ts in
    a later day loses all rows to the dedupe; ingest must commit it
    (rows=0) instead of wedging, and the store must equal the deduped input."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    min_day = t.select(F.min(F.to_date("ts")).alias("d")).first()["d"]
    first_day = t.where(F.to_date("ts") == F.lit(min_day))
    # replay every first-day row 3 days later (newer ts wins the dedupe)
    replayed = first_day.withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 DAYS"))
    t2 = t.unionByName(replayed)
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t2, tool_dim, f"{d}/out", f"{d}/ck")
        lin = CK.Lineage(f"{d}/ck")
        by_day = {e["partition"]: e for e in lin.entries()}
        assert str(min_day) in by_day
        assert by_day[str(min_day)]["rows"] == 0
        got = CK.read_all_routed(spark, f"{d}/out").drop("day")
        from ictspark.io import dedupe_transcripts

        exp = enrich.enrich_steps(parse.parse_steps(dedupe_transcripts(t2)), tool_dim)
        assert got.count() == exp.count()


def test_idle_poll_cycles_do_not_grow_journals(spark, smoke_sf_dir):
    """Code-review r03: a 30 s poll loop on idle input must not reprocess the
    open day or append lineage/snapshot rows every cycle."""
    from ictspark import snapshots as SN

    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        # first idle cycle records one skipped_committed per committed day
        # (the poll re-lists them) — AFTER that, journals must stop growing
        assert CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck") == []
        n_lin = len(CK.Lineage(f"{d}/ck").entries())
        n_snap = len(SN.SnapshotLog(f"{d}/ck").entries())
        for _ in range(3):  # three more idle cycles
            assert CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck") == []
        assert len(CK.Lineage(f"{d}/ck").entries()) == n_lin
        assert len(SN.SnapshotLog(f"{d}/ck").entries()) == n_snap
        # a genuinely new row for the open day forces the rewrite again
        max_day = t.select(F.max(F.to_date("ts")).alias("d")).first()["d"]
        extra = t.where(F.to_date("ts") == F.lit(max_day)).limit(1).withColumn(
            "turn_idx", F.col("turn_idx") + 10000
        )
        got = CK.run_incremental(spark, t.unionByName(extra), tool_dim, f"{d}/out", f"{d}/ck")
        assert got == [str(max_day)]


def test_idle_skip_keeps_cross_day_dedupe(spark, smoke_sf_dir):
    """Code-review r03: the idle open-day skip must NOT shrink the T4 dedupe
    slice while another uncommitted day exists. A late never-seen day carrying
    OLDER-ts duplicates of open-day keys must lose them to newest-wins — which
    requires the (unchanged) open day to stay in the slice."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    max_day = t.select(F.max(F.to_date("ts")).alias("d")).first()["d"]
    open_rows = t.where(F.to_date("ts") == F.lit(max_day))
    # duplicates of open-day keys, 30 days EARLIER → a brand-new uncommitted day
    older_dupes = open_rows.withColumn("ts", F.col("ts") - F.expr("INTERVAL 30 DAYS"))
    with tempfile.TemporaryDirectory() as d:
        CK.run_incremental(spark, t, tool_dim, f"{d}/out", f"{d}/ck")
        exp = CK.read_all_routed(spark, f"{d}/out").count()
        # cycle 2: same input + the late old-day duplicates; the open day's
        # own input is unchanged (its signature matches)
        processed = CK.run_incremental(
            spark, t.unionByName(older_dupes), tool_dim, f"{d}/out", f"{d}/ck"
        )
        assert max_day.strftime("%Y-%m-%d") in processed  # open day NOT skipped
        got = CK.read_all_routed(spark, f"{d}/out").count()
        assert got == exp  # every older duplicate lost to newest-wins
        lin = CK.Lineage(f"{d}/ck")
        new_day = (max_day - __import__("datetime").timedelta(days=30)).strftime("%Y-%m-%d")
        by_day = {e["partition"]: e for e in lin.entries() if e.get("status") == "committed"}
        assert by_day[new_day]["rows"] == 0  # the duplicate day committed empty
