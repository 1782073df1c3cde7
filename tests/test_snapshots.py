"""Snapshot-based incremental read (Iceberg incremental-scan analog): a
consumer that saw snapshot S reconstructs the current store from
(its old copy) − (replaced partitions) + (appended files) + (replaced
partitions re-read) — never re-reading committed data it already has."""

import tempfile

from pyspark.sql import functions as F

from ictspark import checkpoint as CK
from ictspark import io, snapshots as SN


def test_snapshot_reconstruction_exact(spark, smoke_sf_dir):
    """Full multiset reconstruction: old copy (with day column) minus replaced
    days, plus appended rows, plus replaced-partition re-reads == new store."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    max_day = t.select(F.max(F.to_date("ts")).alias("d")).first()["d"]
    is_open = F.to_date("ts") == F.lit(max_day)
    early = t.where(~is_open | (F.crc32("conv_id") % 2 == 0))
    with tempfile.TemporaryDirectory() as d:
        out, ck = f"{d}/out", f"{d}/ck"
        CK.run_incremental(spark, early, tool_dim, out, ck)
        log = SN.SnapshotLog(ck)
        s = log.current_id()
        old_copy = CK.read_all_routed(spark, out).withColumn(
            "day", F.col("day").cast("string")
        ).cache()
        old_copy.count()
        CK.run_incremental(spark, t, tool_dim, out, ck)
        appended, replaced = SN.changes_since(spark, out, log, s)
        # the open-day rewrite must surface as a REPLACE, not an append
        assert str(max_day) in replaced
        keep = old_copy.where(~F.col("day").isin(replaced))
        parts = [keep]
        if appended is not None:
            parts.append(appended.withColumn("day", F.col("day").cast("string")))
        repl = SN.read_replaced_partitions(spark, out, replaced)
        if repl is not None:
            parts.append(repl.withColumn("day", F.col("day").cast("string")))
        recon = parts[0]
        for p in parts[1:]:
            recon = recon.unionByName(p.select(*recon.columns))
        now = CK.read_all_routed(spark, out).withColumn("day", F.col("day").cast("string"))
        assert recon.count() == now.count()
        assert recon.exceptAll(now).count() == 0
        old_copy.unpersist()


def test_append_only_range_has_no_replaces(spark, smoke_sf_dir):
    """commit_open_day ingests are append-only: every snapshot in the range
    is an append and the appended files alone reproduce the whole store."""
    t = io.load_transcripts(spark, smoke_sf_dir)
    tool_dim, _ = io.load_dims(spark, smoke_sf_dir)
    with tempfile.TemporaryDirectory() as d:
        out, ck = f"{d}/out", f"{d}/ck"
        CK.run_incremental(spark, t, tool_dim, out, ck, commit_open_day=True)
        log = SN.SnapshotLog(ck)
        appended, replaced = SN.changes_since(spark, out, log, 0)
        assert replaced == []
        assert appended is not None
        assert appended.count() == CK.read_all_routed(spark, out).count()
        # snapshot ids are strictly monotonic, one per committed day
        ids = [e["snapshot_id"] for e in log.entries()]
        assert ids == sorted(ids) and len(ids) == len(set(ids))
