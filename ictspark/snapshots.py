"""Snapshot-based incremental read over the routed store (SURVEY S3's TRUE
analog; VERDICT r02 item 2).

The reference's AutoUpdate scans only logs newer than its watermark
(/root/reference/src/main.rs:111-137). Iceberg's mechanism for the same need
is stronger than a timestamp predicate: every commit creates a SNAPSHOT whose
manifests enumerate exactly the data files that commit added, and an
incremental read (``start-snapshot-id`` → current) unions those files —
change detection by COMMIT LINEAGE, not by data-column predicates. A
``ts > watermark`` scan can miss late-arriving rows carrying old timestamps;
file-lineage incremental read cannot: whatever bytes a commit added are what
the reader sees, exactly once.

The Iceberg runtime jar is absent in this offline sandbox (fetch attempt
documented in ICEBERG.md), so this module implements the same CONTRACT on the
parquet store: ``_snapshots.jsonl`` (append-only, torn-tail tolerant, beside
the lineage log) records per committed write the day partition, the files
added, and the operation (``append`` for a day's first write, ``replace``
for the open-day rewrite). ``changes_since`` mirrors Iceberg's incremental
scan semantics, including the REPLACE restriction: Iceberg's incremental
append scan refuses ranges containing overwrite snapshots, so replaced
partitions are returned separately for a full partition re-read instead of
being silently mixed into the append stream.

With the jar present the module is obsolete: the routed write becomes an
Iceberg table and consumers use
``spark.read.format("iceberg").option("start-snapshot-id", s).load(tbl)``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from ictspark.checkpoint import append_jsonl


class SnapshotLog:
    """Append-only snapshot journal (written through checkpoint.append_jsonl,
    like checkpoint.Lineage; a torn final line is skipped — its write simply
    re-records on retry, and ids stay monotonic)."""

    def __init__(self, ck_dir: str) -> None:
        os.makedirs(ck_dir, exist_ok=True)
        self.path = os.path.join(ck_dir, "_snapshots.jsonl")
        # incremental journal parse: entries() re-reads only bytes appended
        # since the last call (stat + seek), so appends stay O(1) amortized
        # AND a long-lived READER instance still sees commits made by the
        # writer (a whole-journal memo would go stale across instances).
        # Concurrency contract (same as Lineage): ONE writer per checkpoint
        # dir — the ingest driver — plus any number of readers; record()'s
        # EOF resync assumes no other writer appends concurrently.
        self._cache: list[dict] = []
        self._offset = 0

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            self._cache, self._offset = [], 0
            return self._cache
        size = os.path.getsize(self.path)
        if size < self._offset:  # journal replaced/truncated — full re-parse
            self._cache, self._offset = [], 0
        if size > self._offset:
            with open(self.path, "rb") as f:
                f.seek(self._offset)
                chunk = f.read()
            consumed = 0
            for raw in chunk.splitlines(keepends=True):
                if not raw.endswith(b"\n"):
                    break  # torn/in-flight tail: leave unconsumed for later
                consumed += len(raw)
                s = raw.strip()
                if not s:
                    continue
                try:
                    self._cache.append(json.loads(s))
                except json.JSONDecodeError:
                    continue  # torn line that later got a newline appended
            self._offset += consumed
        return self._cache

    def current_id(self) -> int:
        return max((e["snapshot_id"] for e in self.entries()), default=0)

    def seen_partitions(self) -> set[str]:
        return {e["partition"] for e in self.entries()}

    def record(self, partition: str, files: list[str], operation: str) -> int:
        sid = self.current_id() + 1
        rec = {
            "snapshot_id": sid,
            "partition": partition,
            "operation": operation,
            "added_files": files,
            "at": time.time(),
        }
        append_jsonl(self.path, rec)  # heals a torn tail before appending
        # current_id() above primed the cache; account for our own append so
        # the next entries() doesn't double-read it. Resync the offset to EOF:
        # it may have been sitting BEFORE an unconsumed torn tail, which our
        # newline just closed (the skipped garbage line is now behind us).
        self._cache.append(rec)
        self._offset = os.path.getsize(self.path)
        return sid


def _day_files(out_dir: str, day: str) -> list[str]:
    """Data files of one day partition, relative to out_dir (route_key
    subdirs included)."""
    root = os.path.join(out_dir, f"day={day}")
    files: list[str] = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files.append(os.path.relpath(os.path.join(dirpath, n), out_dir))
    return sorted(files)


def snapshot_day_write(log: SnapshotLog, out_dir: str, day: str) -> int:
    """Record one committed day write as a snapshot. First write of a day is
    an ``append``; any rewrite (the still-open day, reprocessed each cycle)
    is a ``replace`` — Iceberg's REPLACE-partition commit."""
    op = "replace" if day in log.seen_partitions() else "append"
    return log.record(day, _day_files(out_dir, day), op)


def changes_since(
    spark: SparkSession, out_dir: str, log: SnapshotLog, after_snapshot_id: int
) -> tuple[DataFrame | None, list[str]]:
    """Iceberg incremental-scan semantics: returns (appended_rows,
    replaced_days) for snapshots in (after_snapshot_id, current].

    appended_rows — the rows of files added by pure-append snapshots in the
    range (None if none). replaced_days — day partitions touched by a
    ``replace`` snapshot in the range; their pre-replace files are gone from
    disk, so (exactly like Iceberg, which refuses incremental scans across
    overwrite snapshots) the consumer must re-read those partitions in full
    — ``read_replaced_partitions`` below. A day that was appended AND later
    replaced within the range appears only in replaced_days.

    Consumer race caveat (ADVICE r03): the existence check below and the
    consumer's Spark action are not atomic — a writer's open-day rewrite in
    between deletes the checked files and fails the lazy read. The
    single-writer contract makes the window the poll interval, not zero:
    consumers running BESIDE a live poll loop must catch the read failure and
    re-call changes_since (the rewrite has then journaled its REPLACE, so the
    partition degrades to the full-re-read path) — job.cmd_changes does
    exactly this."""
    snaps = [e for e in log.entries() if e["snapshot_id"] > after_snapshot_id]
    replaced = {e["partition"] for e in snaps if e["operation"] == "replace"}
    added: list[str] = []
    for e in snaps:
        if e["operation"] != "append" or e["partition"] in replaced:
            continue
        files = e["added_files"]
        if all(os.path.exists(os.path.join(out_dir, f)) for f in files):
            added.extend(files)
        else:
            # an append snapshot whose files are gone means a rewrite happened
            # without (yet) recording its replace snapshot — a crashed rewrite
            # window. Degrade exactly as Iceberg's refuse-overwrite rule does:
            # hand the partition to the full-re-read path instead of erroring
            # on a dead file list.
            replaced.add(e["partition"])
    appended = None
    if added:
        appended = spark.read.option("basePath", out_dir).parquet(
            *[os.path.join(out_dir, f) for f in added]
        )
    return appended, sorted(replaced)


def read_replaced_partitions(
    spark: SparkSession, out_dir: str, days: list[str]
) -> DataFrame | None:
    """Current full contents of the given day partitions (a replaced day that
    lost every row to dedupe has no dir — skipped, correctly contributing
    zero rows)."""
    paths = [
        os.path.join(out_dir, f"day={d}")
        for d in days
        if os.path.isdir(os.path.join(out_dir, f"day={d}"))
    ]
    if not paths:
        return None
    return spark.read.option("basePath", out_dir).parquet(*paths)
