"""Incremental ingest with per-partition lineage + resume (SURVEY.md §2.9).

The reference's AutoUpdate is a hand-rolled micro-batch loop: poll every 30 s,
scan from `last_log − 5 s`, dedupe on push, recompute stats
(/root/reference/src/main.rs:247-310). Spark-first translation — incremental
*batch* over partition units with a checkpointed lineage log:

- unit of work = one `day` partition (the reference's date-named log dirs);
- `_lineage.jsonl` records one row per partition event: rows, duration, wall
  time — the north_rule's "per-partition lineage + metrics". It is genuinely
  append-only (O_APPEND + fsync per line), so an N-day ingest is O(N) file
  I/O;
- each cycle deletes the uncommitted day dirs, then writes every uncommitted
  day in ONE partitioned write (`partitionBy("day", "route_key")` with
  dynamic partition overwrite, so committed days on disk are untouched).
  CLOSED days are committed one at a time AFTER that write, from one grouped
  footer count; resume skips committed days and rewrites everything else —
  idempotent because uncommitted dirs are disposable and ingest dedupes on
  (conv_id, turn_idx) (T4);
- the watermark-overlap semantics (T2: rescan from last_log − 5 s): the most
  recent day present in the input is treated as STILL OPEN — it is written
  every cycle but never committed, so rows that arrive for it later are picked
  up by the next cycle's rewrite. Pass ``commit_open_day=True`` for a
  known-complete backlog where the last day should close too. Committed days
  are immutable by protocol: a row arriving for an already-committed day is
  dropped (the reference likewise never re-reads files older than its
  watermark overlap);
- dedupe on (conv_id, turn_idx) runs ONCE over the whole uncommitted slice
  (not per-day), so duplicate keys whose timestamps straddle an uncommitted
  day boundary cannot double-count.

At cluster scale the same protocol runs with Iceberg: the routed write becomes
an atomic REPLACE of the uncommitted day partitions and _lineage a table; the
driver loop stays identical.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark import enrich, parse
from ictspark import aggregates as A


class Lineage:
    """Append-only per-partition event log (one JSON line per event; O_APPEND
    + fsync — a single appended line is atomic at these sizes)."""

    def __init__(self, ck_dir: str) -> None:
        self.ck_dir = ck_dir
        os.makedirs(ck_dir, exist_ok=True)
        self.path = os.path.join(ck_dir, "_lineage.jsonl")

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        out: list[dict] = []
        with open(self.path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    # a crash mid-append can tear the FINAL line; dropping it
                    # is safe — the commit it recorded simply reprocesses
                    # (idempotent overwrite), which is the correct recovery
                    continue
        return out

    def committed(self) -> set[str]:
        return committed_partitions(self.entries())

    def append(self, rec: dict) -> None:
        append_jsonl(self.path, rec)

    def commit(self, partition: str, **metrics) -> None:
        self.append({"partition": partition, "status": "committed", "at": time.time(), **metrics})

    def mark_open(self, partition: str, **metrics) -> None:
        """Record a write of the still-open partition (NOT a commit — it will
        be rewritten next cycle)."""
        self.append({"partition": partition, "status": "open", "at": time.time(), **metrics})


def append_jsonl(path: str, rec: dict) -> None:
    """Append one JSON line to a journal (O_APPEND + fsync) — the one appender
    behind the lineage log and the snapshot journal."""
    line = (json.dumps(rec) + "\n").encode()
    # torn-tail heal: appending straight after a newline-less torn line
    # would glue this record onto it and lose both to the parser (one
    # extra idempotent reprocess cycle for lineage; snapshot-id reuse for
    # the snapshot journal). A leading newline turns the torn bytes into
    # their own (skipped) line and keeps this one intact.
    if os.path.exists(path) and os.path.getsize(path) > 0:
        with open(path, "rb") as f:
            f.seek(-1, os.SEEK_END)
            if f.read(1) != b"\n":
                line = b"\n" + line
    fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, line)
        os.fsync(fd)
    finally:
        os.close(fd)


def committed_partitions(entries: list[dict]) -> set[str]:
    """THE definition of 'committed' — one predicate shared by
    Lineage.committed() and run_incremental (which parses the journal once
    and passes the entries around)."""
    return {e["partition"] for e in entries if e.get("status") == "committed"}


def _routed_day_path(out_dir: str, day: str) -> str:
    return os.path.join(out_dir, f"day={day}")


def _day_stats(t: DataFrame) -> tuple[dict[str, int], dict[str, str]]:
    """One aggregation over the input: per-day row counts AND a content
    signature — order-independent, deterministic, and any row added/removed/
    re-timestamped changes it with overwhelming probability. The signature is
    what lets an idle poll cycle prove 'the open day is byte-identical to
    what I already wrote' without re-running parse+enrich (code-review r03:
    a 30 s poll loop otherwise rewrites the open day and appends journal rows
    forever on idle input).

    Signature construction (r04, ADVICE r03): per-row xxhash64 (64-bit,
    non-linear — CRC32 is linear, so two offsetting row edits could cancel in
    a 32-bit sum), combined as BOTH a mod-2^31 sum (multiset-safe: duplicate
    rows don't cancel; no ANSI bigint overflow below 2^32 rows) and a bit_xor
    (a second, independent algebra over the full 64 bits). A silent idle-skip
    collision now needs a simultaneous 31-bit-sum AND 64-bit-xor collision.
    Stored as 'sum:xor'; old-format (crc32 int) journal entries simply
    compare unequal, forcing one conservative rewrite on upgrade."""
    # the signature covers EVERY column the pipeline consumes — text included
    # (parse reads it; a re-push with changed text but unchanged keys/ts must
    # invalidate the skip) — with a NUL sentinel for nullable fields so a null
    # can never alias a shifted value under concat_ws's null-skipping
    nul = F.lit("\u0000")
    h = F.xxhash64(
        F.concat_ws(
            "|",
            "conv_id",
            F.col("turn_idx").cast("string"),
            F.col("ts").cast("string"),
            F.coalesce("role", nul),
            F.coalesce("tool", nul),
            F.coalesce("text", nul),
        )
    )
    rows = t.groupBy("_day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()
    counts = {r["_day"]: r["n"] for r in rows if r["_day"] is not None}
    sigs = {r["_day"]: f"{r['s']}:{r['x']}" for r in rows if r["_day"] is not None}
    return counts, sigs


def _last_open_event(entries: list[dict], day: str) -> dict | None:
    for e in reversed(entries):
        if e.get("partition") == day and e.get("status") == "open":
            return e
    return None


def _record_skipped_committed(
    lin: Lineage, day_counts: dict[str, int], day_sigs: dict[str, str],
    done: set[str], entries: list[dict] | None = None,
) -> None:
    """Observability for the committed-day immutability rule (ADVICE r02):
    input rows whose day is already committed are dropped — by protocol, not
    by accident — but a silent drop hides the one divergence from the
    reference's push-dedupe (a duplicate key whose older copy sits in a
    committed day keeps BOTH copies in the store). Record the per-day dropped
    counts as lineage events so operators can see them.

    De-duplicated per (day, count, content-signature): the AutoUpdate poll
    loop re-LISTS the whole input every cycle, so every committed day
    reappears identically — recording that each cycle would grow the journal
    without bound while signaling nothing. An event is appended only when the
    day's incoming (count, xxhash64 sum:xor signature) differs from the last recorded
    one, so even a same-count re-push of DIFFERENT history is surfaced.
    ``entries`` lets callers pass the journal they already parsed."""
    entries = lin.entries() if entries is None else entries
    last_skip: dict[str, tuple] = {}
    for e in entries:
        if e.get("status") == "skipped_committed":
            last_skip[e["partition"]] = (e.get("rows", 0), e.get("input_sig"))
    for day in sorted(day_counts):
        n = int(day_counts[day])
        if day in done and n > 0 and last_skip.get(day) != (n, day_sigs.get(day)):
            lin.append(
                {
                    "partition": day,
                    "status": "skipped_committed",
                    "at": time.time(),
                    "rows": n,
                    "duration_s": 0.0,
                    "mode": "incremental",
                    # same keys as commit/open events — lineage rows stay
                    # schema-homogeneous for lineage_metrics
                    "input_rows": n,
                    "input_sig": day_sigs.get(day, ""),
                }
            )


def run_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    tool_dim: DataFrame,
    out_dir: str,
    ck_dir: str,
    fail_after: int | None = None,
    commit_open_day: bool = False,
) -> list[str]:
    """Process all uncommitted day partitions in ONE partitioned write (a
    365-day backlog is one write, not 365); returns the days processed.

    The max day in the input is treated as still open (written, not
    committed) unless commit_open_day=True. fail_after=k aborts before
    commit k+1 (test hook simulating a crash after the write); resume = call
    again with the same ck_dir.
    """
    lin = Lineage(ck_dir)
    lin_entries = lin.entries()  # parsed once; committed + skip-dedupe share it
    done = committed_partitions(lin_entries)
    t = transcripts.withColumn("_day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
    # NULL/unparseable ts rows have no day partition and are excluded from
    # incremental ingest (dq_report surfaces them); a NULL in the day list
    # would otherwise never match the isin() filter and wedge resume forever.
    # One aggregation yields per-day counts (skipped-committed metric) AND
    # content signatures (idle open-day skip below).
    day_counts, day_sigs = _day_stats(t)
    days = sorted(day_counts)
    open_day = days[-1] if days and not commit_open_day else None
    todo = [d for d in days if d not in done]
    # idle-poll fast path: if the still-open day's input is content-identical
    # to what the last cycle already wrote (same count + same sum:xor signature,
    # recorded in its 'open' lineage event), skip its rewrite AND its journal
    # appends — a 30 s AutoUpdate loop on idle input otherwise reprocesses the
    # day and grows both journals forever. Any new/changed/re-timestamped row
    # changes the signature and forces the rewrite.
    # Only when the open day is the SOLE uncommitted day: if any other
    # uncommitted day exists, the T4 dedupe slice must include the open day's
    # rows (a duplicate key straddling the two days would otherwise escape
    # the newest-wins window and double-count — code-review r03).
    if todo == [open_day]:
        last = _last_open_event(lin_entries, open_day)
        if (
            last is not None
            and last.get("input_rows") == day_counts[open_day]
            and last.get("input_sig") == day_sigs[open_day]
        ):
            todo = []
    _record_skipped_committed(lin, day_counts, day_sigs, done, entries=lin_entries)
    if not todo:
        return []
    from ictspark.io import dedupe_transcripts
    from ictspark.snapshots import SnapshotLog, snapshot_day_write

    t0 = time.time()
    # dynamic partition overwrite only replaces the (day, route_key)
    # partitions present in the batch: a day written open by an earlier cycle
    # would keep stale files when its rows are later deduped away to a newer
    # day (or a route_key vanishes), and be committed with stale non-zero
    # counts. Uncommitted days are disposable; committed days are never touched.
    for day in todo:
        stale = _routed_day_path(out_dir, day)
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    # T4: ONE dedupe over the whole uncommitted slice — duplicate
    # (conv_id, turn_idx) keys cannot double-count across uncommitted day
    # boundaries. No attempt ranking here — attempt is a conv-scoped window
    # and a conv can span days. The routed store holds per-row parse+enrich
    # output only; windows/aggregates run at report time over the full store
    # (the reference likewise recomputes all stats after each ingest batch,
    # main.rs:691-694).
    batch = dedupe_transcripts(t.where(F.col("_day").isin(todo)))
    steps = parse.parse_steps(batch.drop("_day"))
    routed = (
        enrich.enrich_steps(steps, tool_dim)
        .withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
        .repartition(F.col("day"), F.col("route_key"))
    )
    (
        routed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day", "route_key")
        .parquet(out_dir)
    )
    wall = round(time.time() - t0, 3)
    # per-day row counts from the written bytes (footer metadata only) — no
    # second parse+enrich pass. A todo day whose rows were ALL newer-day
    # duplicates writes no directory: it commits with rows=0 (its rows live
    # in the newer day) instead of failing the read forever.
    written = [d for d in todo if os.path.isdir(_routed_day_path(out_dir, d))]
    counts: dict[str, int] = {}
    if written:
        counts = {
            r["day"]: r["n"]
            for r in spark.read.option("basePath", out_dir)
            .parquet(*[_routed_day_path(out_dir, d) for d in written])
            .groupBy(F.col("day").cast("string").alias("day"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    slog = SnapshotLog(ck_dir)
    n_commits = 0
    for day in todo:
        if fail_after is not None and n_commits >= fail_after:
            raise RuntimeError(f"injected failure before partition {day}")
        # snapshot lineage (Iceberg commit analog): which files this write
        # added — the open day's rewrite records as a REPLACE
        snapshot_day_write(slog, out_dir, day)
        metrics = {
            "rows": int(counts.get(day, 0)),
            "duration_s": wall,
            # "mode" keeps lineage rows schema-homogeneous (createDataFrame
            # over mixed-key dicts would fail in lineage_metrics)
            "mode": "incremental",
            "input_rows": int(day_counts[day]),
            "input_sig": day_sigs[day],
        }
        if day == open_day:
            lin.mark_open(day, **metrics)
        else:
            lin.commit(day, **metrics)
            n_commits += 1
    return todo


def read_all_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Full routed store: every day on disk, committed or not.

    Days missing from ``Lineage.committed()`` are visible and may still
    change: the open day (rewritten each cycle), and after a crash, closed
    days that were written but not yet committed (rewritten on resume).
    Consumers that need final data filter ``day`` on the committed set.

    Committed-day immutability (ADVICE r02): a duplicate (conv_id, turn_idx)
    key whose OLDER copy lives in an already-committed day is kept in BOTH
    days — ingest dedupe spans only the uncommitted slice. The dropped
    rewrite is recorded as `skipped_committed` lineage events (see
    _record_skipped_committed); consumers needing strict one-copy semantics
    over a store with re-pushed history should apply io.dedupe_transcripts on
    read (it is the same newest-wins window)."""
    return spark.read.parquet(out_dir)


def report_from_store(spark: SparkSession, out_dir: str) -> DataFrame:
    """Report-time view: full routed store + conv-scoped attempt windows."""
    return A.with_attempt(read_all_routed(spark, out_dir))


def lineage_metrics(spark: SparkSession, ck_dir: str) -> DataFrame:
    """Lineage as a DataFrame (T6 progress/metrics surface)."""
    lin = Lineage(ck_dir)
    return spark.createDataFrame(lin.entries() or [{"partition": None, "status": None}])
