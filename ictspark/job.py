"""spark-submit entry point: the deployable pipeline job.

    spark-submit --py-files ictspark.zip ictspark/job.py batch \\
        --transcripts <path-or-table> --tool-dim <path> --out <dir>

Modes:
  batch        full parse → enrich → route → aggregate; writes routed store +
               report tables under --out
  incremental  checkpointed day-partition ingest with lineage (resumable):
               each cycle writes every uncommitted day in one partitioned
               write, then commits the closed days
  changes      snapshot-based incremental read (Iceberg commit-lineage analog):
               what did commits after --after add/replace? (consumer side)

On a cluster the same code runs unchanged: `--master` comes from spark-submit,
and `ICTSPARK_FORMAT=iceberg` switches sinks to Iceberg tables (SURVEY §7 risk
note — parquet layout is the offline-sandbox fallback with identical
partitioning).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark():
    # under spark-submit the session/master is provided by the launcher
    from pyspark.sql import SparkSession

    return SparkSession.builder.appName("ictspark-job").getOrCreate()


def cmd_batch(args: argparse.Namespace) -> None:
    from ictspark import route as R
    from ictspark.pipeline import ReportSet

    spark = _spark()
    t = spark.read.parquet(args.transcripts)
    tool_dim = spark.read.parquet(args.tool_dim)
    t0 = time.time()
    rs = ReportSet(t, tool_dim)
    counts = rs.materialize()
    R.write_routed(rs.enriched(), os.path.join(args.out, "routed"), files_per_partition=args.files_per_partition)
    for name, df in {**rs.all_reports(), **rs.product_reports()}.items():
        df.write.mode("overwrite").parquet(os.path.join(args.out, "reports", name))
    print(
        json.dumps(
            {"mode": "batch", "counts": counts, "duration_s": round(time.time() - t0, 2)}
        )
    )


def cmd_incremental(args: argparse.Namespace) -> None:
    """One ingest cycle by default; --cycles N --poll-seconds S runs the
    reference's AutoUpdate loop (poll every 30 s, main.rs:247-310) — each
    cycle RE-LISTS the input directory, so files that arrived since the last
    cycle are picked up, committed days are skipped via the checkpoint, and
    every uncommitted day (the still-open one included) is rewritten in one
    write. A cold start over a long backlog is the same call; add
    --commit-open-day when the backlog is known complete."""
    from ictspark import checkpoint as CK

    spark = _spark()
    tool_dim = spark.read.parquet(args.tool_dim)
    cycles: list[list[str]] = []
    for i in range(max(1, args.cycles)):
        if i > 0 and args.poll_seconds > 0:
            time.sleep(args.poll_seconds)
        # fresh read per cycle: re-list the directory (new files visible)
        t = spark.read.parquet(args.transcripts)
        cycles.append(
            CK.run_incremental(
                spark,
                t,
                tool_dim,
                os.path.join(args.out, "routed"),
                args.checkpoint,
                commit_open_day=args.commit_open_day,
            )
        )
    # stable output shape regardless of --cycles: partitions_processed is
    # ALWAYS the flat union of days touched this invocation (consumers
    # iterate day strings); per-cycle detail lives in cycles_processed
    flat = sorted({d for c in cycles for d in c})
    print(
        json.dumps(
            {
                "mode": "incremental",
                "cycles": len(cycles),
                "partitions_processed": flat,
                "cycles_processed": cycles,
            }
        )
    )


def _vanished_file_error(e: BaseException) -> bool:
    """True iff the exception is the files-deleted-mid-read class (the only
    one the cmd_changes retry is meant for — ADVICE r04: a bare except also
    retried genuine failures). Matched STRUCTURALLY, not by message
    substrings (ADVICE r05: a free-text scan over the stringified cause
    chain also caught deterministic failures whose message happened to embed
    'Path does not exist'). Verified against this Spark build, the race
    surfaces as exactly one of:
    - resolution time: AnalysisException with error condition PATH_NOT_FOUND
      (the whole input directory vanished before the scan was planned);
    - execution time: a raw Py4JJavaError whose Java cause chain is
      SparkException [FAILED_READ_FILE.FILE_NOT_EXIST] →
      java.io.FileNotFoundException (a listed file deleted before its task
      read it — Spark's 'underlying files have been updated' condition).
    Both the PySpark error-condition accessors and the Java cause-chain walk
    are bounded and exception-guarded; anything else returns False and the
    caller re-raises."""
    conds = ("PATH_NOT_FOUND", "FAILED_READ_FILE.FILE_NOT_EXIST")
    exc: BaseException | None = e
    for _ in range(8):
        if exc is None:
            break
        for getter in ("getCondition", "getErrorClass"):
            g = getattr(exc, getter, None)
            if callable(g):
                try:
                    if (g() or "") in conds:
                        return True
                except Exception:
                    pass
        jt = getattr(exc, "java_exception", None) or getattr(exc, "_origin", None)
        for _ in range(8):
            if jt is None:
                break
            try:
                if jt.getClass().getName() == "java.io.FileNotFoundException":
                    return True
                jt = jt.getCause()
            except Exception:
                break
        exc = exc.__cause__
    return False


def cmd_changes(args: argparse.Namespace) -> None:
    """Consumer side of the snapshot log: report (and optionally export) what
    the commits after --after added, Iceberg-incremental-scan style.

    Consumer-side race (ADVICE r03): changes_since existence-checks the
    appended files, then Spark reads them LAZILY — an open-day rewrite by the
    (single-writer) poll loop between the check and the action deletes those
    files and fails the read. Handled here by retrying changes_since once on
    a read failure: the rewrite that deleted the files has by then recorded
    its REPLACE snapshot, so the affected partitions degrade to the
    replaced/full-re-read path — the same semantics Iceberg's
    refuse-overwrite-ranges rule gives a concurrent reader. Only the
    vanished-file class retries (anything else re-raises), and the export is
    written to a temp path and renamed into place, so a failed attempt 0 can
    never leave a partial appended/ dir that attempt 1 then reports as clean
    (ADVICE r04)."""
    import shutil

    from ictspark import snapshots as SN

    spark = _spark()
    routed = os.path.join(args.out, "routed")
    log = SN.SnapshotLog(args.checkpoint)
    for attempt in (0, 1):
        appended, replaced = SN.changes_since(spark, routed, log, args.after)
        try:
            n_appended = appended.count() if appended is not None else 0
            if args.export:
                final = os.path.join(args.export, "appended")
                tmp = final + ".__tmp__"
                if appended is not None:
                    appended.write.mode("overwrite").parquet(tmp)
                    if os.path.isdir(final):
                        shutil.rmtree(final)
                    os.replace(tmp, final)
                else:
                    # nothing appended THIS run: leave no stale export (a
                    # leftover dir from an earlier attempt/run would read as
                    # this run's output next to an n_appended=0 report)
                    for p in (tmp, final):
                        if os.path.isdir(p):
                            shutil.rmtree(p)
            break
        except Exception as e:
            if attempt == 1 or not _vanished_file_error(e):
                raise
            # files vanished mid-read: re-parse the journal (now holding the
            # replace snapshot) and degrade those partitions to full re-read
    out = {
        "mode": "changes",
        "after_snapshot_id": args.after,
        "current_snapshot_id": log.current_id(),
        "appended_rows": int(n_appended),
        "replaced_partitions": replaced,
    }
    print(json.dumps(out))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="ictspark-job")
    sub = p.add_subparsers(dest="mode", required=True)
    for name, fn in (("batch", cmd_batch), ("incremental", cmd_incremental)):
        s = sub.add_parser(name)
        s.add_argument("--transcripts", required=True)
        s.add_argument("--tool-dim", required=True)
        s.add_argument("--out", required=True)
        s.add_argument("--files-per-partition", type=int, default=8)
        if name == "incremental":
            s.add_argument("--checkpoint", required=True)
            # continuous mode leaves the max day open (rewritten next cycle);
            # set this for a known-complete backlog so the last day closes too
            s.add_argument("--commit-open-day", action="store_true")
            # AutoUpdate loop analog (main.rs:251: 30 s poll)
            s.add_argument("--cycles", type=int, default=1)
            s.add_argument("--poll-seconds", type=float, default=0.0)
        s.set_defaults(fn=fn)
    s = sub.add_parser("changes")
    s.add_argument("--out", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--after", type=int, default=0)
    s.add_argument("--export", default=None)
    s.set_defaults(fn=cmd_changes)
    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
