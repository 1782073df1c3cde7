"""Deployable-job entrypoint (job.py): the spark-submit surface must run end
to end — batch writes routed store + every report table (including the
per-product composite); incremental resumes through the same CLI."""

import json
import os
import tempfile

from ictspark import io, job, synth


def test_job_batch_writes_reports(spark, smoke_sf_dir):
    d = synth.synth_dir_for(smoke_sf_dir)
    with tempfile.TemporaryDirectory() as out:
        job.main(
            [
                "batch",
                "--transcripts", os.path.join(d, "transcripts.parquet"),
                "--tool-dim", os.path.join(d, "tool_dim.parquet"),
                "--out", out,
                "--files-per-partition", "1",
            ]
        )
        report_names = set(os.listdir(os.path.join(out, "reports")))
        assert {"yields", "failure_counts", "product_hourly", "product_daily_failures",
                "product_failed_boards"} <= report_names
        routed = spark.read.parquet(os.path.join(out, "routed"))
        assert routed.count() > 0
        ph = spark.read.parquet(os.path.join(out, "reports", "product_hourly"))
        assert ph.where("hour = 'TOTAL'").count() == ph.select("route_key").distinct().count()


def test_job_incremental_cli(spark, smoke_sf_dir, capsys):
    d = synth.synth_dir_for(smoke_sf_dir)
    with tempfile.TemporaryDirectory() as out:
        args = [
            "incremental",
            "--transcripts", os.path.join(d, "transcripts.parquet"),
            "--tool-dim", os.path.join(d, "tool_dim.parquet"),
            "--out", out,
            "--checkpoint", os.path.join(out, "ck"),
        ]
        job.main(args)
        first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert len(first["partitions_processed"]) > 1
        job.main(args)
        second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # rerun on identical input: the open day's signature matches the last
        # cycle's, so nothing is reprocessed (r03 idle-poll fast path)
        assert second["partitions_processed"] == []
        n = spark.read.parquet(os.path.join(out, "routed")).count()
        exp = io.load_transcripts(spark, smoke_sf_dir)
        from ictspark import parse

        assert n == parse.parse_steps(exp.dropDuplicates(["conv_id", "turn_idx"])).count()


def test_job_changes_cli(spark, smoke_sf_dir, capsys):
    """incremental → changes: the consumer CLI reports exactly the snapshots
    the ingest produced (everything appended on a cold start; the open day
    listed as replaced after a second cycle)."""
    d = synth.synth_dir_for(smoke_sf_dir)
    with tempfile.TemporaryDirectory() as out:
        base = [
            "--transcripts", os.path.join(d, "transcripts.parquet"),
            "--tool-dim", os.path.join(d, "tool_dim.parquet"),
            "--out", out,
        ]
        job.main(["incremental", *base, "--checkpoint", f"{out}/ck"])
        capsys.readouterr()
        job.main(["changes", "--out", out, "--checkpoint", f"{out}/ck", "--after", "0"])
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        routed = spark.read.parquet(os.path.join(out, "routed"))
        from ictspark import snapshots as SN
        repl = SN.read_replaced_partitions(spark, os.path.join(out, "routed"), rep["replaced_partitions"])
        n_repl = repl.count() if repl is not None else 0
        assert rep["appended_rows"] + n_repl == routed.count()
        assert rep["current_snapshot_id"] > 0


def test_job_changes_export_atomic(spark, smoke_sf_dir, capsys):
    """ADVICE r04: the --export write must be temp-path + rename, and stale
    dirs (a previous run's partial temp, an old appended/) must not survive a
    run — the exported parquet must hold exactly the rows this run reports,
    with no temp dir left behind."""
    d = synth.synth_dir_for(smoke_sf_dir)
    with tempfile.TemporaryDirectory() as out:
        job.main(
            [
                "incremental",
                "--transcripts", os.path.join(d, "transcripts.parquet"),
                "--tool-dim", os.path.join(d, "tool_dim.parquet"),
                "--out", out,
                "--checkpoint", f"{out}/ck",
            ]
        )
        capsys.readouterr()
        exp_dir = f"{out}/export"
        # plant stale junk where a crashed prior attempt would leave it
        os.makedirs(f"{exp_dir}/appended.__tmp__")
        os.makedirs(f"{exp_dir}/appended")
        with open(f"{exp_dir}/appended/garbage.txt", "w") as f:
            f.write("stale")
        job.main(
            ["changes", "--out", out, "--checkpoint", f"{out}/ck", "--after", "0",
             "--export", exp_dir]
        )
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["appended_rows"] > 0
        assert not os.path.exists(f"{exp_dir}/appended.__tmp__")
        assert not os.path.exists(f"{exp_dir}/appended/garbage.txt")
        assert spark.read.parquet(f"{exp_dir}/appended").count() == rep["appended_rows"]
        # an --after at the current head appends nothing: the report must not
        # sit next to a stale appended/ dir from the earlier run
        capsys.readouterr()
        job.main(
            ["changes", "--out", out, "--checkpoint", f"{out}/ck",
             "--after", str(rep["current_snapshot_id"]), "--export", exp_dir]
        )
        rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep2["appended_rows"] == 0
        assert not os.path.exists(f"{exp_dir}/appended")


def test_job_incremental_poll_loop(spark, smoke_sf_dir, capsys):
    """AutoUpdate loop analog: --cycles 2 runs two poll cycles in one CLI
    invocation; cycle 2 reprocesses only the still-open day."""
    d = synth.synth_dir_for(smoke_sf_dir)
    with tempfile.TemporaryDirectory() as out:
        job.main(
            [
                "incremental",
                "--transcripts", os.path.join(d, "transcripts.parquet"),
                "--tool-dim", os.path.join(d, "tool_dim.parquet"),
                "--out", out,
                "--checkpoint", f"{out}/ck",
                "--cycles", "2",
            ]
        )
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["cycles"] == 2
        c1, c2 = rep["cycles_processed"]
        assert len(c1) > 1
        assert c2 == []  # idle poll: open day unchanged, nothing rewritten
        # stable shape: partitions_processed is always a flat list of days
        assert rep["partitions_processed"] == sorted(c1)


def test_vanished_file_classifier_structural(spark, tmp_path):
    """ADVICE r05: the cmd_changes retry classifier must match on exception
    STRUCTURE (Spark error condition / Java cause class), so (a) both real
    vanished-file surfaces classify True, and (b) a deterministic failure
    whose MESSAGE embeds the old substrings classifies False (no wasted
    retry of a genuine bug)."""
    import shutil

    # execution-time race: files deleted between lazy read and action
    p = str(tmp_path / "vanish")
    spark.range(50).write.parquet(p)
    df = spark.read.parquet(p)
    shutil.rmtree(p)
    try:
        df.count()
        raise AssertionError("expected the read to fail")
    except Exception as e:  # noqa: BLE001 — the raw surface is what we classify
        assert job._vanished_file_error(e)

    # resolution-time: the whole path is gone before planning
    try:
        spark.read.parquet(str(tmp_path / "never_existed")).count()
        raise AssertionError("expected the read to fail")
    except Exception as e:  # noqa: BLE001
        assert job._vanished_file_error(e)

    # deterministic failures whose text embeds the old substrings must NOT
    # classify (the exact false-positive the structural match closes)
    assert not job._vanished_file_error(
        RuntimeError("user table 'Path does not exist' have been updated")
    )
    # unresolved column: a deterministic AnalysisException, different condition
    t = spark.range(5)
    try:
        t.select("no_such_column").collect()
        raise AssertionError("expected the select to fail")
    except Exception as e:  # noqa: BLE001
        assert not job._vanished_file_error(e)
