"""Per-product daily report composite — the reference's `write_product`
(/root/reference/src/daily_yield.rs:82-169) re-expressed per route_key.

The reference loops products and writes, per product: an hourly ok/nok table
with a totals row (daily_yield.rs:92-112), a failure table that LEFT-JOINS the
All failure list against the AfterRetest list by test name (join at
daily_yield.rs:127-139 — probe misses stay blank), and a failed-boards detail
whose consecutive duplicate DMCs are display-blanked (daily_yield.rs:154-158).

Spark-first shape: the "loop over products" is a route_key grouping column —
one job computes every product's report in a single pass; no driver loop. The
wide failure join is a broadcast left join on (route_key, step): both sides
are per-(route, step) aggregates, bounded by the test catalog, tiny at any
fact-table scale. The DMC display-dedupe needs no global ordered window:
consecutive same-DMC rows are exactly the runs of one conv under conv-major
ordering, so `attempt == 1` marks the visible row — a per-conv predicate that
scales embarrassingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ictspark.aggregates import TS_FMT, fmt_ts, ok_nok


def _fail() -> F.Column:
    # built lazily: Column objects need a live SparkContext in classic mode
    return F.when(F.col("status") != "pass", 1).otherwise(0)


def _per_run(steps_a: DataFrame, *extra_keys: str) -> DataFrame:
    """Shared per-run aggregation body: run start, failure flag, and the
    sorted failed-step list — one definition so the global and per-product
    reports cannot drift apart."""
    return steps_a.groupBy(*extra_keys, "conv_id", "attempt").agg(
        F.min("ts").alias("run_ts"),
        F.max(_fail()).alias("any_fail"),
        F.array_join(
            F.array_sort(F.collect_set(F.when(F.col("status") != "pass", F.col("step")))),
            ", ",
        ).alias("failed_steps"),
    )


def product_runs(es_a: DataFrame) -> DataFrame:
    """Run grain scoped to one product view: per (route_key, conv_id, attempt),
    a run's result considering only the steps routed to that product sink —
    the analog of the reference's per-product logfile set."""
    return _per_run(es_a, "route_key")


def product_hourly(es_a: DataFrame, runs: DataFrame | None = None) -> DataFrame:
    """Hourly ok/nok per product + per-product TOTAL row
    (daily_yield.rs:92-112: hourly table then a totals footer).

    ``runs``: optionally pass an already-materialized product_runs(es_a) —
    the (route_key, conv_id, attempt) aggregation is the composite's one wide
    shuffle, and the per-product failed-boards report needs the identical
    table, so computing it once (ReportSet.product_reports persists it) halves
    the composite's shuffle work."""
    r = product_runs(es_a) if runs is None else runs
    h = r.groupBy(
        "route_key",
        F.date_format(F.date_trunc("hour", "run_ts"), TS_FMT).alias("hour"),
    ).agg(*ok_nok())
    tot = (
        h.groupBy("route_key")
        .agg(F.sum("ok").alias("ok"), F.sum("nok").alias("nok"))
        .withColumn("hour", F.lit("TOTAL"))
    )
    return h.unionByName(tot.select("route_key", "hour", "ok", "nok"))


def product_daily_failures(es_a: DataFrame) -> DataFrame:
    """The J1 wide join (daily_yield.rs:127-139): per (product, step), the All
    failure count LEFT-joined with the AfterRetest count — a missing probe
    stays NULL, as the reference leaves the cell blank — plus a per-product
    TOTAL row (the footer at daily_yield.rs:141-144; its after-retest total
    adds only matched rows, which COALESCE(SUM(...), 0) reproduces)."""
    fails = es_a.where(F.col("status") != "pass")
    allf = fails.groupBy("route_key", "step").agg(F.count(F.lit(1)).alias("n_fail_all"))
    art = (
        fails.where("is_last")
        .groupBy("route_key", "step")
        .agg(F.count(F.lit(1)).alias("n_fail_after_retest"))
    )
    wide = allf.join(F.broadcast(art), ["route_key", "step"], "left")
    tot = (
        wide.groupBy("route_key")
        .agg(
            F.sum("n_fail_all").alias("n_fail_all"),
            F.coalesce(F.sum("n_fail_after_retest"), F.lit(0)).alias("n_fail_after_retest"),
        )
        .withColumn("step", F.lit("TOTAL"))
    )
    return wide.unionByName(tot.select("route_key", "step", "n_fail_all", "n_fail_after_retest"))


def product_failed_boards(es_a: DataFrame, runs: DataFrame | None = None) -> DataFrame:
    """Failed-boards detail per product (daily_yield.rs:146-165): every run of
    any conv that failed at least once in this product view, with the DMC
    shown only on the conv's first row (the consecutive-duplicate suppression
    at daily_yield.rs:154-158 — under conv-major ordering, repeats of a DMC
    are exactly the conv's later attempts, so `attempt == 1` is the lag rule
    without any global ordered window).

    ``runs``: optional shared product_runs table (see product_hourly)."""
    return _failed_boards_detail(product_runs(es_a) if runs is None else runs, "route_key")


def _failed_boards_detail(per_run: DataFrame, *keys: str) -> DataFrame:
    """Every run of each ever-failing conv (per ``keys`` view), DMC blanked on
    the conv's repeat rows (daily_yield.rs:154-158)."""
    conv_any = F.max("any_fail").over(Window.partitionBy(*keys, "conv_id"))
    d = per_run.withColumn("conv_any_fail", conv_any).where("conv_any_fail = 1")
    return d.select(
        *keys,
        F.when(F.col("attempt") == 1, F.col("conv_id")).otherwise(F.lit("")).alias("dmc_display"),
        "attempt",
        fmt_ts("run_ts", "run_ts"),
        F.when(F.col("any_fail") == 1, "fail").otherwise("pass").alias("result"),
        "failed_steps",
    )


def product_workbook(es_a: DataFrame, runs: DataFrame | None = None) -> DataFrame:
    """The single-workbook composite (write_product, daily_yield.rs:82-169):
    all three per-product report sections UNIONed in reference worksheet order
    — hourly table (1), failure join (2), failed-boards detail (3) — padded to
    a common string-cell schema (route_key, section_order, section, c1..c5).
    One query materializes every product's whole workbook in a single pass;
    the xlsx writer is presentation-layer (out of scope by the graft mapping),
    but the worksheet CONTENT and ordering are exactly this table."""
    r = product_runs(es_a) if runs is None else runs
    h = product_hourly(es_a, runs=r)
    f = product_daily_failures(es_a)
    b = product_failed_boards(es_a, runs=r)
    null_s = F.lit(None).cast("string")
    s1 = h.select(
        "route_key",
        F.lit(1).alias("section_order"),
        F.lit("hourly").alias("section"),
        F.col("hour").alias("c1"),
        F.col("ok").cast("string").alias("c2"),
        F.col("nok").cast("string").alias("c3"),
        null_s.alias("c4"),
        null_s.alias("c5"),
    )
    s2 = f.select(
        "route_key",
        F.lit(2).alias("section_order"),
        F.lit("failures").alias("section"),
        F.col("step").alias("c1"),
        F.col("n_fail_all").cast("string").alias("c2"),
        F.col("n_fail_after_retest").cast("string").alias("c3"),
        null_s.alias("c4"),
        null_s.alias("c5"),
    )
    s3 = b.select(
        "route_key",
        F.lit(3).alias("section_order"),
        F.lit("failed_boards").alias("section"),
        F.col("dmc_display").alias("c1"),
        F.col("attempt").cast("string").alias("c2"),
        F.col("run_ts").alias("c3"),
        F.col("result").alias("c4"),
        F.col("failed_steps").alias("c5"),
    )
    return s1.unionByName(s2).unionByName(s3)


def failed_boards_display(steps_a: DataFrame) -> DataFrame:
    """Global (non-product-scoped) A8 display variant of failed_boards: all
    runs of ever-failing convs, DMC blanked on repeat rows
    (daily_yield.rs:154-158)."""
    return _failed_boards_detail(_per_run(steps_a))
