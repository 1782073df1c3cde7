"""Yield-report aggregates (SURVEY.md §2.4–2.6, semantics locked in SEMANTICS.md).

Every aggregate is built from built-in functions + window specs — no UDAFs
(SURVEY.md §2.10). All are algebraic (sum/max/min/count), so Spark performs
map-side partial aggregation automatically; hot conv_ids therefore combine
locally before the shuffle, which is the first line of skew defense. Window
partitions are (conv_id, step) — far finer than conv_id — so hot convs do not
create hot window partitions.

Output-formatting rules (SEMANTICS.md): timestamps → 'yyyy-MM-dd HH:mm:ss'
strings, pct rounded to 2 dp, so DuckDB oracle hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ictspark import functions as FN

TS_FMT = "yyyy-MM-dd HH:mm:ss"

def fmt_ts(col: str, alias: str | None = None) -> F.Column:
    return F.date_format(col, TS_FMT).alias(alias or col)


def with_attempt(steps: DataFrame) -> DataFrame:
    """W1/W2/W4: attempt rank per (conv, step); retest = attempt > 1.

    is_last via count-over-window instead of a second descending row_number:
    both windows share one Exchange + one Sort (verified in the physical plan),
    halving the sort cost of the hottest stage.
    """
    asc = Window.partitionBy("conv_id", "step").orderBy("turn_idx", "line_no")
    unord = Window.partitionBy("conv_id", "step")
    return steps.withColumn("attempt", F.row_number().over(asc)).withColumn(
        "is_last", F.row_number().over(asc) == F.count("*").over(unord)
    )


def runs(steps_a: DataFrame) -> DataFrame:
    """Run grain (logfile analog): one row per (conv_id, attempt).

    Carries final_fail (this run's contribution to the conv's after-retest
    result) so every yield grain derives from THIS table alone — it is the
    one intermediate worth materializing at scale (ReportSet does)."""
    return (
        steps_a.groupBy("conv_id", "session_id", "board_idx", "attempt")
        .agg(
            F.min("ts").alias("run_ts"),
            F.max(F.when(F.col("status") != "pass", 1).otherwise(0)).alias("any_fail"),
            F.max(
                F.when(F.col("is_last") & (F.col("status") != "pass"), 1).otherwise(0)
            ).alias("final_fail"),
            F.count(F.lit(1)).alias("n_steps"),
        )
        .withColumn("result", F.when(F.col("any_fail") == 1, "fail").otherwise("pass"))
    )


def conv_final(steps_a: DataFrame) -> DataFrame:
    """Per conv: final (after-retest) result — each step's LAST attempt
    (reference: overall = last log, main.rs:1205)."""
    return (
        steps_a.where("is_last")
        .groupBy("conv_id", "session_id")
        .agg(F.max(F.when(F.col("status") != "pass", 1).otherwise(0)).alias("any_fail"))
        .withColumn("result", F.when(F.col("any_fail") == 1, "fail").otherwise("pass"))
    )


def _stack3(df: DataFrame, level: str, triples: list[tuple[str, str, str]]) -> DataFrame:
    """One-row df with ok_X/nok_X columns → rows (level, grain, ok, nok)."""
    expr = ", ".join(f"'{g}', ok_{k}, nok_{k}" for g, k, _ in triples)
    return df.selectExpr(
        f"'{level}' as level", f"stack({len(triples)}, {expr}) as (grain, ok, nok)"
    )


def yields(steps_a: DataFrame) -> DataFrame:
    """A1 + A2: OK/NOK/pct at {conv, session} × {first, after_retest, total}.

    Reference grain mapping: labels FirstT/AfterRT/Total at main.rs:713-715
    reading Yield[0]/[1]/[2] at main.rs:727-729.

    Plan shape: steps → the `runs` grain (one map-side-combinable aggregation
    whose shuffle its three consumers share as a ReusedExchange — no cache, so
    a standalone call leaves nothing persisted) → conv grain → tiny global
    rollups. ReportSet, which holds `runs` as a
    barrier, calls yields_from_run_grain directly."""
    return yields_from_run_grain(runs(steps_a))


def yields_from_run_grain(ca: DataFrame) -> DataFrame:
    """Yield grains from a run-grain table — any df with (session_id,
    conv_id, attempt, any_fail, final_fail), e.g. runs()."""
    conv = ca.groupBy("session_id", "conv_id").agg(
        F.max(F.when(F.col("attempt") == 1, F.col("any_fail"))).alias("first_fail"),
        F.max("final_fail").alias("final_fail"),
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("any_fail").alias("nok_runs"),
    )
    conv_row = conv.agg(
        F.sum(1 - F.col("first_fail")).alias("ok_first"),
        F.sum("first_fail").alias("nok_first"),
        F.sum(1 - F.col("final_fail")).alias("ok_final"),
        F.sum("final_fail").alias("nok_final"),
        F.sum(F.col("n_runs") - F.col("nok_runs")).alias("ok_total"),
        F.sum("nok_runs").alias("nok_total"),
    )
    sess_row = (
        conv.groupBy("session_id")
        .agg(
            F.max("first_fail").alias("first_fail"),
            F.max("final_fail").alias("final_fail"),
        )
        .agg(
            F.sum(1 - F.col("first_fail")).alias("ok_first"),
            F.sum("first_fail").alias("nok_first"),
            F.sum(1 - F.col("final_fail")).alias("ok_final"),
            F.sum("final_fail").alias("nok_final"),
        )
    )
    sess_total_row = (
        ca.groupBy("session_id", "attempt")
        .agg(F.max("any_fail").alias("any_fail"))
        .agg(
            F.sum(1 - F.col("any_fail")).alias("ok_total"),
            F.sum("any_fail").alias("nok_total"),
        )
    )
    grains = [("first", "first", ""), ("after_retest", "final", ""), ("total", "total", "")]
    out = (
        _stack3(conv_row, "conv", grains)
        .unionByName(_stack3(sess_row, "session", grains[:2]))
        .unionByName(_stack3(sess_total_row, "session", grains[2:]))
    )
    return out.withColumn("pct", FN.percentage(F.col("ok"), F.col("nok")))


def _fail_modes(steps_a: DataFrame) -> DataFrame:
    fails = steps_a.where(F.col("status") != "pass")
    return (
        fails.where("attempt = 1").withColumn("mode", F.lit("first"))
        .unionByName(fails.withColumn("mode", F.lit("all")))
        .unionByName(fails.where("is_last").withColumn("mode", F.lit("after_retest")))
    )


def failure_counts(steps_a: DataFrame) -> DataFrame:
    """A3 totals: per (mode, step) failing-execution count."""
    return _fail_modes(steps_a).groupBy("mode", "step").agg(F.count(F.lit(1)).alias("n_fail"))


def failure_detail(steps_a: DataFrame) -> DataFrame:
    """A3 detail: (mode, step, conv_id, ts) exploded rows (main.rs:868-886)."""
    return _fail_modes(steps_a).select("mode", "step", "conv_id", fmt_ts("ts"))


def failures_by_index(steps_a: DataFrame) -> DataFrame:
    """A3 by_index: failure histogram per panel position (main.rs:891-918)."""
    return _fail_modes(steps_a).groupBy("mode", "step", "board_idx").agg(
        F.count(F.lit(1)).alias("n_fail")
    )


def ok_nok() -> list[F.Column]:
    """ok/nok run counts over a run grain's any_fail flag — the one definition
    behind every hourly, daily and per-product ok/nok table."""
    return [
        F.sum(F.when(F.col("any_fail") == 0, 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("any_fail") == 1, 1).otherwise(0)).alias("nok"),
    ]


def hourly_stats(runs: DataFrame) -> DataFrame:
    """A4: per hour bucket of run start: ok/nok run counts."""
    return runs.groupBy(
        F.date_format(F.date_trunc("hour", "run_ts"), TS_FMT).alias("hour")
    ).agg(*ok_nok())


def hourly_detail(runs: DataFrame) -> DataFrame:
    """A4 detail rows (time-ordered list equivalent, exploded)."""
    return runs.select(
        F.date_format(F.date_trunc("hour", "run_ts"), TS_FMT).alias("hour"),
        fmt_ts("run_ts", "run_ts"),
        "result",
        "conv_id",
    )


def hourly_totals(runs: DataFrame) -> DataFrame:
    """A9: hourly rollup with grand-total row (daily_yield.rs:100-115)."""
    h = hourly_stats(runs)
    return h.rollup("hour").agg(F.sum("ok").alias("ok"), F.sum("nok").alias("nok")).withColumn(
        "hour", F.coalesce("hour", F.lit("TOTAL"))
    )


def mb_results(runs: DataFrame) -> DataFrame:
    """A5: per (session, attempt): start ts + overall result (main.rs:1195-1264)."""
    return (
        runs.groupBy("session_id", "attempt")
        .agg(
            F.date_format(F.min("run_ts"), TS_FMT).alias("run_ts"),
            F.max("any_fail").alias("any_fail"),
        )
        .withColumn("result", F.when(F.col("any_fail") == 1, "fail").otherwise("pass"))
        .drop("any_fail")
    )


def mb_positions(runs: DataFrame) -> DataFrame:
    """A5 per-position detail: (session, attempt, board_idx, result) (main.rs:1248)."""
    return runs.select("session_id", "attempt", "board_idx", "result")


def limit_changes(steps_a: DataFrame) -> DataFrame:
    """A6/W7: steps with >1 distinct limit tuple (main.rs:1322-1345)."""
    return (
        steps_a.where(F.col("lo").isNotNull())
        .groupBy("step")
        .agg(F.countDistinct(F.struct("lo", "nom", "hi")).alias("n_limits"))
        .where("n_limits > 1")
    )


def testlist(steps_a: DataFrame) -> DataFrame:
    """A7: ordered distinct step names (main.rs:972,978)."""
    return steps_a.select("step").distinct().orderBy("step")


def failed_boards(runs: DataFrame, fails: DataFrame) -> DataFrame:
    """A8: failing runs with joined failed-step names (daily_yield.rs:146-165):
    the sorted step list aggregates the failing executions only, and the run
    start comes from the run grain."""
    per_run = fails.groupBy("conv_id", "attempt").agg(
        F.array_join(F.array_sort(F.collect_set("step")), ", ").alias("failed_steps")
    )
    return per_run.join(
        runs.select("conv_id", "attempt", fmt_ts("run_ts", "run_ts")), ["conv_id", "attempt"]
    ).select("conv_id", "attempt", "run_ts", "failed_steps")


def retest_counts(steps_a: DataFrame) -> DataFrame:
    """W4: per step: executions, retests (attempt>1), distinct convs."""
    return steps_a.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_exec"),
        F.sum(F.when(F.col("attempt") > 1, 1).otherwise(0)).alias("n_retest"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def first_fail(steps_a: DataFrame) -> DataFrame:
    """W3: first-fail attribution per conv (log_info_window.rs:26-33)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "line_no")
    fails = steps_a.where(F.col("status") != "pass")
    return (
        fails.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("conv_id", "step", "turn_idx", fmt_ts("ts"))
    )


EXPORT_STEPS = ["c905", "r210", "v463"]  # Manual-mode list analog ("c613 r412 v605%ON", locals.rs:66)


def export_matrix(steps_a: DataFrame, steps: list[str] | None = None, only_failed: bool = False) -> DataFrame:
    """Export pivot (SURVEY F8/F9 + main.rs:1308-1319): one row per conv,
    one column per selected step, value = final attempt's measurement.
    only_failed = the reference's only_failed_panels row filter."""
    steps = steps or EXPORT_STEPS
    base = steps_a.where(F.col("step").isin(steps) & F.col("is_last"))
    if only_failed:
        bad = conv_final(steps_a).where("any_fail = 1").select("conv_id")
        base = base.join(bad, "conv_id", "left_semi")
    return _pivot_steps(base, steps)


def _pivot_steps(base: DataFrame, steps: list[str]) -> DataFrame:
    """One row per conv, one val_<step> column per selected step."""
    p = base.groupBy("conv_id").pivot("step", steps).agg(F.max("value"))
    for s in steps:
        safe = "val_" + "".join(c if c.isalnum() else "_" for c in s.lower())
        p = p.withColumnRenamed(s, safe)
    return p


def export_matrix_vertical(steps_a: DataFrame, steps: list[str] | None = None) -> DataFrame:
    """Vertical export orientation (main.rs:1269-1272: the reference writes the
    export transposed when vertical orientation is selected — tests down the
    sheet, one column per board). As DATA the transpose is the stacked long
    form: one row per (step, conv_id) with the final attempt's value, step as
    the major axis. Downstream writers pivot to the paper layout; the engine
    ships the layout-free long table (a million-column DataFrame is not a
    thing)."""
    steps = steps or EXPORT_STEPS
    base = steps_a.where(F.col("step").isin(steps) & F.col("is_last"))
    return base.groupBy("step", "conv_id").agg(F.max("value").alias("value"))


def limit_change_points(steps_a: DataFrame) -> DataFrame:
    """W7: WHERE each limit change happened — lag over ts per step
    (main.rs:1322-1345 warns which tests changed; this localizes the change)."""
    w = Window.partitionBy("step").orderBy("ts", "conv_id", "turn_idx", "line_no")
    lim = F.struct("lo", "nom", "hi")
    prev = F.lag(lim).over(w)
    return (
        steps_a.where(F.col("lo").isNotNull())
        .withColumn("prev", prev)
        .where(F.col("prev").isNotNull() & (F.col("prev") != lim))
        .select(
            "step",
            fmt_ts("ts"),
            F.col("prev.lo").alias("prev_lo"),
            F.col("prev.hi").alias("prev_hi"),
            "lo",
            "hi",
        )
    )


def daily_report(runs: DataFrame) -> DataFrame:
    """Daily yield report day buckets: [D 06:00, D+1 06:00) per
    daily_yield.rs:203-214 — per shifted day: ok/nok runs + pct."""
    day = F.date_format(F.col("run_ts") - F.expr("INTERVAL 6 HOURS"), "yyyy-MM-dd")
    return (
        runs.groupBy(day.alias("report_day"))
        .agg(*ok_nok())
        .withColumn("pct", FN.percentage(F.col("ok"), F.col("nok")))
    )


def step_value_stats(steps_a: DataFrame) -> DataFrame:
    """Per-step measurement statistics vs limits (the per-test plot view,
    main.rs:1014-1083, summarized): n, mean, stddev, out-of-limit count, and
    process-capability Cp/Cpk. Variance via explicit sum/sum-of-squares so the
    DuckDB oracle computes the identical formula."""
    v = steps_a.where(F.col("value").isNotNull() & F.col("lo").isNotNull())
    agg = v.groupBy("step").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum(
            F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1).otherwise(0)
        ).alias("n_out"),
    )
    mean = F.col("s1") / F.col("n")
    # same epsilon-negative-variance clamp as step_cpk_trend (ADVICE r02)
    var = F.greatest(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1), F.lit(0.0)
    )
    sd = F.sqrt(var)
    return agg.where(F.col("n") > 1).select(
        "step",
        "n",
        F.round(mean, 2).alias("mean"),
        F.round(sd, 2).alias("stddev"),
        "n_out",
        F.round((F.col("hi") - F.col("lo")) / (6 * sd), 2).alias("cp"),
        F.round(
            F.least(F.col("hi") - mean, mean - F.col("lo")) / (3 * sd), 2
        ).alias("cpk"),
    )


def step_series(steps_a: DataFrame, step: str = "r210", board_idx: int | None = None) -> DataFrame:
    """The per-test plot view (main.rs:1014-1083): time-ordered measurement
    series for ONE selected step — (ts, conv, panel index, value, limits,
    status) — optionally filtered to a panel position (F5, clamp at the UI
    layer). Equality filters prune at the scan; the ordering column set makes
    rows deterministic."""
    s = steps_a.where((F.col("step") == step) & F.col("value").isNotNull())
    if board_idx is not None:
        s = s.where(F.col("board_idx") == board_idx)
    return s.select(
        fmt_ts("ts"),
        "conv_id",
        "board_idx",
        "attempt",
        "value",
        "lo",
        "nom",
        "hi",
        "status",
    )


def step_histogram(steps_a: DataFrame, n_bins: int = 10) -> DataFrame:
    """Measurement distribution per step (the plot view's histogram):
    ``n_bins`` equal-width bins across [lo, hi], out-of-range clamped into the
    edge bins — per (step, bin): count + bin edges. Pure double arithmetic,
    identical in both engines."""
    v = steps_a.where(F.col("value").isNotNull() & F.col("lo").isNotNull())
    # per-step FIXED edges (limits can change mid-stream — A6 — so edges come
    # from the step's overall [min lo, max hi] envelope, broadcast back)
    ext = v.groupBy("step").agg(F.min("lo").alias("blo"), F.max("hi").alias("bhi"))
    j = v.join(F.broadcast(ext), "step").where(F.col("bhi") > F.col("blo"))
    width = (F.col("bhi") - F.col("blo")) / F.lit(float(n_bins))
    bin_ = F.greatest(
        F.lit(0),
        F.least(F.lit(n_bins - 1), F.floor((F.col("value") - F.col("blo")) / width).cast("int")),
    )
    return (
        j.withColumn("bin", bin_)
        .groupBy("step", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("blo") + F.min("bin") * (F.max("bhi") - F.min("blo")) / n_bins, 6).alias(
                "bin_lo"
            ),
        )
    )


def mb_result_boxes(runs: DataFrame) -> DataFrame:
    """The multiboard result-box row (draw_result_box, main.rs:1248,1390-1403):
    per (session, attempt) one row with the per-position results laid out in
    board_idx order as 'idx:result' cells — the panel strip the reference
    paints, as data."""
    cells = F.transform(
        F.array_sort(F.collect_list(F.struct("board_idx", "result"))),
        lambda s: F.concat_ws(":", s["board_idx"].cast("string"), s["result"]),
    )
    return (
        runs.groupBy("session_id", "attempt")
        .agg(
            F.date_format(F.min("run_ts"), TS_FMT).alias("run_ts"),
            F.array_join(cells, " ").alias("boxes"),
            F.sum(F.when(F.col("any_fail") == 1, 1).otherwise(0)).alias("n_fail"),
        )
    )


def step_cpk_trend(steps_a: DataFrame) -> DataFrame:
    """Process-capability TREND: step_value_stats sliced per day — per
    (step, day): n, mean, stddev, cpk. The drift view a test engineer watches
    (the reference recomputes capability over whatever window is loaded; the
    trend makes the time dimension explicit). Same explicit sum/sum-of-squares
    math so the oracle matches bit-for-bit."""
    v = steps_a.where(F.col("value").isNotNull() & F.col("lo").isNotNull())
    agg = v.groupBy("step", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )
    mean = F.col("s1") / F.col("n")
    # clamp: float summation order can push s2 - s1²/n epsilon-negative in one
    # engine only (Spark sqrt → NaN, DuckDB sqrt → hard error); identical
    # greatest(var, 0) on both sides keeps them bit-compatible (ADVICE r02)
    var = F.greatest(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1), F.lit(0.0)
    )
    sd = F.sqrt(var)
    return agg.where(F.col("n") > 1).select(
        "step",
        "day",
        "n",
        F.round(mean, 2).alias("mean"),
        F.round(sd, 2).alias("stddev"),
        F.round(F.least(F.col("hi") - mean, mean - F.col("lo")) / (3 * sd), 2).alias("cpk"),
    )


def tool_latency(transcripts: DataFrame) -> DataFrame:
    """Per-tool turn latency: gap between a tool turn and the previous turn of
    its conv (lag over turn order — the reference's per-test timing view
    generalized to agent tool calls). Per tool: calls, avg/max gap seconds.
    One window partitioned by conv (fine grain), then an algebraic agg —
    map-side combinable, no hot keys."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # ts arrives as TIMESTAMP_NTZ from parquet; NTZ→LTZ (session tz is pinned
    # UTC) → epoch-seconds double keeps sub-second precision in both engines
    sec = F.col("ts").cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    g = transcripts.withColumn("gap_s", gap).where(
        F.col("tool").isNotNull() & F.col("gap_s").isNotNull()
    )
    return g.groupBy("tool").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
        F.round(F.max("gap_s"), 4).alias("max_gap_s"),
    )


def error_bursts(steps_a: DataFrame) -> DataFrame:
    """Consecutive-failure bursts per conv (islands-and-gaps): a burst is a
    maximal run of failing step executions in (turn_idx, line_no) order.
    Per conv: burst count + longest burst — the 'is this board dying or
    flaky?' signal a test engineer reads off the strip chart. Two windows on
    the same (conv) partitioning → one Exchange."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "line_no")
    wf = Window.partitionBy("conv_id", "is_fail").orderBy("turn_idx", "line_no")
    grp = F.row_number().over(w) - F.row_number().over(wf)
    d = steps_a.withColumn("is_fail", (F.col("status") != "pass").cast("int")).withColumn(
        "grp", grp
    )
    bursts = (
        d.where("is_fail = 1")
        .groupBy("conv_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return bursts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_bursts"), F.max("len").alias("max_burst")
    )


def limit_regime_asof(steps_a: DataFrame) -> DataFrame:
    """AS-OF (backward) join — the canonical operator Spark lacks natively,
    expressed as a composition: each measured execution is joined to the
    limit REGIME in effect at its timestamp (the most recent limit-change
    event at-or-before ts, per step). The reference warns limits changed
    (main.rs:1322-1345); this answers "under WHICH limits was this value
    measured?" for every row.

    Scale shape: regime events (bounded by catalog × change count — tiny) are
    UNIONed with the query rows and a single last-non-null carry-forward
    window over (step) ordered by (ts, marker) assigns each query its
    regime. One shuffle on the step key, no per-row subquery, no range join
    explosion — the standard big-data as-of composition. Ties: a query at
    exactly the change timestamp sees the NEW regime (marker orders regime
    rows first), matching DuckDB's native `ASOF JOIN ... ON q.ts >= r.rts`,
    which is exactly what the oracle runs — engine-native as-of semantics
    cross-checking the composition."""
    lim = steps_a.where(F.col("lo").isNotNull())
    w = Window.partitionBy("step").orderBy("ts", "conv_id", "turn_idx", "line_no")
    tup = F.struct("lo", "nom", "hi")
    ev = (
        lim.withColumn("prev", F.lag(tup).over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != tup))
        .select(
            "step",
            F.col("ts").alias("rts"),
            F.col("lo").alias("regime_lo"),
            F.col("hi").alias("regime_hi"),
            "conv_id",
            "turn_idx",
            "line_no",
        )
    )
    # one regime per (step, rts): keep the LAST event at that instant under
    # the same deterministic order both engines use
    wd = Window.partitionBy("step", "rts").orderBy(
        F.desc("conv_id"), F.desc("turn_idx"), F.desc("line_no")
    )
    ev1 = ev.withColumn("_rn", F.row_number().over(wd)).where("_rn = 1")
    r_side = ev1.select(
        "step",
        F.col("rts").alias("ts"),
        F.lit(0).alias("marker"),
        "rts",
        "regime_lo",
        "regime_hi",
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.lit(None).cast("int").alias("line_no"),
        F.lit(None).cast("double").alias("value"),
    )
    q_side = steps_a.where(F.col("value").isNotNull()).select(
        "step",
        "ts",
        F.lit(1).alias("marker"),
        F.lit(None).cast("timestamp_ntz").alias("rts"),
        F.lit(None).cast("double").alias("regime_lo"),
        F.lit(None).cast("double").alias("regime_hi"),
        "conv_id",
        "turn_idx",
        "line_no",
        "value",
    )
    u = r_side.unionByName(q_side)
    carry = (
        Window.partitionBy("step")
        .orderBy("ts", "marker", "conv_id", "turn_idx", "line_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        u.withColumn("c_lo", F.last("regime_lo", ignorenulls=True).over(carry))
        .withColumn("c_hi", F.last("regime_hi", ignorenulls=True).over(carry))
        .withColumn("c_since", F.last("rts", ignorenulls=True).over(carry))
        .where("marker = 1")
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "line_no",
        "step",
        fmt_ts("ts"),
        "value",
        F.col("c_lo").alias("regime_lo"),
        F.col("c_hi").alias("regime_hi"),
        F.date_format("c_since", TS_FMT).alias("regime_since"),
    )


def conv_reports(transcripts: DataFrame) -> DataFrame:
    """Raw per-conv report reconstruction (get_report_for_SB analog,
    log_info_window.rs:27-54): full conversation text, turns in order.
    Point lookup = .where(conv_id = <dmc>) on top of this."""
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("turn_idx", "text"))), lambda x: x["text"]
    )
    return transcripts.groupBy("conv_id").agg(
        F.concat_ws("\n\n", ordered).alias("report"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def export_matrix_final_run(steps_a: DataFrame, steps: list[str] | None = None) -> DataFrame:
    """Export variant matching the reference's only_final_logs EXACTLY
    (main.rs:1277-1280): values come from each conv's FINAL RUN (highest
    attempt rank), not from each step's own last attempt — steps absent from
    the final run stay null, as the reference leaves them blank."""
    steps = steps or EXPORT_STEPS
    w = Window.partitionBy("conv_id")
    final_run = steps_a.withColumn("max_attempt", F.max("attempt").over(w)).where(
        F.col("attempt") == F.col("max_attempt")
    )
    return _pivot_steps(final_run.where(F.col("step").isin(steps)), steps)


def tool_chain_stats(transcripts: DataFrame) -> DataFrame:
    """Tool-call chain mining over agent transcripts: successive TOOL_CALL
    markers within a conversation (order = turn_idx, line_no — the stable
    turn ordering of the input_hint) become (tool → next_tool) transition
    counts with distinct-conversation support. The workflow-shape view of
    the reference's per-test sequencing, generalized to agent tool chains.
    One conv-scoped window (fine grain, the tool_latency class) + one
    map-side-combinable agg."""
    from ictspark import parse

    tc = parse.parse_tool_calls(transcripts).select(
        "conv_id", "turn_idx", "line_no", "called_tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "line_no")
    ch = tc.withColumn("next_tool", F.lead("called_tool").over(w)).where(
        F.col("next_tool").isNotNull()
    )
    return ch.groupBy("called_tool", "next_tool").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
