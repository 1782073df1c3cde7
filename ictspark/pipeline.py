"""End-to-end pipeline orchestration (SURVEY.md §3.1 "Spark translation").

ReportSet materializes the three shared intermediates exactly once —

    steps_a  (parse + attempt windows, the per-measurement table)
    runs     (per (conv, attempt) — the reference's per-logfile record)
    fails    (failing executions only, ~10-15% of steps)

— and derives every report from the smallest sufficient one. This mirrors the
reference's design (update() computes all derived stats from one in-memory
collection, main.rs:420) and is the scale-correct shape: each report then
costs ONE aggregation over an already-materialized, much smaller input instead
of re-running parse + windows per report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ictspark import aggregates as A
from ictspark import enrich, parse
from ictspark.session import barrier


class ReportSet:
    def __init__(self, transcripts: DataFrame, tool_dim: DataFrame) -> None:
        self.tool_dim = tool_dim
        self.steps_a = barrier(A.with_attempt(parse.parse_steps(transcripts)))
        self.runs = barrier(A.runs(self.steps_a))
        self.fails = barrier(self.steps_a.where(F.col("status") != "pass"))
        self._product_runs: DataFrame | None = None  # lazy, see product_reports()

    def materialize(self) -> dict[str, int]:
        return {
            "steps": self.steps_a.count(),
            "runs": self.runs.count(),
            "fails": self.fails.count(),
        }

    # --- reports over `runs` (tiny) ---

    def yields(self) -> DataFrame:
        return A.yields_from_run_grain(self.runs)

    def hourly_stats(self) -> DataFrame:
        return A.hourly_stats(self.runs)

    def mb_results(self) -> DataFrame:
        return A.mb_results(self.runs)

    # --- reports over `fails` (small); failed_boards also reads `runs` ---

    def failure_counts(self) -> DataFrame:
        return A.failure_counts(self.fails)

    def failures_by_index(self) -> DataFrame:
        return A.failures_by_index(self.fails)

    def first_fail(self) -> DataFrame:
        return A.first_fail(self.fails)

    def failed_boards(self) -> DataFrame:
        return A.failed_boards(self.runs, self.fails)

    # --- reports over `steps_a` ---

    def limit_changes(self) -> DataFrame:
        return A.limit_changes(self.steps_a)

    def route_counts(self) -> DataFrame:
        return enrich.route_counts(self.enriched())

    def enriched(self) -> DataFrame:
        return enrich.enrich_steps(self.steps_a, self.tool_dim)

    def all_reports(self) -> dict[str, DataFrame]:
        return {
            "yields": self.yields(),
            "failure_counts": self.failure_counts(),
            "failures_by_index": self.failures_by_index(),
            "hourly_stats": self.hourly_stats(),
            "mb_results": self.mb_results(),
            "limit_changes": self.limit_changes(),
            "first_fail": self.first_fail(),
            "failed_boards": self.failed_boards(),
            "route_counts": self.route_counts(),
        }

    def product_reports(self) -> dict[str, DataFrame]:
        """The write_product composite (per-route daily report) — kept out of
        all_reports() so the scaling-protocol workload stays the nine
        aggregates BENCH/BASELINE.md measured.

        product_runs — the (route_key, conv_id, attempt) wide shuffle that is
        the composite's dominant cost — is materialized ONCE and shared by
        product_hourly and product_failed_boards (VERDICT r02 nit #1: the two
        reports previously each recomputed it)."""
        from ictspark import product_report as PR

        es = self.enriched()
        if self._product_runs is None:
            self._product_runs = barrier(PR.product_runs(es))
        return {
            "product_hourly": PR.product_hourly(es, runs=self._product_runs),
            "product_daily_failures": PR.product_daily_failures(es),
            "product_failed_boards": PR.product_failed_boards(es, runs=self._product_runs),
        }

    def unpersist(self) -> None:
        for df in (self.steps_a, self.runs, self.fails):
            df.unpersist()
        if self._product_runs is not None:
            self._product_runs.unpersist()
            self._product_runs = None
