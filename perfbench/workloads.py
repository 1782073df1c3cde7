"""The benchmark's workloads: set-up, warm-up, one iteration, output checks,
and the per-layer probes of the traced run.

Each workload is a closed loop with one client: the next library call starts
only after the previous one returned. An *op* is one top-level library call
the iteration waits on (ReportSet construction, materialize, a report, the
routed write, an ingest cycle, a store report, a curation call). Every op
that returns rows is checked after the timed region against the repo's
DuckDB oracles (`ictspark.oracle`, `ictspark.extras.oracle_extras`) through
`ictspark.compare.diff`.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark import aggregates as A
from ictspark import checkpoint as CK
from ictspark import enrich, io, oracle, parse
from ictspark import product_report as PR
from ictspark import route as R
from ictspark.compare import diff
from ictspark.extras import curation, dedup
from ictspark.extras import oracle_extras as OX
from ictspark.pipeline import ReportSet

from perfbench import inputs
from perfbench.spans import Tracer

# ReportSet.all_reports() keys (test_smoke pins the equality) and the
# product_reports() keys; each is checked against the oracle of its name
REPORTS = (
    "yields", "failure_counts", "failures_by_index", "hourly_stats", "mb_results",
    "limit_changes", "first_fail", "failed_boards", "route_counts",
)
PRODUCT_REPORTS = ("product_hourly", "product_daily_failures", "product_failed_boards")
_ORACLE_OF = {"yields": "yield_report"}

SPINE_CONVS = 1000  # ~17k turns; the iteration is dominated by driver planning
WARM_CONVS = 40
# Two arrival slices shorter than a day, then an idle poll: the first cycle
# writes day 1 open, the second rewrites and commits it and opens day 2, the
# poll takes the idle fast path. More cycles cost ~3 s each and show nothing new.
SLICE_HOURS = 20
ARRIVALS = 2
CURATION_DOCS = 500
WARM_DOCS = 60

SPINE_SPANS = (
    "pipeline.ctor", "pipeline.materialize", "pipeline.product_reports", "route.write_routed",
    "io.load_transcripts", "checkpoint.run_incremental", "checkpoint.report_from_store",
)
REPORT_SPANS = tuple(f"report.{r}" for r in REPORTS + PRODUCT_REPORTS)
PROBE_SPANS = (
    "io.load", "parse.parse_steps", "aggregates.with_attempt", "aggregates.runs",
    "enrich.enrich_steps", "product_report.product_runs",
)
CURATION_SPANS = ("extras.curation.curate_pipeline",)
CURATION_PROBE_SPANS = ("extras.dedup.minhash_lsh_pairs", "extras.curation.dedup_components")


@dataclass
class Op:
    name: str
    seconds: float
    check: Callable[[], str | None] | None = None  # None: the op returns no rows
    error: str | None = None


@dataclass
class Iteration:
    wall_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


class Oracles:
    """DuckDB oracle results, computed once per SQL string.

    `lean_planner` turns off DuckDB optimizer passes that do not change
    results but spend ~20 s planning the many-CTE `curation_manifest`
    oracle; with them off it plans and runs in ~6 s."""

    def __init__(self, lean_planner: bool = False) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        if lean_planner:
            self.con.execute(
                "SET disabled_optimizers = "
                "'statistics_propagation,compressed_materialization,filter_pushdown'"
            )
        self._cache: dict[str, pd.DataFrame] = {}

    def rows(self, sql: str) -> pd.DataFrame:
        if sql not in self._cache:
            self._cache[sql] = self.con.execute(sql).df()
        return self._cache[sql]


def _timed_op(ops: list[Op], name: str, fn, check=None):
    """Run `fn` as one op. An exception fails the op and returns None."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # benchmark boundary: record the failure, keep measuring
        ops.append(Op(name, time.perf_counter() - t0, error=repr(e)))
        return None
    ops.append(Op(name, time.perf_counter() - t0, check=(lambda: check(out)) if check else None))
    return out


def _collect(tracer: Tracer, name: str, build: Callable[[], DataFrame]) -> pd.DataFrame:
    """Build a DataFrame and collect its rows, as one span."""
    with tracer.span(name) as sp:
        df = build()
        pdf = df.toPandas()
        tracer.collected(sp, df)
    return pdf


def _parquet_stats(path: str) -> tuple[int, int]:
    files = n_bytes = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return files, n_bytes


def _size(path: str) -> int:
    return os.path.getsize(path) if os.path.exists(path) else 0


class SpineAndIngest:
    """Transcripts through the batch spine, then through incremental ingest.

    Batch: `ReportSet(...)`, `materialize`, the nine `all_reports()`, the
    three `product_reports()` and `route.write_routed`, from `ReportSet`
    construction to the routed write committed. Ingest: the same transcripts
    arrive in ts-ordered slices shorter than a day; each cycle loads the
    landing directory and calls `checkpoint.run_incremental`, then reads
    `checkpoint.report_from_store` and computes route counts from it. The
    last cycle is an idle poll with no new input."""

    name = "spine_and_ingest"

    def __init__(self, spark: SparkSession, work: str, seed: int, scale: float, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_convs = max(20, int(SPINE_CONVS * scale))
        self.files = spark.sparkContext.defaultParallelism
        self.oracles = Oracles()
        self.inp: inputs.Transcripts | None = None
        self.slices: list[pa.Table] = []

    def setup_once(self, k: int) -> None:
        """Generate the input and load it."""
        self.inp = inputs.transcripts(os.path.join(self.work, f"input-{k}"), self.seed, self.n_convs, self.files)
        if io.load_transcripts(self.spark, self.inp.dir).count() != self.inp.turns:
            raise RuntimeError("loaded transcripts differ from the generated rows")
        self.slices = inputs.arrival_slices(self.inp.table, SLICE_HOURS)[:ARRIVALS]

    def warm_up(self) -> None:
        """One batch-spine pass, one arrival cycle and one idle poll over a
        small input of its own."""
        warm = inputs.transcripts(os.path.join(self.work, "warm"), self.seed + 1_000_003, WARM_CONVS, self.files)
        it_dir = os.path.join(self.work, "warm-iter")
        self._spine(warm, it_dir, Iteration())
        first = [s for s in inputs.arrival_slices(warm.table, SLICE_HOURS) if s.num_rows][:1]
        self._ingest(warm, first, it_dir, Iteration())

    def iterate(self, it_dir: str) -> Iteration:
        it = Iteration()
        spine_s = self._spine(self.inp, it_dir, it)
        it.wall_s = spine_s + self._ingest(self.inp, self.slices, it_dir, it)
        return it

    def _spine(self, inp: inputs.Transcripts, it_dir: str, it: Iteration) -> float:
        spark, tr, ops = self.spark, self.tracer, it.ops
        t = io.load_transcripts(spark, inp.dir)
        tool_dim, _ = io.load_dims(spark, inp.dir)
        routed = os.path.join(it_dir, "routed")
        t_in = time.perf_counter()

        def ctor():
            with tr.span("pipeline.ctor"):
                return ReportSet(t, tool_dim)

        rs = _timed_op(ops, "pipeline.ctor", ctor)
        if rs is None:
            raise RuntimeError(f"ReportSet construction failed: {ops[-1].error}")

        def materialize():
            with tr.span("pipeline.materialize"):
                return rs.materialize()

        _timed_op(ops, "pipeline.materialize", materialize, self._check_steps)
        if tr.enabled:
            info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            it.counters["pipeline.barrier_disk_bytes"] = sum(r.diskSize() for r in info)
            it.counters["pipeline.storage_mem_bytes"] = sum(r.memSize() for r in info)
        for name in REPORTS:
            _timed_op(
                ops, f"report.{name}",
                lambda name=name: _collect(tr, f"report.{name}", getattr(rs, name)),
                self._check_report(name),
            )

        def product_reports():
            with tr.span("pipeline.product_reports"):
                return rs.product_reports()

        prs = _timed_op(ops, "pipeline.product_reports", product_reports) or {}
        for name in PRODUCT_REPORTS:
            if name in prs:
                _timed_op(
                    ops, f"report.{name}",
                    lambda name=name: _collect(tr, f"report.{name}", lambda: prs[name]),
                    self._check_report(name),
                )

        def write():
            with tr.span("route.write_routed"):
                R.write_routed(rs.enriched(), routed)
            return routed

        _timed_op(ops, "route.write_routed", write, self._check_routed)
        wall = time.perf_counter() - t_in
        rs.unpersist()
        files, n_bytes = _parquet_stats(routed)
        it.counters.update({
            "route.files_written": files,
            "route.bytes_written": n_bytes,
            "route.store_bytes_per_input_byte": n_bytes / inp.input_bytes,
        })
        return wall

    def _ingest(self, inp: inputs.Transcripts, slices: list[pa.Table], it_dir: str, it: Iteration) -> float:
        """The arrival loop; returns its wall time without the slice writes,
        which stand for input arriving and are the client's work."""
        spark, tr, ops = self.spark, self.tracer, it.ops
        landing = os.path.join(it_dir, "landing")
        os.makedirs(os.path.join(landing, "transcripts.parquet"))
        inputs.write_dims(landing)
        store, ck = os.path.join(it_dir, "store"), os.path.join(it_dir, "ck")
        tool_dim, _ = io.load_dims(spark, inp.dir)
        wall = 0.0
        plan = [(k, False) for k in range(1, len(slices) + 1)] + [(len(slices), True)]
        for k, is_idle in plan:
            if not is_idle:
                pq.write_table(slices[k - 1], os.path.join(landing, "transcripts.parquet", f"slice-{k:03d}.parquet"))
            t_vis = time.perf_counter()

            def cycle():
                with tr.span("io.load_transcripts"):
                    visible = io.load_transcripts(spark, landing)
                with tr.span("checkpoint.run_incremental"):
                    return CK.run_incremental(spark, visible, tool_dim, store, ck)

            days = _timed_op(ops, "checkpoint.run_incremental", cycle)

            def store_report():
                return _collect(
                    tr, "checkpoint.report_from_store",
                    lambda: CK.report_from_store(spark, store).groupBy("route_key").agg(
                        F.count(F.lit(1)).alias("n")
                    ),
                )

            _timed_op(ops, "checkpoint.report_from_store", store_report, self._check_visible(k, "route_counts"))
            wall += time.perf_counter() - t_vis
        # the last cycle's op also answers for the store-backed yields,
        # checked against the one-shot oracle over the same visible input
        last = ops[-1]
        if last.check is not None:
            yields = A.yields(CK.report_from_store(spark, store)).toPandas()
            routes_check, yields_check = last.check, self._check_visible(len(slices), "yield_report")
            last.check = lambda: routes_check() or yields_check(yields)
        _, store_bytes = _parquet_stats(store)
        _, landed_bytes = _parquet_stats(os.path.join(landing, "transcripts.parquet"))
        it.counters.update({
            "checkpoint.journal_bytes": _size(os.path.join(ck, "_lineage.jsonl")),
            "snapshots.log_bytes": _size(os.path.join(ck, "_snapshots.jsonl")),
            "checkpoint.idle_fastpath_hits": int(days == []),
            "checkpoint.store_bytes_per_input_byte": store_bytes / landed_bytes,
        })
        return wall

    # ---- output checks, run after the timed region ----

    def _sql(self) -> dict[str, str]:
        q = oracle.transcript_oracles(self.inp.transcripts_glob, self.inp.tool_dim_path)
        q.update(oracle.product_oracles(self.inp.transcripts_glob, self.inp.tool_dim_path))
        return q

    def _steps_sql(self) -> str:
        return f"SELECT COUNT(*) AS n FROM ({self._sql()['parse_steps']})"

    def _check_report(self, name: str):
        return lambda pdf: diff(pdf, self.oracles.rows(self._sql()[_ORACLE_OF.get(name, name)]))

    def _check_steps(self, counts: dict[str, int]) -> str | None:
        want = int(self.oracles.rows(self._steps_sql())["n"][0])
        return None if counts["steps"] == want else f"steps: spark={counts['steps']} duck={want}"

    def _check_routed(self, path: str) -> str | None:
        """Routed-store row counts per route_key against route_counts."""
        tbl = pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=["route_key"])
        got = tbl.group_by("route_key").aggregate([("route_key", "count")]).to_pandas()
        got = got.rename(columns={"route_key_count": "n"})
        return diff(got, self.oracles.rows(self._sql()["route_counts"]))

    def _check_visible(self, k: int, oracle_name: str):
        """A store-backed result after a cycle against its oracle over
        exactly the slices visible to that cycle."""

        def check(pdf):
            path = os.path.join(self.work, "checks", f"visible-{k:03d}.parquet")
            if not os.path.exists(path):
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(pa.concat_tables(self.slices[:k]), path)
            sql = oracle.transcript_oracles(path, self.inp.tool_dim_path)[oracle_name]
            return diff(pdf, self.oracles.rows(sql))

        return check

    # ---- traced-run probes: each layer alone, over a materialized input ----

    def probes(self, it: Iteration) -> dict[str, float]:
        spark, tr = self.spark, self.tracer
        with tr.span("io.load") as sp:
            t = io.load_transcripts(spark, self.inp.dir)
            tool_dim, _ = io.load_dims(spark, self.inp.dir)
            df = t.select(F.sum(F.length("text")).alias("chars"))
            df.collect()
            tr.collected(sp, df)

        def layer(name: str, build: Callable[[], DataFrame]) -> tuple[DataFrame, int]:
            with tr.span(name) as sp:
                df = build().localCheckpoint(eager=False)
                agg = df.select(F.count(F.lit(1)).alias("n"))
                n = agg.collect()[0]["n"]
                tr.collected(sp, agg)
            return df, n

        steps, n_steps = layer("parse.parse_steps", lambda: parse.parse_steps(t))
        steps_a, _ = layer("aggregates.with_attempt", lambda: A.with_attempt(steps))
        layer("aggregates.runs", lambda: A.runs(steps_a))
        es, _ = layer("enrich.enrich_steps", lambda: enrich.enrich_steps(steps_a, tool_dim))
        layer("product_report.product_runs", lambda: PR.product_runs(es))
        return {"parse.steps_per_line_scanned": n_steps / self.inp.lines}


class CurationBatch:
    """Seeded documents through `extras.curation.curate_pipeline`, which runs
    MinHash-LSH pairs and connected components inside; the traced run also
    calls `extras.dedup.minhash_lsh_pairs` and
    `extras.curation.dedup_components` alone. The transcript layers do
    nothing here."""

    name = "curation_batch"

    def __init__(self, spark: SparkSession, work: str, seed: int, scale: float, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_docs = max(30, int(CURATION_DOCS * scale))
        self.oracles = Oracles(lean_planner=True)
        self.path = ""
        self._sql: dict[str, str] | None = None

    def setup_once(self, k: int) -> None:
        self.path = os.path.join(self.work, f"documents-{k}.parquet")
        inputs.documents(self.path, self.seed, self.n_docs)
        if self.spark.read.parquet(self.path).count() != self.n_docs:
            raise RuntimeError("loaded documents differ from the generated rows")

    def warm_up(self) -> None:
        """`curate_pipeline` over a small input of its own; it runs the
        MinHash and connected-component paths internally. (A second pass
        cost ~10 s per run and did not narrow the spread across runs.)"""
        path = os.path.join(self.work, "warm-documents.parquet")
        inputs.documents(path, self.seed + 1_000_003, WARM_DOCS)
        curation.curate_pipeline(self.spark.read.parquet(path)).toPandas()

    def iterate(self, it_dir: str) -> Iteration:
        tr = self.tracer
        it = Iteration()
        docs = self.spark.read.parquet(self.path)
        t_in = time.perf_counter()
        _timed_op(
            it.ops, "extras.curation.curate_pipeline",
            lambda: _collect(tr, "extras.curation.curate_pipeline", lambda: curation.curate_pipeline(docs)),
            self._check("curation_manifest"),
        )
        it.wall_s = time.perf_counter() - t_in
        return it

    def _check(self, name: str):
        def check(pdf):
            if self._sql is None:
                q = OX.extras_oracles("", "")
                self._sql = {n: q[n] for n in ("curation_manifest", "minhash_lsh_pairs", "dedup_components")}
                self.oracles.con.execute(
                    f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{self.path}')"
                )
            return diff(pdf, self.oracles.rows(self._sql[name]))

        return check

    # ---- traced-run probes: the two calls curate_pipeline runs inside ----

    def probes(self, it: Iteration) -> dict[str, float]:
        tr = self.tracer
        docs = self.spark.read.parquet(self.path)
        pairs = _timed_op(
            it.ops, "extras.dedup.minhash_lsh_pairs",
            lambda: _collect(tr, "extras.dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs)),
            self._check("minhash_lsh_pairs"),
        )

        def components():
            with tr.span("extras.curation.dedup_components") as sp:
                labels = curation.dedup_components(docs)
                try:
                    pdf = labels.toPandas()
                    tr.collected(sp, labels)
                finally:
                    labels.unpersist()  # caller contract: release the persisted labels
            return pdf

        _timed_op(it.ops, "extras.curation.dedup_components", components, self._check("dedup_components"))
        return {"extras.dedup.minhash_lsh_pairs.pairs_out": len(pairs) if pairs is not None else 0}


WORKLOADS = {w.name: w for w in (SpineAndIngest, CurationBatch)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
