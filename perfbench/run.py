#!/usr/bin/env python3
"""ictspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload spine_and_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts one Spark session at
local[<usable CPUs>], generates its inputs from --seed under
.perfbench_work/, sets up several times (median reported as part of
setup_s), warms up on a small input, then runs closed-loop iterations until
--seconds have passed. Outputs are checked against the DuckDB oracles after
the timed region. With --trace 0 the result holds the end-to-end metrics;
with --trace 1 it holds the per-layer metrics of a traced run, and the spans
are written as JSON lines to .perfbench_work/trace/. Metric names and units
are declared in BENCHMARK.json; see perfbench/README.md for definitions.
Exits non-zero when any output disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def _tree_peak_rss_bytes() -> int:
    """Sum of the kernel's peak RSS (VmHWM) over this process and its
    descendants: the driver JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we listed /proc
            children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (smoke tests)")
    return p.parse_args(argv)


def _session(work: str):
    from ictspark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        cpus=cpus,
        app="perfbench",
        extra={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the first job pays the JVM's one-time costs; count them as session start
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def _measure(args, spark, work: str) -> dict:
    from perfbench import workloads as W
    from perfbench.spans import Tracer

    tracer = Tracer(spark, enabled=False)
    wl = W.WORKLOADS[args.workload](spark, work, args.seed, args.scale, tracer)
    setup_runs = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.setup_once(k)
        setup_runs.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    print(f"perfbench: setup input_s={setup_runs} warm_s={warm_s:.3f}", file=sys.stderr)

    # closed loop; a traced run alternates plain and traced iterations
    plain, traced = [], []
    t_start = time.perf_counter()
    k = 0
    while True:
        use_trace = bool(args.trace) and k % 2 == 1
        tracer.enabled = use_trace
        tracer.iteration = f"it{k}"
        before = tracer.overhead_s
        with tracer.span("iteration"):
            it = wl.iterate(os.path.join(work, f"iter-{k}"))
        it.counters["trace.overhead_s"] = tracer.overhead_s - before
        (traced if use_trace else plain).append(it)
        print(
            f"perfbench: iteration {k}{' traced' if use_trace else ''} wall_s={it.wall_s:.3f} "
            + " ".join(f"{op.name}={op.seconds:.3f}" for op in it.ops),
            file=sys.stderr,
        )
        k += 1
        if time.perf_counter() - t_start >= args.seconds and (traced or not args.trace):
            break
    probe_counters = {}
    probe_ops = W.Iteration()
    if args.trace:
        tracer.enabled = True
        tracer.iteration = "probe"
        probe_counters = wl.probes(probe_ops)
        tracer.finish()

    ops = [op for it in plain + traced + [probe_ops] for op in it.ops]
    out = {"ops": ops, "setup_runs": setup_runs, "warm_s": warm_s}
    if args.trace:
        out["layers"] = _per_layer(W, tracer, plain, traced, probe_counters)
        trace_dir = os.path.join(ROOT, ".perfbench_work", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path, tracer.records(), out["layers"])
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    else:
        op_s = [op.seconds for it in plain for op in it.ops]
        out["e2e"] = {"wall_s": W.median([it.wall_s for it in plain]), "op_p50_s": W.median(op_s)}
    return out


def _check(ops) -> int:
    """Run every op's output check; returns the number of failed ops."""
    t0 = time.perf_counter()
    failed = 0
    for op in ops:
        bad = op.error
        if bad is None and op.check is not None:
            try:
                bad = op.check()
            except Exception as e:  # a check that cannot run fails its op
                bad = repr(e)
        if bad is not None:
            failed += 1
            print(f"perfbench: {op.name} FAILED: {bad}", file=sys.stderr)
    print(f"perfbench: checks_s={time.perf_counter() - t0:.3f}", file=sys.stderr)
    return failed


def _per_layer(W, tracer, plain, traced, probe_counters) -> dict[str, float]:
    recs = tracer.records()
    iters = [r["iteration"] for r in recs if r["name"] == "iteration"]

    def med_sum(name: str, key: str, iteration: str | None = None) -> float:
        its = [iteration] if iteration else iters
        return W.median([
            sum(r[key] for r in recs if r["name"] == name and r["iteration"] == i) for i in its
        ])

    m: dict[str, float] = {}
    for name in W.SPINE_SPANS + W.CURATION_SPANS:
        m[f"{name}.self_s"] = med_sum(name, "self_s")
        m[f"{name}.driver_ms"] = med_sum(name, "driver_ms")
        m[f"{name}.exec_run_s"] = med_sum(name, "exec_run_s")
    for name in W.REPORT_SPANS:
        m[f"{name}.self_s"] = med_sum(name, "self_s")
        m[f"{name}.plan_ms"] = med_sum(name, "plan_ms")
        m[f"{name}.exec_run_s"] = med_sum(name, "exec_run_s")
    for name in W.PROBE_SPANS + W.CURATION_PROBE_SPANS:
        m[f"{name}.self_s"] = med_sum(name, "self_s", "probe")
        m[f"{name}.driver_ms"] = med_sum(name, "driver_ms", "probe")
        m[f"{name}.exec_run_s"] = med_sum(name, "exec_run_s", "probe")
    for key in sorted({k for it in traced for k in it.counters}):
        m[key] = W.median([it.counters.get(key, 0.0) for it in traced])
    m.update(probe_counters)
    mh = "extras.dedup.minhash_lsh_pairs"
    cand = med_sum(mh, "join_output_rows", "probe")
    m[f"{mh}.candidate_pairs"] = cand
    m[f"{mh}.pair_yield"] = m.get(f"{mh}.pairs_out", 0.0) / cand if cand else 0.0
    m["extras.curation.dedup_components.jobs"] = med_sum("extras.curation.dedup_components", "jobs", "probe")
    py = med_sum("extras.curation.curate_pipeline", "python_worker_s")
    m["extras.python_worker_s"] = py
    m["extras.jvm_task_s"] = med_sum("extras.curation.curate_pipeline", "exec_run_s") - py
    top = {
        i: sum(r["wall_s"] for r in recs if r["iteration"] == i and r["parent"] is not None
               and recs[r["parent"]]["name"] == "iteration")
        for i in iters
    }
    m["trace.coverage"] = W.median([top[i] / it.wall_s for i, it in zip(iters, traced)])
    m["trace.wall_delta_s"] = W.median([it.wall_s for it in traced]) - W.median([it.wall_s for it in plain])
    return m


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ictspark", "__init__.py")):
        print(f"perfbench: no ictspark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temporary file of Python, Arrow, DuckDB and the JVM inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work)
        session_s = time.perf_counter() - t0
        print(f"perfbench: session_s={session_s:.3f}", file=sys.stderr)
        res = _measure(args, spark, work)
        peak_rss = _tree_peak_rss_bytes()
        spark.stop()
        spark = None
        jvm = _end_jvm()  # the JVM exits while the checks run; they need no Spark
        failed = _check(res["ops"])
        if jvm is not None:
            jvm.wait(timeout=60)
        setup_s = session_s + statistics.median(res["setup_runs"]) + res["warm_s"]
        if args.trace:
            values = res["layers"]
            names = spec["per_layer"]
        else:
            values = {**res["e2e"], "setup_s": setup_s, "peak_rss_mb": peak_rss / 2**20}
            names = spec["end_to_end"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names
        }
        bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
        if bad:
            raise RuntimeError(f"non-finite metrics: {bad}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(res["ops"]),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            spark.stop()
        jvm = _end_jvm()
        if jvm is not None:
            jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


def _end_jvm():
    """Close the gateway JVM's stdin, on which it exits; returns its process
    for the caller to wait on, or None when no JVM is running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None or proc.stdin.closed:
        return None
    gateway.shutdown()
    proc.stdin.close()
    return proc


if __name__ == "__main__":
    sys.exit(main())
