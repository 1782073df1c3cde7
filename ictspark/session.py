"""SparkSession factory with the scale-oriented defaults used everywhere.

AQE on (runtime re-plan + skew-join splitting), adaptive partition coalescing,
UTC session timezone (SEMANTICS.md formatting parity), Arrow enabled for the
mapInArrow parse variant. ``barrier`` is the one materialization policy.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def shuffle_partitions_for(cores: int, cluster: bool | None = None) -> int:
    """Shuffle-partition heuristic, as code rather than a comment.

    - local single-JVM mode: 1× cores (measured, BENCH: per-partition
      map-output + AQE-decision overhead dominates at bench scales — 32 vs 64
      partitions = 10.4 s vs 16.3 s at sf0.1/local[32]), floor 16;
    - cluster mode (multi-executor): 3× total cores — stragglers/skew need
      over-decomposition and AQE coalescing makes the higher initial count
      safe there. Enable with cluster=True or ICTSPARK_CLUSTER=1.
    """
    if cluster is None:
        raw = os.environ.get("ICTSPARK_CLUSTER", "0").strip().lower()
        cluster = raw not in ("", "0", "false", "no", "off")
    return max(3 * cores if cluster else cores, 16)


def get_spark(
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    app: str = "ictspark",
    extra: dict[str, str] | None = None,
    cluster: bool | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or shuffle_partitions_for(cpus, cluster)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # dynamic-partition writes (the routed fan-out) otherwise SORT each
        # task's full wide rows by the partition columns — profiled at 2.8 GB
        # memory + 0.5 GB disk spill and ~11% of the write phase at sf4/32
        # CPUs (r09). The distinct (route_key, day, salt) groups per task are
        # ~10; 36 writers keeps every group's writer open with headroom, so
        # the sort never runs. Memory bound: ≤36 open parquet writers per
        # task, far under executor memory at the row-group sizes used here.
        .config("spark.sql.maxConcurrentOutputFileWriters", "36")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("ICTSPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("ICTSPARK_DRIVER_MEM", "8g"))
        # measured on this host (BENCH): ParallelGC beats default G1 by ~20%
        # on the allocation-heavy parse/agg stages at 2-8 threads and never
        # loses at 32; override with ICTSPARK_GC (e.g. -XX:+UseG1GC for big
        # heaps on real executors).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("ICTSPARK_GC", "-XX:+UseParallelGC"),
        )
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """The one materialization barrier: materialize ``df`` once and cut its
    lineage, for every module.

    - Lineage truncation: a cached frame keeps its full logical plan, so
      each fresh DataFrame over it re-pays driver-side analysis of that
      plan (measured 1.3-1.5 s vs 0.56-0.72 s for a fresh-plan
      ``yields().collect()`` at sf0.1/32, r10).
    - A proxy with several consumers (both sides of a self-join, a drop
      branch plus the next stage) must be materialized: ``mapInArrow``
      stages never canonicalize equal across plan branches, so exchange
      reuse never fires and the upstream Python pass re-runs per consumer.
    - ``DISK_ONLY``: checkpoint blocks are not evictable and
      ``unpersist()`` cannot release them, so in the memory pool they
      accumulate across calls until aggregation tasks fail with
      ``UNABLE_TO_ACQUIRE_MEMORY`` (reproduced at sf4/local[32] in
      scripts/_scaling_job.py). On disk they stream back through the OS
      page cache; the ContextCleaner drops them once the frame is
      unreferenced.
    - A reliable ``checkpoint`` when the session has a checkpoint dir (the
      cluster path: local-checkpoint blocks die with their executor).
    - ``unpersist()`` on the returned frame is a no-op.

    Lazy by default: the first action materializes the frame inside its
    own job. ``eager=True`` only where the next line releases a cache the
    barrier reads (a persisted input, a CC loop's labels); lazily, that
    release would make the first action recompute them from scratch."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
