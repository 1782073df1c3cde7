"""Incremental SEMANTIC dedup over a persisted embedding-assignment store
(VERDICT r07 item 6) — the embedding twin of ``extras/incremental.py``: a
real corpus's embeddings arrive in batches, and re-running SemDeDup over
everything per batch is O(corpus) assignment work (plus the full
within-cluster join) for O(batch) of new data. This module persists each
vector's coarse-cluster ASSIGNMENT once, at ingest, and each new batch:

  (a) assigns ONLY the new vectors — one broadcast K-row centroid join,
      O(batch × K). The centroid table is PINNED at the first commit
      (written into the store, content-signed in the journal): assignment
      is a pure function of (vector, centroids), so a frozen assignment
      stays valid forever — exactly the max_df=None purity rule the MinHash
      store earns with per-doc signatures. Re-training centroids means a
      NEW store, never a silent drift of this one;
  (b) pair-joins new-vs-(stored ∪ new) WITHIN CLUSTERS only — the SemDeDup
      blocking (Abbas et al. 2023), but never old-vs-old: those pairs were
      found when their batches ingested. Per-batch compute is
      O(batch × cluster occupancy), not O(corpus²);
  (c) appends the batch's qualifying pairs as an immutable partition and
      flips the batch live with one commit line (``extras.store``).

No connected components, by the OPERATOR's own semantics: SemDeDup's keep
rule is greedy lowest-id-survives — a vector is dropped iff ANY lower-id
within-cluster vector is ≥ threshold similar (``semantic_keep_list``), so
the standing dropped set is exactly the distinct HIGHER endpoints of the
standing pair set. Each canonical pair (a < b) is discovered exactly once —
when its later-arriving endpoint ingests — so the union of per-batch pair
partitions IS the one-shot pair set, and a late-arriving LOW id correctly
flips an already-stored keeper to dropped (its id appears as the pair's
``vec_b``). The equality contract, pinned by ``test_incr_semantic`` and the
``semantic_dedup_incremental`` driver oracle: N-batch ingest ==
``semantic_keep_list`` over the union corpus, bit-for-bit, for any split.

Store layout (the v2 "prune by key" rule — band buckets become cluster
buckets): vectors/batch=<id>/cb=<n>/ narrow (vec_id, cent_id, v, norm)
rows, directory-partitioned by cb = pmod(cent_id, n_buckets), so an ingest
reads only the cluster buckets its new batch was assigned to; the row-level
cent_id semi-join then prunes within the bucket. pairs/batch=<id>/ holds
(vec_a, vec_b, sim). Reference analog: the AutoUpdate incremental merge
(main.rs:257-310), per-product state keyed exactly like these per-cluster
partitions.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark.extras import store
from ictspark.extras.similarity import (
    SEMANTIC_THRESHOLD,
    _cluster_assign,
    _dot,
    _with_norm,
)

SEM_STORE_FORMAT = 1
# cluster-bucket directories; K<=16 fixture stores get one dir per cluster,
# trained-quantizer stores (K in the thousands) stay at a bounded fanout
SEM_STORE_BUCKETS = 16
# probe-side broadcast rail (the BROADCAST_MAX_BAND_ROWS twin): batches
# under this many vectors broadcast into the new-vs-stored join so the
# stored side is scanned but never shuffled
BROADCAST_MAX_VECS = 200_000


def _vec_root(store_dir: str) -> str:
    return os.path.join(store_dir, "vectors")


def _cent_path(store_dir: str) -> str:
    return os.path.join(store_dir, "centroids")


def _cent_sig(cents: DataFrame) -> str:
    h = F.xxhash64("cent_id", "cv")
    r = cents.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.bit_xor(h), F.lit(0)).alias("x")
    ).first()
    return f"{r['n']}:{r['x']}"


def _check_pinned(
    journal: store.Journal,
    store_dir: str,
    centroids: DataFrame | None,
    threshold: float,
    n_buckets: int,
) -> None:
    """The store's identity: (threshold, n_buckets) sizing and the centroid
    table, pinned by the first commit."""
    if not journal.batches:
        if centroids is None:
            raise ValueError("first ingest must pass the centroid table to pin")
        return
    e0 = journal.batches[0]
    if e0.get("threshold") != threshold or e0.get("n_buckets") != n_buckets:
        raise ValueError(
            f"semantic store {store_dir!r} was built at threshold="
            f"{e0.get('threshold')}, n_buckets={e0.get('n_buckets')} — "
            "sizing is immutable, use a new store"
        )
    if centroids is not None and _cent_sig(centroids) != e0.get("cent_sig"):
        raise ValueError(
            f"semantic store {store_dir!r} pins a different centroid table "
            "— assignments are frozen against it; re-clustering means a "
            "new store"
        )


def ingest_vectors(
    batch_embeddings: DataFrame,
    store_dir: str,
    batch_id: str,
    centroids: DataFrame | None = None,
    threshold: float = SEMANTIC_THRESHOLD,
    n_buckets: int = SEM_STORE_BUCKETS,
) -> dict:
    """Ingest one arrival batch of embeddings. First commit pins the
    centroid table (required then; optional-but-verified later) and the
    (threshold, n_buckets) sizing; every later ingest must match."""
    spark = batch_embeddings.sparkSession
    batch = store.open_batch(
        batch_embeddings,
        store_dir,
        batch_id,
        SEM_STORE_FORMAT,
        "vec_id",
        "embedding",
        identity=lambda j: _check_pinned(j, store_dir, centroids, threshold, n_buckets),
    )
    n_rows = batch.n
    if batch.skipped:
        return {"batch": batch_id, "skipped": True, "n_vecs": n_rows, "n_new_pairs": 0}
    if not batch.journal.batches:
        centroids.write.mode("overwrite").parquet(_cent_path(store_dir))
    cents = spark.read.parquet(_cent_path(store_dir))
    t0 = time.time()
    committed_ids = batch.journal.ids
    stored_paths = store.written_parts(store_dir, "vectors", committed_ids)
    if stored_paths:
        stored_ids = (
            spark.read.option("basePath", _vec_root(store_dir))
            .parquet(*stored_paths)
            .select("vec_id")
        )
        store.reject_repush(batch_embeddings, stored_ids, batch_id, "vec_id")
    # (a) assign ONLY the new batch — broadcast K rows, O(batch × K)
    assign = _cluster_assign(_with_norm(batch_embeddings), cents).withColumn(
        "cb", F.pmod(F.col("cent_id"), F.lit(n_buckets)).cast("int")
    )
    batch_path = store.part(store_dir, "vectors", batch_id)
    (
        assign.repartition(n_buckets, "cb")
        .sortWithinPartitions("cb", "cent_id", "vec_id")
        .write.mode("overwrite")
        .partitionBy("cb")
        .parquet(batch_path)
    )
    # explicit schema on the read-back (ADVICE r08, medium — same latent
    # pattern as incremental.ingest_batch): an empty embedding batch's
    # partitionBy write leaves no data files, so an inferred-schema read
    # raises UNABLE_TO_INFER_SCHEMA; the given schema makes it an empty frame.
    b_new = spark.read.schema(assign.schema).parquet(batch_path)
    t_assign = time.time()
    touched = sorted(r["cb"] for r in b_new.select("cb").distinct().collect())
    # (b) within-cluster pairs, new-vs-new ∪ new-vs-stored, never old-vs-old
    sim = lambda av, bv, an, bn: F.round(_dot(av, bv) / (an * bn), 6)  # noqa: E731
    lhs = b_new.select(
        "cent_id", F.col("vec_id").alias("vec_a"), F.col("v").alias("av"), F.col("norm").alias("an")
    )
    rhs = b_new.select(
        "cent_id", F.col("vec_id").alias("vec_b"), F.col("v").alias("bv"), F.col("norm").alias("bn")
    )
    pairs = (
        lhs.join(rhs, "cent_id")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")))
        .where(F.col("sim") >= threshold)
        .select("cent_id", "vec_a", "vec_b", "sim")
    )
    read_bytes = 0
    if stored_paths and touched:
        root = _vec_root(store_dir)
        stored = (
            spark.read.option("basePath", root)
            .parquet(*stored_paths)
            .where(F.col("cb").isin(touched))
            # row-level prune inside the bucket: only clusters the batch
            # actually landed in (≤ K values, broadcast semi-join)
            .join(F.broadcast(b_new.select("cent_id").distinct()), "cent_id", "left_semi")
        )
        for c in committed_ids:
            for cb in touched:
                read_bytes += store.dir_bytes(os.path.join(root, f"batch={c}", f"cb={cb}"))
        probe = F.broadcast(b_new) if n_rows <= BROADCAST_MAX_VECS else b_new
        cross = (
            probe.alias("a")
            .join(stored.alias("o"), F.col("a.cent_id") == F.col("o.cent_id"))
            .select(
                F.col("a.cent_id").alias("cent_id"),
                F.least(F.col("a.vec_id"), F.col("o.vec_id")).alias("vec_a"),
                F.greatest(F.col("a.vec_id"), F.col("o.vec_id")).alias("vec_b"),
                sim(F.col("a.v"), F.col("o.v"), F.col("a.norm"), F.col("o.norm")).alias("sim"),
            )
            .where(F.col("sim") >= threshold)
        )
        pairs = pairs.unionByName(cross)
    pairs_path = store.part(store_dir, "pairs", batch_id)
    pairs.write.mode("overwrite").parquet(pairs_path)
    n_new_pairs = spark.read.parquet(pairs_path).count()
    t_pairs = time.time()
    batch.journal.commit(
        batch_id,
        rows=n_rows,
        input_sig=batch.sig,
        n_new_pairs=int(n_new_pairs),
        threshold=threshold,
        n_buckets=n_buckets,
        format=SEM_STORE_FORMAT,
        cent_sig=_cent_sig(cents),
        touched_buckets=len(touched),
        read_bytes_stored=read_bytes,
        duration_s=round(t_pairs - t0, 3),
    )
    return {
        "batch": batch_id,
        "skipped": False,
        "n_vecs": n_rows,
        "n_new_pairs": int(n_new_pairs),
        "touched_buckets": len(touched),
        "read_bytes_stored": read_bytes,
        "t_assign_s": round(t_assign - t0, 3),
        "t_pairs_s": round(t_pairs - t_assign, 3),
    }


def semantic_keep_read(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing keep/drop decision over everything ingested:
    ``semantic_keep_list``'s exact output shape (vec_id, cent_id, keep),
    read from the store — one column-pruned scan of the assignments plus
    one of the pair partitions, no similarity math."""
    ids = store.Journal(store_dir).ids
    if not ids:
        raise ValueError(f"semantic store {store_dir!r} has no committed batches")
    apaths = store.written_parts(store_dir, "vectors", ids)
    if not apaths:
        raise ValueError(
            f"semantic store {store_dir!r} has no ingested vectors (all "
            "committed batches were empty)"
        )
    a = (
        spark.read.option("basePath", _vec_root(store_dir))
        .parquet(*apaths)
        .select("vec_id", "cent_id")
    )
    dropped = (
        spark.read.parquet(*[store.part(store_dir, "pairs", i) for i in ids])
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("keep", F.lit(0))
    )
    return a.join(dropped, "vec_id", "left").select(
        "vec_id", "cent_id", F.coalesce("keep", F.lit(1)).alias("keep")
    )


def incremental_semantic_demo(
    spark: SparkSession, embeddings: DataFrame, threshold: float = SEMANTIC_THRESHOLD
) -> DataFrame:
    """The graded driver entry (``semantic_dedup_incremental``): pin the
    fixed-subset quantizer over the corpus, ingest ``store.DEMO_BATCHES``
    vec_id-mod interleaved batches (semantic near-dups routinely straddle
    batches, so new-vs-stored and the late-low-id keeper flip are genuinely
    exercised), return the standing keep list. Oracle: the one-shot
    ``semantic_keep_list`` SQL over the union corpus — the hash match proves
    batched ingest == the SemDeDup definition."""
    from ictspark.extras.similarity import fixed_centroids

    cents = fixed_centroids(embeddings)
    store_dir = store.demo_store(
        "sem",
        embeddings,
        lambda b, d, i: ingest_vectors(b, d, i, centroids=cents, threshold=threshold),
        threshold,
        f"fmt{SEM_STORE_FORMAT}",
        id_col="vec_id",
        content=("embedding",),
    )
    return semantic_keep_read(spark, store_dir)
