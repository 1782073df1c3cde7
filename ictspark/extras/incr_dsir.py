"""Incremental DSIR store — `curation.dsir_weights` (Xie et al. 2023)
under the standing-ingest regime: raw batches arrive forever and every
doc's importance weight against the FIXED target distribution must stay
current without re-tokenizing stored text.

Cost split (the journaled-store purity argument, third instance):

  - The TARGET side is the store's immutable identity, committed at init
    (like the curation store's benchmark set): its hashed-n-gram bucket
    counts and total are computed once and frozen — the target
    distribution must not drift under the docs already scored against it
    (a new target is a re-selection, not an ingest).
  - PER-DOC FEATURE COUNTS are computed exactly once, at ingest, from the
    batch's text: (doc_id, bucket, count) over the family's hashed
    unigram+bigram features — compact integer rows (≤ 2·tokens per doc,
    no text), written as an immutable ``batch=<id>`` partition together
    with a per-batch BUCKET-COUNT DELTA (≤ n_buckets narrow rows: the
    batch's contribution to the raw-corpus distribution, pre-reduced at
    ingest). The expensive text dimension is pure O(batch); the only
    stored bytes an ingest touches are the column-pruned doc_id reads of
    the re-push guard.
  - The READ path re-derives weights from compact state: fold the bucket
    deltas (bounded by n_buckets — the table is FIXED-SIZE regardless of
    corpus), build the smoothed target/raw log-ratio table, broadcast it
    against the stored per-doc counts, sum per doc. Weights are inherently
    retroactive — every new batch shifts the raw distribution q, so every
    stored doc's log w = Σ c_b (ln p_b − ln q_b) moves — which is exactly
    why the decision re-derives while the text work never repeats.

Equality contract (pytest + the ``dsir_weights_incremental`` driver
oracle): N-batch ingest == one-shot ``curation.dsir_weights`` over the
union raw corpus against the same target, bit for bit (same rounding), any
split and arrival order — both distributions are pure multiset sums.

Store identity: the ``__init__`` journal entry (``extras.store``) commits
the target's content signature and bucket sizing; each ingest writes its two
partitions, then one commit line.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark.extras import store
from ictspark.extras.curation import DSIR_BUCKETS
from ictspark.session import barrier

DSIR_STORE_FORMAT = "d1"

_FEAT_SCHEMA = "doc_id long, b long, c long"
_DELTA_SCHEMA = "b long, c long"


def _doc_feats(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, bucket, count) — the ``dsir_weights`` feature definition
    (``curation.dsir_feature_stream``: hashed unigrams + bigrams built
    map-side, no window), pre-counted per doc so stored rows are compact
    integers, never text."""
    from ictspark.extras.curation import dsir_feature_stream

    return (
        dsir_feature_stream(docs, n_buckets)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def init_store(
    target_docs: DataFrame, store_dir: str, n_buckets: int = DSIR_BUCKETS
) -> dict:
    """Freeze the target distribution: its per-bucket counts (≤ n_buckets
    rows) and the sizing are the store's immutable identity. Idempotent
    under identical inputs; drift raises."""
    n, nd, sig_str = store.input_sig(target_docs)
    if nd != n:
        raise ValueError(
            f"target set contains duplicate doc_ids ({n} rows, {nd} distinct)"
        )
    journal = store.Journal(store_dir)
    prior = journal.init
    params = {
        "target_sig": sig_str,
        "n_buckets": n_buckets,
        "format": DSIR_STORE_FORMAT,
    }
    if prior is not None:
        got = {k: prior.get(k) for k in params}
        if got != params:
            raise ValueError(
                f"dsir store {store_dir!r} was initialized with {got}; this init "
                f"asks for {params} — a store's target set and sizing are "
                "immutable, build a new store"
            )
        return {"skipped": True, "n_target": n}
    tf = _doc_feats(target_docs, n_buckets)
    tf.groupBy("b").agg(F.sum("c").alias("c")).write.mode("overwrite").parquet(
        os.path.join(store_dir, "target")
    )
    journal.commit(store.INIT_PARTITION, rows=n, input_sig=sig_str, **params)
    return {"skipped": False, "n_target": n}


def _require_init(journal: store.Journal, store_dir: str) -> None:
    if journal.init is None:
        raise ValueError(
            f"dsir store {store_dir!r} is not initialized — call init_store with "
            "the target set first (it defines the distribution every future "
            "batch is scored against)"
        )


def ingest_batch(batch_docs: DataFrame, store_dir: str, batch_id: str) -> dict:
    """One text pass over the batch → per-doc feature counts + the batch's
    bucket-count delta, two immutable partition writes, one commit.
    O(batch) text work; the only stored read is the doc_id-pruned
    re-push guard."""
    spark = batch_docs.sparkSession
    batch = store.open_batch(
        batch_docs,
        store_dir,
        batch_id,
        DSIR_STORE_FORMAT,
        identity=lambda j: _require_init(j, store_dir),
    )
    if batch.skipped:
        return {"batch": batch_id, "skipped": True, "n_docs": batch.n}
    init = batch.journal.init
    n_buckets = int(init["n_buckets"])
    prior = batch.journal.ids
    if prior:
        stored = store.read_parts(spark, store_dir, "feats", prior, _FEAT_SCHEMA)
        store.reject_repush(batch_docs, stored.select("doc_id").distinct(), batch_id)
    t0 = time.time()
    real = _doc_feats(batch_docs, n_buckets)
    # ADVICE r09: a token-less doc emits ZERO feature rows, so its doc_id
    # was invisible to the feats-based re-push guard above and the same id
    # could be silently re-ingested later with different content. Every
    # batch doc now registers in the feats partition — token-less docs via
    # a (b = -1, c = 0) sentinel row. Sentinels can never reach a score:
    # real buckets are pmod-nonnegative, so the ratio table has no -1 row
    # and the scoring join drops them (weights_read also filters b >= 0
    # explicitly); the delta write excludes them at the source. No store
    # layout or format change — older stores simply contain no sentinels.
    sentinels = (
        batch_docs.select("doc_id")
        .join(real.select("doc_id").distinct(), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(-1).cast("long").alias("b"),
            F.lit(0).cast("bigint").alias("c"),
        )
    )
    feats = barrier(real.unionByName(sentinels))
    feats.write.mode("overwrite").parquet(store.part(store_dir, "feats", batch_id))
    (
        feats.where(F.col("b") >= 0)
        .groupBy("b")
        .agg(F.sum("c").alias("c"))
        .write.mode("overwrite")
        .parquet(store.part(store_dir, "delta", batch_id))
    )
    n_feat_rows = feats.where(F.col("b") >= 0).count()
    batch.journal.commit(
        batch_id,
        rows=batch.n,
        input_sig=batch.sig,
        format=DSIR_STORE_FORMAT,
        n_buckets=n_buckets,
        target_sig=init["target_sig"],
        n_feat_rows=n_feat_rows,
        duration_s=round(time.time() - t0, 3),
    )
    return {
        "batch": batch_id,
        "skipped": False,
        "n_docs": batch.n,
        "n_feat_rows": n_feat_rows,
    }


def weights_read(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing weights — one row per ingested raw doc, the exact
    ``dsir_weights`` output shape (doc_id, n_feats, logw). The raw
    distribution folds from the per-batch deltas (≤ n_buckets rows per
    batch — FIXED-SIZE regardless of corpus), the smoothed log-ratio table
    broadcasts, and the stored integer counts score without any text."""
    journal = store.Journal(store_dir)
    init = journal.init
    if init is None:
        raise ValueError(f"dsir store {store_dir!r} is not initialized")
    batches = journal.ids
    if not batches:
        raise ValueError(f"dsir store {store_dir!r} has no committed batches")
    n_buckets = int(init["n_buckets"])
    tcnt = spark.read.schema(_DELTA_SCHEMA).parquet(
        os.path.join(store_dir, "target")
    ).withColumnRenamed("c", "ct")
    rcnt = (
        store.read_parts(spark, store_dir, "delta", batches, _DELTA_SCHEMA)
        .groupBy("b")
        .agg(F.sum("c").alias("cr"))
    )
    ttot = tcnt.agg(F.sum("ct").cast("double").alias("tt"))
    rtot = rcnt.agg(F.sum("cr").cast("double").alias("rt"))
    ratio = (
        tcnt.join(rcnt, "b", "full_outer")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .select(
            "b",
            (
                F.log((F.coalesce("ct", F.lit(0)) + 1.0) / (F.col("tt") + n_buckets))
                - F.log((F.coalesce("cr", F.lit(0)) + 1.0) / (F.col("rt") + n_buckets))
            ).alias("lr"),
        )
    )
    feats = store.read_parts(spark, store_dir, "feats", batches, _FEAT_SCHEMA).where(
        F.col("b") >= 0  # drop the token-less-doc registry sentinels (ingest)
    )
    return (
        feats.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("logw"),
        )
    )


def _demo_store(documents: DataFrame) -> str:
    """Target = the doc_id%5==0 split (the dsir_weights registry
    convention), the raw rest arriving as ``store.DEMO_BATCHES`` interleaved
    batches into the content-keyed demo store — the same dir for both demo
    entries, so they share one store when both run."""
    return store.demo_store(
        "dsir",
        documents.where(F.col("doc_id") % 5 != 0),
        ingest_batch,
        f"fmt{DSIR_STORE_FORMAT}",
        init=lambda d: init_store(documents.where(F.col("doc_id") % 5 == 0), d),
    )


def incremental_dsir_demo(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """The graded driver entry (``dsir_weights_incremental``): the standing
    weights. Oracle = the one-shot ``dsir_weights`` SQL over the union."""
    return weights_read(spark, _demo_store(documents))


def incremental_select_demo(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """The graded ``dsir_select_incremental`` entry: the standing SELECTION
    over the same store. Oracle = the one-shot ``dsir_select`` SQL over the
    union."""
    return select_read(spark, _demo_store(documents))


def select_read(
    spark: SparkSession, store_dir: str, budget_tokens: int | None = None
) -> DataFrame:
    """The standing SELECTION — ``curation.dsir_select`` over the store's
    current weights, without reading any text: the family's whitespace
    token count is DERIVABLE from the stored facts (a doc with n >= 1
    tokens has exactly n unigram + n-1 bigram occurrences, so n =
    (n_feats + 1) / 2 — integer-exact), so the rank, the budget line and
    the keep prefix all re-derive from compact state. Selection is
    retroactive twice over: every arrival moves every stored doc's weight
    AND adds competitors under the same budget — exactly why it's a read,
    never ingest state. ws units only (the derivation is the ws
    tokenizer's; subword budgeting needs the one-shot operator or a
    stored column). Output = the exact ``dsir_select`` shape."""
    from ictspark.extras.curation import DSIR_SELECT_BUDGET

    if budget_tokens is None:
        budget_tokens = DSIR_SELECT_BUDGET
    # r10: the two-phase budget prefix is the ONE shared implementation
    # (curation.dsir_budget_prefix — auto-scaled score buckets, VERDICT r09
    # wrong-item 1 + the consolidation rule); this read builds only the
    # store-derived input columns.
    from ictspark.extras.curation import dsir_budget_prefix

    w = weights_read(spark, store_dir)
    d = w.select(
        "doc_id",
        "n_feats",
        "logw",
        F.round(F.col("logw") / F.col("n_feats"), 6).alias("score"),
        ((F.col("n_feats") + 1) / 2).cast("bigint").alias("n_tokens"),
    )
    return dsir_budget_prefix(d, budget_tokens)
