"""Incremental repeated n-gram SPAN dedup store — the Lee et al. 2021
exact-substring stage (``dedup.repeated_ngram_spans``, r09) under the
standing-ingest regime, one level below the paragraph store: batches
arrive forever and the corpus-wide k-gram keeper election (plus every
doc's span-cut rewrite) must stay current without re-tokenizing stored
text.

Cost split — the paragraph store's argument at token granularity:

  - PER-DOC TOKEN FACTS are computed exactly once, at ingest, from the
    batch's text: the k-gram occurrence stream (doc_id, s, h — the
    ``dedup._span_base`` definition verbatim, so stored facts ARE the
    one-shot operator's exploded form) and a per-doc registry row carrying
    the token array (state because the REWRITE is an output — exactly the
    paragraph store's rule of storing the paragraph text).
  - The GLOBAL KEEPER of a k-gram hash (lexicographic-min (doc_id, s)
    across every batch ever ingested) is maintained as append-only
    per-batch MIN DELTAS — one narrow row per distinct hash IN THE BATCH
    (within-batch duplicate mass pre-collapsed at ingest). No corpus-wide
    occurrence count is needed: a hash's keeper occurrence is never
    removed and non-keeper occurrences exist only when the hash repeats,
    so "duplicate" is exactly "not the global keeper". Ingest reads no
    stored state beyond the doc_id-pruned re-push guard.
  - The READ path re-derives spans from compact state: fold the min
    deltas (map-side-combinable groupBy), join occurrences on the hash,
    collect each doc's duplicate starts and run the shared
    ``dedup._cut_spans`` tail (interval merge + min_span forgiveness +
    rewrite) over the stored token arrays. Keeper flips are inherently
    retroactive — a late-arriving lower (doc_id, s) occurrence demotes a
    stored keeper and re-opens spans in a stored doc — so decisions
    re-derive while the text work never repeats.

k is the store's immutable identity (pinned at first commit; a different
k is a different operator — ingests under a mismatched k raise).
min_span stays the one-shot default (= k).

Equality contract (pytest + the ``repeated_ngram_spans_incremental``
driver oracle): N-batch ingest == one-shot ``repeated_ngram_spans(union,
k)`` bit for bit, any split and arrival order — keeper election is a pure
min over an arrival-order-free set, and span merging is per-doc math over
facts that never depend on batching.

Each ingest writes three immutable ``batch=<id>`` partitions (occurrences,
min delta, doc registry), then one commit line (``extras.store``) that
records k.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark.extras import store
from ictspark.session import barrier

SPAN_STORE_FORMAT = "s1"

_OCC_SCHEMA = "doc_id long, s int, h string"
_MIN_SCHEMA = "h string, fdoc long, fs int"
_DOC_SCHEMA = "doc_id long, toks array<string>, n_tokens int"


def _check_k(journal: store.Journal, store_dir: str, k: int) -> None:
    for e in journal.batches:
        if int(e.get("k", -1)) != k:
            raise ValueError(
                f"store {store_dir!r} was built with k={e.get('k')}; this ingest "
                f"asks for k={k} — k is the store's identity, build a new store"
            )


def ingest_batch(
    batch_docs: DataFrame, store_dir: str, batch_id: str, k: int = 8
) -> dict:
    """Ingest one batch: ONE tokenize pass (``dedup._span_base``), three
    immutable partition writes, one journal commit. O(batch) text work;
    the only stored read is the doc_id-pruned re-push guard."""
    from ictspark.extras.dedup import _span_base

    spark = batch_docs.sparkSession
    batch = store.open_batch(
        batch_docs,
        store_dir,
        batch_id,
        SPAN_STORE_FORMAT,
        identity=lambda j: _check_k(j, store_dir, k),
    )
    if batch.skipped:
        return {"batch": batch_id, "skipped": True, "n_docs": batch.n}
    prior = batch.journal.ids
    if prior:
        stored_docs = store.read_parts(spark, store_dir, "docs", prior, _DOC_SCHEMA)
        store.reject_repush(batch_docs, stored_docs, batch_id)
    t0 = time.time()
    base, occs = _span_base(batch_docs, k)
    occs = barrier(occs)  # ONE tokenize pass feeds both writes
    occs.write.mode("overwrite").parquet(store.part(store_dir, "occ", batch_id))
    (
        occs.groupBy("h")
        .agg(F.min(F.struct("doc_id", "s")).alias("m"))
        .select("h", F.col("m.doc_id").alias("fdoc"), F.col("m.s").alias("fs"))
        .write.mode("overwrite")
        .parquet(store.part(store_dir, "minh", batch_id))
    )
    base.select("doc_id", "toks", F.col("n_tokens").cast("int").alias("n_tokens")).write.mode(
        "overwrite"
    ).parquet(store.part(store_dir, "docs", batch_id))
    n_occ = occs.count()
    batch.journal.commit(
        batch_id,
        rows=batch.n,
        input_sig=batch.sig,
        format=SPAN_STORE_FORMAT,
        k=k,
        n_occurrences=n_occ,
        duration_s=round(time.time() - t0, 3),
    )
    return {"batch": batch_id, "skipped": False, "n_docs": batch.n, "n_occurrences": n_occ}


def spans_read(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing output — one row per ingested doc in the exact
    ``dedup.repeated_ngram_spans`` shape: (doc_id, n_tokens,
    removed_tokens, removed_frac, new_text). Keeper flips are retroactive,
    so duplicate flags re-derive here from the folded min deltas; the
    span merge / min_span / rewrite tail is the SHARED ``dedup._cut_spans``
    (one definition, not a copy), running over the stored token arrays."""
    from ictspark.extras.dedup import _cut_spans

    entries = store.Journal(store_dir).batches
    if not entries:
        raise ValueError(f"span store {store_dir!r} has no committed batches")
    batches = [e["partition"] for e in entries]
    k = int(entries[0]["k"])
    occ = store.read_parts(spark, store_dir, "occ", batches, _OCC_SCHEMA)
    minh = store.read_parts(spark, store_dir, "minh", batches, _MIN_SCHEMA)
    docs = store.read_parts(spark, store_dir, "docs", batches, _DOC_SCHEMA)
    first = minh.groupBy("h").agg(
        F.min(F.struct(F.col("fdoc").alias("doc_id"), F.col("fs").alias("s"))).alias(
            "first"
        )
    )
    dups = (
        occ.join(first, "h")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("s") != F.col("first.s"))
        )
        .select("doc_id", "s")
    )
    return _cut_spans(docs, dups, k, k)


def incremental_spans_demo(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """The graded driver entry (``repeated_ngram_spans_incremental``):
    ``store.DEMO_BATCHES`` interleaved doc_id-mod arrival batches (repeated
    spans routinely straddle batches, so keeper election genuinely crosses
    ingests), k=8 — the registry's pinned one-shot sizing. Oracle = the
    one-shot ``repeated_ngram_spans`` SQL over the union corpus."""
    store_dir = store.demo_store("spans", documents, ingest_batch, f"fmt{SPAN_STORE_FORMAT}")
    return spans_read(spark, store_dir)
