"""Incremental repeated-paragraph dedup store — the Lee et al. 2021
sub-document stage (``dedup.paragraph_dedup``, r09) under the standing-
ingest regime of the other journaled stores: batches arrive forever and the
corpus-wide paragraph keep/drop (plus every doc's rewrite) must stay
current without re-splitting stored text.

Cost split, the established purity argument one level down:

  - PER-DOC PARAGRAPH FACTS are computed exactly once, at ingest, from the
    batch's text: the content-paragraph occurrences (doc_id, para_idx,
    md5 hash, paragraph text — the text is state because the REWRITE is an
    output) and a per-doc registry row (so zero-paragraph docs still emit).
    Splitting and hashing — the expensive text dimension — is O(batch) per
    batch, full stop.
  - The GLOBAL KEEPER of a paragraph hash (lexicographic-min (doc_id,
    para_idx) across every batch ever ingested) is maintained as append-only
    per-batch MIN DELTAS: each ingest writes one narrow row per distinct
    hash IN THE BATCH (within-batch duplicate mass pre-collapsed at ingest).
    Ingest never reads stored state at all — there is no O(store) term.
  - The READ path re-derives keep flags from compact state: fold the min
    deltas (one narrow groupBy with map-side combine), join occurrences on
    the hash, regroup per doc for the rewrite. Keeper flips are inherently
    retroactive — a late-arriving LOWER (doc_id, para_idx) occurrence
    demotes the stored keeper and changes the stored doc's rewrite — so
    per-doc outputs re-derive at read, exactly the manifest-store argument
    (decisions re-derive; facts never recompute).

Equality contract (the pytest + the ``paragraph_dedup_incremental`` driver
oracle): N-batch ingest == ``dedup.paragraph_dedup`` over the union corpus,
bit for bit, any split and arrival order — keeper election is a pure min
over an arrival-order-free set.

Each ingest writes three immutable ``batch=<id>`` partitions (occurrences,
min delta, doc registry), then one commit line (``extras.store``); the doc
registry backs the re-push guard.

Scale shape at 100 TB: ingest is a pure map + one narrow per-batch
pre-aggregation; the read path's keeper fold shuffles one row per
(batch, distinct-hash) — boilerplate repeated 10⁷ times across batches
folds map-side per delta partition before the exchange; the occurrence join
is an equi-join on the hash (one row per distinct hash on the build side);
the rewrite regroup rides the doc_id key. No window over the corpus, no
driver-side state.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark.extras import store
from ictspark.session import barrier

PARA_STORE_FORMAT = "p1"

_OCC_SCHEMA = "doc_id long, para_idx int, h string, para string"
_MIN_SCHEMA = "h string, fdoc long, fidx int"
_DOC_SCHEMA = "doc_id long, n_paras long"


def _segments(batch_docs: DataFrame) -> DataFrame:
    """The batch's content-paragraph occurrences — the ``paragraph_dedup``
    split, verbatim (same expr, same whitespace-strip rule), so the stored
    facts are definitionally the one-shot operator's exploded form."""
    stripped = F.regexp_replace("para", r"^\s+|\s+$", "")
    return (
        batch_docs.select(
            "doc_id",
            F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n\n")).alias(
                "para_idx", "para"
            ),
        )
        .where(stripped != "")
        .withColumn("h", F.md5(stripped))
        .select("doc_id", "para_idx", "h", "para")
    )


def ingest_batch(batch_docs: DataFrame, store_dir: str, batch_id: str) -> dict:
    """Ingest one batch of documents: ONE text pass (split + hash), three
    immutable partition writes, one journal commit. O(batch) — no stored
    read anywhere on the ingest path."""
    spark = batch_docs.sparkSession
    batch = store.open_batch(batch_docs, store_dir, batch_id, PARA_STORE_FORMAT)
    if batch.skipped:
        return {"batch": batch_id, "skipped": True, "n_docs": batch.n}
    prior = batch.journal.ids
    if prior:
        stored_docs = store.read_parts(spark, store_dir, "docs", prior, _DOC_SCHEMA)
        store.reject_repush(batch_docs, stored_docs, batch_id)
    t0 = time.time()
    segs = barrier(_segments(batch_docs))  # ONE text pass
    segs.write.mode("overwrite").parquet(store.part(store_dir, "occ", batch_id))
    # batch-local keeper mins: one narrow row per distinct hash in the
    # batch — within-batch duplicate mass collapses here, at ingest
    (
        segs.groupBy("h")
        .agg(F.min(F.struct("doc_id", "para_idx")).alias("m"))
        .select("h", F.col("m.doc_id").alias("fdoc"), F.col("m.para_idx").alias("fidx"))
        .write.mode("overwrite")
        .parquet(store.part(store_dir, "minh", batch_id))
    )
    (
        batch_docs.select("doc_id")
        .join(segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras")), "doc_id", "left")
        .select("doc_id", F.coalesce("n_paras", F.lit(0)).cast("bigint").alias("n_paras"))
        .write.mode("overwrite")
        .parquet(store.part(store_dir, "docs", batch_id))
    )
    n_occ = segs.count()
    batch.journal.commit(
        batch_id,
        rows=batch.n,
        input_sig=batch.sig,
        format=PARA_STORE_FORMAT,
        n_occurrences=n_occ,
        duration_s=round(time.time() - t0, 3),
    )
    return {"batch": batch_id, "skipped": False, "n_docs": batch.n, "n_occurrences": n_occ}


def paradedup_read(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing output — one row per ingested doc in the exact
    ``dedup.paragraph_dedup`` shape: (doc_id, n_paras, n_removed,
    removed_para_frac, new_text). Keep flags re-derive here (keeper flips
    are retroactive); the fold input is the compact per-batch min deltas,
    never text."""
    batches = store.Journal(store_dir).ids
    if not batches:
        raise ValueError(f"paragraph store {store_dir!r} has no committed batches")
    occ = store.read_parts(spark, store_dir, "occ", batches, _OCC_SCHEMA)
    minh = store.read_parts(spark, store_dir, "minh", batches, _MIN_SCHEMA)
    docs = store.read_parts(spark, store_dir, "docs", batches, _DOC_SCHEMA)
    first = (
        minh.groupBy("h")
        .agg(F.min(F.struct(F.col("fdoc").alias("doc_id"), F.col("fidx").alias("para_idx"))).alias("first"))
    )
    marked = occ.join(first, "h").withColumn(
        "kept",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("para_idx") == F.col("first.para_idx")),
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("para_idx", "para")))
                ),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("new_text"),
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        F.round(F.try_divide(F.coalesce("n_removed", F.lit(0)), "n_paras"), 4).alias(
            "removed_para_frac"
        ),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


def incremental_paradedup_demo(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """The graded driver entry (``paragraph_dedup_incremental``): ingest the
    corpus as ``store.DEMO_BATCHES`` interleaved doc_id-mod arrival batches
    (repeated paragraphs routinely STRADDLE batches, so keeper election
    genuinely crosses ingests) and return the standing output. Oracle = the
    one-shot ``paragraph_dedup`` SQL over the union corpus — the hash match
    proves N-batch ingest equals the one-shot definition."""
    store_dir = store.demo_store("para", documents, ingest_batch, f"fmt{PARA_STORE_FORMAT}")
    return paradedup_read(spark, store_dir)
