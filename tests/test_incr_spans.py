"""Incremental span-dedup store (r09): N-batch ingest must equal the
one-shot ``dedup.repeated_ngram_spans`` bit-for-bit over the union corpus —
any split and arrival order, including the retroactive keeper flip a
late-arriving lower (doc_id, s) occurrence forces on a stored doc's
rewrite — and the store must refuse corruption loudly (the established
journaled-store guard battery, plus the k-identity guard)."""

import pytest
from pyspark.sql import functions as F

from ictspark import io
from ictspark.extras import incr_spans as IS
from ictspark.extras.store import Journal, ingest_stream, part
from ictspark.extras.dedup import repeated_ngram_spans

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return io.load_table(spark, SF, "documents").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_nbatch_equals_oneshot(spark, docs, tmp_path_factory):
    """3 interleaved batches == one-shot over the union; a different split
    AND arrival order (2 batches, reversed) converges identically."""
    full = _rows(repeated_ngram_spans(docs, k=8))
    store3 = str(tmp_path_factory.mktemp("spans3"))
    for i in range(3):
        st = IS.ingest_batch(docs.where(F.col("doc_id") % 3 == i), store3, f"b{i:03d}")
        assert not st["skipped"]
    assert _rows(IS.spans_read(spark, store3)) == full
    store2 = str(tmp_path_factory.mktemp("spans2"))
    for j, i in enumerate((1, 0)):
        IS.ingest_batch(docs.where(F.col("doc_id") % 2 == i), store2, f"r{j}")
    assert _rows(IS.spans_read(spark, store2)) == full


def test_late_low_id_reopens_stored_span(spark, tmp_path_factory):
    """The retroactive-flip contract one level below paragraphs: doc 10's
    8-token boilerplate run is the keeper after batch 1 (doc 11's copy is
    cut); batch 2 delivers doc 2 with the SAME run at a lower (doc_id, s)
    — the stored keeper doc 10 must flip to CUT and doc 2 becomes the
    surviving copy."""
    run = " ".join(f"b{i}" for i in range(8))
    b1 = spark.createDataFrame(
        [(10, f"alpha beta {run}"), (11, f"{run} gamma delta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame([(2, f"{run} newcomer")], "doc_id long, text string")
    store = str(tmp_path_factory.mktemp("spanflip"))
    IS.ingest_batch(b1, store, "b1")
    mid = {r["doc_id"]: r for r in IS.spans_read(spark, store).collect()}
    assert mid[10]["removed_tokens"] == 0 and run in mid[10]["new_text"]
    assert mid[11]["removed_tokens"] == 8 and run not in mid[11]["new_text"]
    IS.ingest_batch(b2, store, "b2")
    fin = {r["doc_id"]: r for r in IS.spans_read(spark, store).collect()}
    assert fin[2]["removed_tokens"] == 0 and run in fin[2]["new_text"]
    assert fin[10]["removed_tokens"] == 8 and fin[10]["new_text"] == "alpha beta"
    assert fin[11]["removed_tokens"] == 8
    union = b1.unionByName(b2)
    assert _rows(IS.spans_read(spark, store)) == _rows(repeated_ngram_spans(union, k=8))


def test_degenerate_batches_ingest(spark, tmp_path_factory):
    """Short (< k tokens) / NULL-text batches (zero k-gram occurrences)
    commit cleanly, later reads and ingests survive them, and short docs
    emit pass-through rows — one-shot semantics preserved."""
    store = str(tmp_path_factory.mktemp("spanempty"))
    shorties = spark.createDataFrame(
        [(1, "just three tokens"), (2, None)], "doc_id long, text string"
    )
    st = IS.ingest_batch(shorties, store, "b0")
    assert st["n_occurrences"] == 0
    real = spark.createDataFrame(
        [(3, " ".join(f"t{i}" for i in range(12)))], "doc_id long, text string"
    )
    IS.ingest_batch(real, store, "b1")
    out = {r["doc_id"]: r for r in IS.spans_read(spark, store).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_tokens"] == 3 and out[1]["removed_tokens"] == 0
    assert out[1]["new_text"] == "just three tokens"
    assert out[2]["n_tokens"] == 0 and out[2]["new_text"] == ""
    assert out[3]["removed_tokens"] == 0
    union = shorties.unionByName(real)
    assert _rows(IS.spans_read(spark, store)) == _rows(repeated_ngram_spans(union, k=8))


def test_store_guards(spark, docs, tmp_path_factory):
    """Idempotent re-ingest skips; k mismatch, content drift under a reused
    id, duplicate doc_ids, re-pushed doc_ids, and reading an empty store
    all raise."""
    store = str(tmp_path_factory.mktemp("spanguards"))
    with pytest.raises(ValueError, match="no committed batches"):
        IS.spans_read(spark, store)
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    IS.ingest_batch(b0, store, "b0")
    assert IS.ingest_batch(b0, store, "b0")["skipped"]
    with pytest.raises(ValueError, match="k is the store's identity"):
        IS.ingest_batch(b0.limit(3), store, "b1", k=10)
    with pytest.raises(ValueError, match="different content"):
        IS.ingest_batch(b0.limit(3), store, "b0")
    dup = b0.limit(1).unionByName(b0.limit(1))
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        IS.ingest_batch(dup, store, "b1")
    with pytest.raises(ValueError, match="re-pushes"):
        IS.ingest_batch(b0.limit(1), store, "b2")


def test_stream_ingest_equals_oneshot(spark, docs, tmp_path_factory):
    """Multi-epoch file-source drain == one-shot over the union; a RESUMED
    stream over an extended source ingests exactly the new file."""
    import os

    root = str(tmp_path_factory.mktemp("spanstream"))
    src, store, ck = [os.path.join(root, d) for d in ("src", "store", "ck")]
    os.makedirs(src)
    half0 = docs.where(F.col("doc_id") % 2 == 0)
    half1 = docs.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 7 != 0))
    half0.coalesce(1).write.parquet(os.path.join(src, "f0"))
    half1.coalesce(1).write.parquet(os.path.join(src, "f1"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    ingest_stream(IS.ingest_batch, stream, store, ck).awaitTermination()
    union = half0.unionByName(half1)
    assert _rows(IS.spans_read(spark, store)) == _rows(repeated_ngram_spans(union, k=8))
    n_committed = len(Journal(store).batches)
    late = docs.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 7 == 0))
    late.coalesce(1).write.parquet(os.path.join(src, "f2"))
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    ingest_stream(IS.ingest_batch, stream2, store, ck).awaitTermination()
    n_after = len(Journal(store).batches)
    assert n_after == n_committed + 1
    assert _rows(IS.spans_read(spark, store)) == _rows(repeated_ngram_spans(docs, k=8))


def test_orphan_partition_ignored(spark, docs, tmp_path_factory):
    """Crash between a partition write and its journal commit: the orphan
    batch dirs must be invisible (journal is authoritative) and the batch's
    retry must overwrite them idempotently."""
    store = str(tmp_path_factory.mktemp("spanorphan"))
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    IS.ingest_batch(b0, store, "b0")
    after_b0 = _rows(IS.spans_read(spark, store))
    spark.createDataFrame(
        [(999_999, 0, "deadbeef")], IS._OCC_SCHEMA
    ).write.mode("overwrite").parquet(part(store, "occ", "b1"))
    assert _rows(IS.spans_read(spark, store)) == after_b0  # orphan unread
    IS.ingest_batch(b1, store, "b1")  # retry overwrites the orphan
    got = {r["doc_id"] for r in IS.spans_read(spark, store).collect()}
    assert 999_999 not in got
    assert _rows(IS.spans_read(spark, store)) == _rows(repeated_ngram_spans(docs, k=8))
