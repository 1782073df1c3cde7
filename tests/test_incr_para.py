"""Incremental paragraph-dedup store (r09): N-batch ingest must equal the
one-shot ``dedup.paragraph_dedup`` bit-for-bit over the union corpus — any
split and arrival order, including the retroactive keeper flip a
late-arriving lower (doc_id, para_idx) occurrence forces on a stored doc's
rewrite — and the store must refuse corruption loudly (the established
journaled-store guard battery)."""

import pytest
from pyspark.sql import functions as F

from ictspark import io
from ictspark.extras import incr_para as IP
from ictspark.extras.store import Journal, ingest_stream, part
from ictspark.extras.dedup import paragraph_dedup

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return io.load_table(spark, SF, "documents").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_nbatch_equals_oneshot(spark, docs, tmp_path_factory):
    """3 interleaved batches == one-shot over the union; a different split
    AND arrival order (2 batches, reversed) converges identically."""
    full = _rows(paragraph_dedup(docs))
    store3 = str(tmp_path_factory.mktemp("para3"))
    for i in range(3):
        st = IP.ingest_batch(docs.where(F.col("doc_id") % 3 == i), store3, f"b{i:03d}")
        assert not st["skipped"]
    assert _rows(IP.paradedup_read(spark, store3)) == full
    store2 = str(tmp_path_factory.mktemp("para2"))
    for j, i in enumerate((1, 0)):
        IP.ingest_batch(docs.where(F.col("doc_id") % 2 == i), store2, f"r{j}")
    assert _rows(IP.paradedup_read(spark, store2)) == full


def test_late_low_id_flips_stored_keeper(spark, tmp_path_factory):
    """The retroactive-flip contract: doc 10's boilerplate paragraph is the
    keeper after batch 1; batch 2 delivers doc 2 with the SAME paragraph at
    a lower (doc_id, para_idx) — the stored doc's rewrite must flip."""
    boiler = "All rights reserved.\nSee LICENSE."
    b1 = spark.createDataFrame(
        [(10, f"alpha beta\n\n{boiler}"), (11, f"{boiler}\n\nother text")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame([(2, f"{boiler}\n\nnewcomer")], "doc_id long, text string")
    store = str(tmp_path_factory.mktemp("paraflip"))
    IP.ingest_batch(b1, store, "b1")
    mid = {r["doc_id"]: r for r in IP.paradedup_read(spark, store).collect()}
    assert mid[10]["n_removed"] == 0 and boiler in mid[10]["new_text"]
    assert mid[11]["n_removed"] == 1
    IP.ingest_batch(b2, store, "b2")
    fin = {r["doc_id"]: r for r in IP.paradedup_read(spark, store).collect()}
    assert fin[2]["n_removed"] == 0 and boiler in fin[2]["new_text"]
    assert fin[10]["n_removed"] == 1 and fin[10]["new_text"] == "alpha beta"
    assert fin[11]["n_removed"] == 1
    # and the standing output equals the one-shot over the union
    union = b1.unionByName(b2)
    assert _rows(IP.paradedup_read(spark, store)) == _rows(paragraph_dedup(union))


def test_degenerate_batches_ingest(spark, tmp_path_factory):
    """Whitespace-only / NULL-text batches (zero content paragraphs) commit
    cleanly, later reads and ingests survive them, and the zero-para docs
    emit pass-through rows — the ADVICE r08 empty-partition lesson."""
    store = str(tmp_path_factory.mktemp("paraempty"))
    empty_ish = spark.createDataFrame(
        [(1, "   \n\n\t"), (2, None)], "doc_id long, text string"
    )
    st = IP.ingest_batch(empty_ish, store, "b0")
    assert st["n_occurrences"] == 0
    real = spark.createDataFrame([(3, "hello world\n\nbye")], "doc_id long, text string")
    IP.ingest_batch(real, store, "b1")
    out = {r["doc_id"]: r for r in IP.paradedup_read(spark, store).collect()}
    assert set(out) == {1, 2, 3}
    for d in (1, 2):
        assert out[d]["n_paras"] == 0 and out[d]["removed_para_frac"] is None
        assert out[d]["new_text"] == ""
    assert out[3]["n_paras"] == 2 and out[3]["n_removed"] == 0
    union = empty_ish.unionByName(real)
    assert _rows(IP.paradedup_read(spark, store)) == _rows(paragraph_dedup(union))


def test_store_guards(spark, docs, tmp_path_factory):
    """Idempotent re-ingest skips; content drift under a reused id,
    duplicate doc_ids within a batch, re-pushed doc_ids across batches, and
    reading an empty store all raise."""
    store = str(tmp_path_factory.mktemp("paraguards"))
    with pytest.raises(ValueError, match="no committed batches"):
        IP.paradedup_read(spark, store)
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    IP.ingest_batch(b0, store, "b0")
    assert IP.ingest_batch(b0, store, "b0")["skipped"]
    with pytest.raises(ValueError, match="different content"):
        IP.ingest_batch(b0.limit(3), store, "b0")
    dup = b0.limit(1).unionByName(b0.limit(1))
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        IP.ingest_batch(dup, store, "b1")
    with pytest.raises(ValueError, match="re-pushes"):
        IP.ingest_batch(b0.limit(1), store, "b2")


def test_stream_ingest_equals_oneshot(spark, docs, tmp_path_factory):
    """Multi-epoch file-source drain == one-shot over the union; a RESUMED
    stream over an extended source ingests exactly the new file and
    converges on the extended union."""
    import os

    root = str(tmp_path_factory.mktemp("parastream"))
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
    ingest_stream(IP.ingest_batch, stream, store, ck).awaitTermination()
    union = half0.unionByName(half1)
    assert _rows(IP.paradedup_read(spark, store)) == _rows(paragraph_dedup(union))
    n_committed = len(Journal(store).batches)
    # resume: drop a new file, restart the stream from the checkpoint —
    # exactly one new batch commits
    late = docs.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 7 == 0))
    late.coalesce(1).write.parquet(os.path.join(src, "f2"))
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    ingest_stream(IP.ingest_batch, stream2, store, ck).awaitTermination()
    n_after = len(Journal(store).batches)
    assert n_after == n_committed + 1
    assert _rows(IP.paradedup_read(spark, store)) == _rows(paragraph_dedup(docs))


def test_orphan_partition_ignored(spark, docs, tmp_path_factory):
    """Crash between a partition write and its journal commit: the orphan
    batch dirs must be invisible (journal is authoritative) and the batch's
    retry must overwrite them idempotently."""
    store = str(tmp_path_factory.mktemp("paraorphan"))
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    IP.ingest_batch(b0, store, "b0")
    after_b0 = _rows(IP.paradedup_read(spark, store))
    # simulate b1's torn ingest: an occurrence partition exists, no commit
    spark.createDataFrame(
        [(999_999, 0, "deadbeef", "ghost para")], IP._OCC_SCHEMA
    ).write.mode("overwrite").parquet(part(store, "occ", "b1"))
    assert _rows(IP.paradedup_read(spark, store)) == after_b0  # orphan unread
    IP.ingest_batch(b1, store, "b1")  # retry overwrites the orphan
    got = {r["doc_id"] for r in IP.paradedup_read(spark, store).collect()}
    assert 999_999 not in got
    assert _rows(IP.paradedup_read(spark, store)) == _rows(paragraph_dedup(docs))
