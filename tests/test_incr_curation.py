"""Incremental curation manifest (VERDICT r07 item 2): N-batch ingest must
equal the one-shot ``curate_pipeline`` (uncapped near-dup) bit-for-bit over
the union corpus — including the exact-keeper → near-dup-keeper → budget-line
re-election cascade across batches — and the store must refuse corruption
loudly (the §5.4 resume discipline, applied to the pipeline's final product)."""

import pytest
from pyspark.sql import functions as F

from ictspark import io
from ictspark.extras import incr_curation as IC
from ictspark.extras.curation import BENCHMARK_MAX_ID, curate_pipeline
from ictspark.extras.store import Journal, ingest_stream

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return io.load_table(spark, SF, "documents").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _oneshot(docs):
    return _rows(curate_pipeline(docs, near_dup_max_df=None))


def test_incremental_manifest_equals_oneshot(spark, docs, tmp_path_factory):
    """3 interleaved arrival batches == one-shot pipeline over the union,
    every column including seq_id/seq_off; and a different split (2 batches,
    reversed arrival order) converges to the identical manifest."""
    full = _oneshot(docs)
    bench = docs.where(F.col("doc_id") < BENCHMARK_MAX_ID)
    store3 = str(tmp_path_factory.mktemp("cur3"))
    IC.init_store(bench, store3)
    stats = [
        IC.ingest_batch(docs.where(F.col("doc_id") % 3 == i), store3, f"b{i:03d}")
        for i in range(3)
    ]
    assert sum(s["n_docs"] for s in stats) == docs.count()
    assert any(s["n_new_pairs"] > 0 for s in stats[1:])  # cross-batch pairs real
    assert _rows(IC.manifest(spark, store3)) == full
    store2 = str(tmp_path_factory.mktemp("cur2"))
    IC.init_store(bench, store2)
    for i in (1, 0):
        IC.ingest_batch(docs.where(F.col("doc_id") % 2 == i), store2, f"half{i}")
    assert _rows(IC.manifest(spark, store2)) == full


def test_keeper_reelection_across_batches(spark, tmp_path_factory):
    """The cascade the incremental path must reproduce: batch 2 delivers a
    SMALLER doc_id with text identical to a batch-1 keeper — the exact-dup
    keeper re-elects to the newcomer, retroactively flipping the batch-1
    doc's verdict; the manifest equals the one-shot over the union."""
    txt = "the quick brown fox jumps over the lazy dog and keeps on running " * 3
    other = "completely different text about databases and distributed systems " * 3
    rows1 = [(100, "en", "web", txt), (101, "en", "web", other)]
    rows2 = [(50, "en", "web", txt)]  # smaller id, same fp as 100
    schema = "doc_id long, lang string, source string, text string"
    spark_df = lambda rows: spark.createDataFrame(rows, schema)
    union = spark_df(rows1 + rows2)
    store = str(tmp_path_factory.mktemp("cur_reelect"))
    IC.init_store(union.where(F.col("doc_id") < BENCHMARK_MAX_ID), store)
    IC.ingest_batch(spark_df(rows1), store, "b1")
    m1 = {r["doc_id"]: r["drop_reason"] for r in IC.manifest(spark, store).collect()}
    assert m1[100] is None  # keeper while alone
    IC.ingest_batch(spark_df(rows2), store, "b2")
    m2 = {r["doc_id"]: r["drop_reason"] for r in IC.manifest(spark, store).collect()}
    assert m2[50] is None and m2[100] == "exact_dup"  # re-elected
    assert _rows(IC.manifest(spark, store)) == _oneshot(union)


def test_store_guards(spark, docs, tmp_path_factory):
    """Init is mandatory and immutable; ingest is idempotent per batch id;
    content drift, duplicate ids, re-pushed ids and changed params raise."""
    store = str(tmp_path_factory.mktemp("cur_guards"))
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    with pytest.raises(ValueError, match="not initialized"):
        IC.ingest_batch(b0, store, "b000")
    bench = docs.where(F.col("doc_id") < BENCHMARK_MAX_ID)
    st = IC.init_store(bench, store)
    assert not st["skipped"]
    assert IC.init_store(bench, store)["skipped"]  # idempotent re-init
    with pytest.raises(ValueError, match="immutable"):
        IC.init_store(bench, store, quality_min=0.9)
    with pytest.raises(ValueError, match="no committed batches"):
        IC.manifest(spark, store)
    s1 = IC.ingest_batch(b0, store, "b000")
    assert not s1["skipped"]
    before = _rows(IC.manifest(spark, store))
    assert IC.ingest_batch(b0, store, "b000")["skipped"]
    assert _rows(IC.manifest(spark, store)) == before
    with pytest.raises(ValueError, match="different content"):
        IC.ingest_batch(docs.where(F.col("doc_id") % 3 == 1), store, "b000")
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        IC.ingest_batch(b0.limit(3).unionByName(b0.limit(1)), store, "b_dup")
    with pytest.raises(ValueError, match="globally unique"):
        IC.ingest_batch(b0.limit(5), store, "b_repush")


def test_incremental_subword_budget_equals_oneshot(spark, docs, tmp_path_factory):
    """VERDICT r08 item 6: a tokenizer='subword' store budgets/packs/reports
    in subword units from the stored facts column (no text re-pass) and
    equals the one-shot curate_pipeline(tokenizer='subword') bit-for-bit;
    the unit is live (manifest differs from the ws one) and immutable."""
    full = _rows(curate_pipeline(docs, near_dup_max_df=None, tokenizer="subword"))
    bench = docs.where(F.col("doc_id") < BENCHMARK_MAX_ID)
    store = str(tmp_path_factory.mktemp("cursw"))
    IC.init_store(bench, store, tokenizer="subword")
    for i in range(2):
        IC.ingest_batch(docs.where(F.col("doc_id") % 2 == i), store, f"sw{i}")
    got = _rows(IC.manifest(spark, store))
    assert got == full
    assert got != _oneshot(docs)  # the unit genuinely changes decisions
    with pytest.raises(ValueError, match="immutable"):
        IC.init_store(bench, store, tokenizer="ws")
    with pytest.raises(ValueError, match="unknown tokenizer"):
        IC.init_store(bench, str(tmp_path_factory.mktemp("curswx")), tokenizer="bpe")


def test_stream_ingest_equals_oneshot_manifest(spark, docs, tmp_path_factory):
    """VERDICT r08 item 5: a file-source stream drained through
    ingest_stream (foreachBatch → ingest_batch per epoch) leaves the store's
    manifest equal to the one-shot curate_pipeline over the union; a RESUMED
    stream over an extended source ingests exactly the new file and lands on
    the one-shot of the new union (streaming checkpoint, curation journal
    and embedded sig-store journal composing, not fighting)."""
    root = tmp_path_factory.mktemp("cur_stream")
    src = str(root / "src")
    first = docs.where(F.col("doc_id") % 3 < 2)
    for i in range(2):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    store, ck = str(root / "store"), str(root / "ck")
    bench = docs.where(F.col("doc_id") < BENCHMARK_MAX_ID)
    IC.init_store(bench, store)
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = ingest_stream(IC.ingest_batch, stream, store, ck)
    assert q.awaitTermination(300), "availableNow drain did not self-terminate"
    committed = Journal(store).batches
    assert len(committed) == 2  # one epoch per file — multi-epoch path real
    # the one-shot must use the STORE's benchmark (fixed at init over the
    # full corpus), not `first`'s id-derived default — the store's
    # contamination shingles include benchmark docs the stream hasn't seen
    assert _rows(IC.manifest(spark, store)) == _rows(
        curate_pipeline(first, near_dup_max_df=None, benchmark_docs=bench)
    )
    # resume: a third file arrives; the restarted stream ingests exactly one
    # more epoch and the manifest converges on the union's one-shot
    docs.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)
    q2 = ingest_stream(
        IC.ingest_batch,
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src),
        store,
        ck,
    )
    assert q2.awaitTermination(300)
    after = Journal(store).batches
    assert len(after) == 3
    assert _rows(IC.manifest(spark, store)) == _oneshot(docs)


def test_incremental_gopher_stage_equals_oneshot(spark, tmp_path_factory):
    """A gopher=True store reproduces curate_pipeline(gopher=True) over the
    union: the quality-passing repeated-lines doc drops as 'gopher'
    regardless of which batch delivered it, and the flag is part of the
    store's immutable identity."""
    line = "the fox and that dog have run to be with all of the others again"
    repeated = "\n".join([line] * 8)  # passes quality, fails dup-line rule
    clean = " ".join(
        f"wordy{i} {w}" for i, w in enumerate(
            ["the", "be", "to", "of", "and", "that", "have", "with"] * 4
        )
    )
    rows = [
        (30, "en", "src0", repeated),
        (31, "en", "src0", clean),
        (32, "en", "src0", clean + " and one more tail"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    bench = docs.where(F.col("doc_id") < BENCHMARK_MAX_ID)  # empty benchmark
    full = _rows(
        curate_pipeline(docs, near_dup_max_df=None, gopher=True, benchmark_docs=bench)
    )
    store = str(tmp_path_factory.mktemp("curgo"))
    IC.init_store(bench, store, gopher=True)
    for i in range(2):
        IC.ingest_batch(docs.where(F.col("doc_id") % 2 == i), store, f"g{i}")
    got = _rows(IC.manifest(spark, store))
    assert got == full
    reasons = {r[0]: r[4] for r in got}
    assert reasons[30] == "gopher"
    # immutability: re-init with the flag flipped must raise
    with pytest.raises(ValueError, match="immutable"):
        IC.init_store(bench, store, gopher=False)
