"""Incremental DSIR store (r09): N-batch ingest must equal the one-shot
``curation.dsir_weights`` bit-for-bit over the union raw corpus against the
frozen target — any split and arrival order — weights must shift
RETROACTIVELY as new batches move the raw distribution, and the store must
refuse corruption loudly (the established journaled-store guard battery).
The target side is immutable: a re-init with different target content or
sizing raises."""

import pytest
from pyspark.sql import functions as F

from ictspark import io
from ictspark.extras import incr_dsir as ID
from ictspark.extras.curation import dsir_weights
from ictspark.extras.store import Journal, ingest_stream, part

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return io.load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def target(docs):
    return docs.where(F.col("doc_id") % 5 == 0)


@pytest.fixture(scope="module")
def raw(docs):
    return docs.where(F.col("doc_id") % 5 != 0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_nbatch_equals_oneshot(spark, raw, target, tmp_path_factory):
    """3 interleaved batches == one-shot over the union; a different split
    AND arrival order (2 batches, reversed) converges identically."""
    full = _rows(dsir_weights(raw, target))
    store3 = str(tmp_path_factory.mktemp("dsir3"))
    assert not ID.init_store(target, store3)["skipped"]
    for i in range(3):
        st = ID.ingest_batch(raw.where(F.col("doc_id") % 3 == i), store3, f"b{i:03d}")
        assert not st["skipped"]
    assert _rows(ID.weights_read(spark, store3)) == full
    store2 = str(tmp_path_factory.mktemp("dsir2"))
    ID.init_store(target, store2)
    for j, i in enumerate((1, 0)):
        ID.ingest_batch(raw.where(F.col("doc_id") % 2 == i), store2, f"r{j}")
    assert _rows(ID.weights_read(spark, store2)) == full


def test_weights_shift_retroactively(spark, tmp_path_factory):
    """The retroactivity contract: a stored doc's logw must MOVE when a new
    batch shifts the raw distribution q (its text work is never repeated —
    only the fixed-size ratio fold re-derives), and the post-shift standing
    weights equal the one-shot over the union. The second batch is heavy in
    doc 1's own vocabulary, so doc 1's features become more raw-typical and
    its logw must strictly drop."""
    tgt = spark.createDataFrame(
        [(100, "spark shuffles partitions"), (105, "spark broadcast joins")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "spark spark partitions"), (2, "cats purr loudly")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "spark spark partitions"), (4, "spark spark partitions")],
        "doc_id long, text string",
    )
    store = str(tmp_path_factory.mktemp("dsirshift"))
    ID.init_store(tgt, store)
    ID.ingest_batch(b1, store, "b1")
    mid = {r["doc_id"]: r for r in ID.weights_read(spark, store).collect()}
    assert set(mid) == {1, 2}
    ID.ingest_batch(b2, store, "b2")
    fin = {r["doc_id"]: r for r in ID.weights_read(spark, store).collect()}
    assert set(fin) == {1, 2, 3, 4}
    assert fin[1]["logw"] < mid[1]["logw"]
    assert fin[1]["n_feats"] == mid[1]["n_feats"]  # text facts never recompute
    assert _rows(ID.weights_read(spark, store)) == _rows(
        dsir_weights(b1.unionByName(b2), tgt)
    )


def test_degenerate_batch_ingests(spark, tmp_path_factory):
    """Token-less (all-space / NULL-text) batches (zero feature rows) commit
    cleanly, later ingests and reads survive them, and zero-feature docs are
    absent from the weights — exactly the one-shot's semantics (no feature
    rows → no output row), so union equality still holds. ("Token-less"
    follows the family's shared split-on-space rule: a tab IS a token.)"""
    tgt = spark.createDataFrame([(100, "alpha beta gamma")], "doc_id long, text string")
    empty_ish = spark.createDataFrame(
        [(1, "    "), (2, None)], "doc_id long, text string"
    )
    real = spark.createDataFrame([(3, "alpha beta delta")], "doc_id long, text string")
    store = str(tmp_path_factory.mktemp("dsirempty"))
    ID.init_store(tgt, store)
    st = ID.ingest_batch(empty_ish, store, "b0")
    assert st["n_feat_rows"] == 0 and st["n_docs"] == 2
    ID.ingest_batch(real, store, "b1")
    out = {r["doc_id"] for r in ID.weights_read(spark, store).collect()}
    assert out == {3}
    assert _rows(ID.weights_read(spark, store)) == _rows(
        dsir_weights(empty_ish.unionByName(real), tgt)
    )
    # ADVICE r09: a token-less doc must still REGISTER — re-pushing its id
    # in a later batch (here with different content) is the silent-collision
    # hole the sentinel rows close
    repush = spark.createDataFrame([(1, "now with text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="re-pushes"):
        ID.ingest_batch(repush, store, "b2")


def test_store_guards(spark, raw, target, tmp_path_factory):
    """Ingest/read before init raise; init is idempotent under identical
    target content and raises on drift; re-ingest skips; batch content
    drift, duplicate doc_ids, and re-pushed doc_ids raise; reading a store
    with no batches raises."""
    store = str(tmp_path_factory.mktemp("dsirguards"))
    b0 = raw.where(F.col("doc_id") % 2 == 0)
    with pytest.raises(ValueError, match="not initialized"):
        ID.ingest_batch(b0, store, "b0")
    with pytest.raises(ValueError, match="not initialized"):
        ID.weights_read(spark, store)
    assert not ID.init_store(target, store)["skipped"]
    with pytest.raises(ValueError, match="no committed batches"):
        ID.weights_read(spark, store)
    assert ID.init_store(target, store)["skipped"]
    with pytest.raises(ValueError, match="immutable"):
        ID.init_store(target.limit(3), store)
    with pytest.raises(ValueError, match="immutable"):
        ID.init_store(target, store, n_buckets=512)
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        ID.init_store(
            target.limit(1).unionByName(target.limit(1)),
            str(tmp_path_factory.mktemp("dsirduptgt")),
        )
    ID.ingest_batch(b0, store, "b0")
    assert ID.ingest_batch(b0, store, "b0")["skipped"]
    with pytest.raises(ValueError, match="different content"):
        ID.ingest_batch(b0.limit(3), store, "b0")
    dup = b0.limit(1).unionByName(b0.limit(1))
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        ID.ingest_batch(dup, store, "b1")
    with pytest.raises(ValueError, match="re-pushes"):
        ID.ingest_batch(b0.limit(1), store, "b2")


def test_stream_ingest_equals_oneshot(spark, raw, target, tmp_path_factory):
    """Multi-epoch file-source drain == one-shot over the union raw corpus;
    a RESUMED stream over an extended source ingests exactly the new file
    and the standing weights retroactively converge on the extended union
    (init_store runs BEFORE the stream — the target is store identity, not
    stream payload)."""
    import os

    root = str(tmp_path_factory.mktemp("dsirstream"))
    src, store, ck = [os.path.join(root, d) for d in ("src", "store", "ck")]
    os.makedirs(src)
    half0 = raw.where(F.col("doc_id") % 2 == 0)
    half1 = raw.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 7 != 0))
    half0.coalesce(1).write.parquet(os.path.join(src, "f0"))
    half1.coalesce(1).write.parquet(os.path.join(src, "f1"))
    ID.init_store(target, store)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    ingest_stream(ID.ingest_batch, stream, store, ck).awaitTermination()
    union = half0.unionByName(half1)
    assert _rows(ID.weights_read(spark, store)) == _rows(dsir_weights(union, target))
    n_committed = len(Journal(store).batches)
    late = raw.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 7 == 0))
    late.coalesce(1).write.parquet(os.path.join(src, "f2"))
    stream2 = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    ingest_stream(ID.ingest_batch, stream2, store, ck).awaitTermination()
    n_after = len(Journal(store).batches)
    assert n_after == n_committed + 1
    assert _rows(ID.weights_read(spark, store)) == _rows(dsir_weights(raw, target))


def test_select_read_equals_oneshot(spark, raw, target, tmp_path_factory):
    """The standing SELECTION must equal the one-shot dsir_select over the
    union — including after a later batch retroactively moves weights and
    adds competitors under the same budget — without the store ever
    storing token counts (n = (n_feats+1)/2 is integer-exact for ws)."""
    from ictspark.extras.curation import dsir_select

    store = str(tmp_path_factory.mktemp("dsirsel"))
    ID.init_store(target, store)
    b0 = raw.where(F.col("doc_id") % 2 == 0)
    ID.ingest_batch(b0, store, "b0")
    assert _rows(ID.select_read(spark, store)) == _rows(dsir_select(b0, target))
    b1 = raw.where(F.col("doc_id") % 2 == 1)
    ID.ingest_batch(b1, store, "b1")
    assert _rows(ID.select_read(spark, store)) == _rows(dsir_select(raw, target))
    # a tighter budget keeps a strict prefix of the same rank
    tight = {r["doc_id"] for r in ID.select_read(spark, store, budget_tokens=200).collect() if r["keep"]}
    wide = {r["doc_id"] for r in ID.select_read(spark, store, budget_tokens=2000).collect() if r["keep"]}
    assert tight <= wide and len(tight) < len(wide)


def test_demo_matches_registry_oracle_shape(spark, docs):
    """The graded demo entry: same split convention as the one-shot
    ``dsir_weights`` registry entry, so the standing weights must equal it
    row for row (this is exactly what the driver's DuckDB oracle checks)."""
    got = ID.incremental_dsir_demo(spark, docs)
    want = dsir_weights(
        docs.where(F.col("doc_id") % 5 != 0), docs.where(F.col("doc_id") % 5 == 0)
    )
    assert got.columns == ["doc_id", "n_feats", "logw"]
    assert _rows(got) == _rows(want)


def test_orphan_partition_ignored(spark, raw, target, tmp_path_factory):
    """Crash between a partition write and its journal commit: the orphan
    batch dirs must be invisible (journal is authoritative) and the batch's
    retry must overwrite them idempotently."""
    store = str(tmp_path_factory.mktemp("dsirorphan"))
    ID.init_store(target, store)
    b0 = raw.where(F.col("doc_id") % 2 == 0)
    b1 = raw.where(F.col("doc_id") % 2 == 1)
    ID.ingest_batch(b0, store, "b0")
    after_b0 = _rows(ID.weights_read(spark, store))
    spark.createDataFrame(
        [(999_999, 0, 12345)], ID._FEAT_SCHEMA
    ).write.mode("overwrite").parquet(part(store, "feats", "b1"))
    assert _rows(ID.weights_read(spark, store)) == after_b0  # orphan unread
    ID.ingest_batch(b1, store, "b1")  # retry overwrites the orphan
    got = {r["doc_id"] for r in ID.weights_read(spark, store).collect()}
    assert 999_999 not in got
    assert _rows(ID.weights_read(spark, store)) == _rows(dsir_weights(raw, target))
