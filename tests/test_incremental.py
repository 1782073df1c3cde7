"""Incremental dedup over the persisted MinHash signature store (VERDICT r06
item 1): the §5.4 resume-equals-cold-run property applied to the curation
family — N-batch incremental ingest must equal a full recompute bit-for-bit,
re-ingest must be idempotent, and the store must refuse corruption loudly."""

import pytest
from pyspark.sql import functions as F

from ictspark import io
from ictspark.extras import incremental
from ictspark.extras.store import Journal, ingest_stream, snapshot

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return io.load_table(spark, SF, "documents").cache()


def _kl(df):
    return sorted(
        (r["doc_id"], r["component"], r["n_members"], r["keep"]) for r in df.collect()
    )


def test_incremental_equals_full_recompute(spark, docs, tmp_path_factory):
    """The headline contract: 3 interleaved arrival batches (doc_id mod 3 —
    near-dup pairs straddle batches, so the new-vs-stored band join is
    genuinely load-bearing) == one-shot full recompute, including component
    MERGES across batches; and a different split (2 batches) converges to
    the identical keep list (arrival order cannot matter). Includes the
    exact-dup cascade: a later batch's smaller-id exact copy re-labels a
    stored component that a still later batch connects through."""
    full = _kl(incremental.full_recompute(docs))
    store3 = str(tmp_path_factory.mktemp("incr3"))
    stats = [
        incremental.ingest_batch(
            docs.where(F.col("doc_id") % 3 == i), store3, f"b{i:03d}"
        )
        for i in range(3)
    ]
    assert sum(s["n_docs"] for s in stats) == docs.count()
    # later batches must actually find cross-batch pairs via the store
    assert any(s["n_new_pairs"] > 0 for s in stats[1:])
    assert _kl(incremental.keep_list(spark, store3)) == full
    store2 = str(tmp_path_factory.mktemp("incr2"))
    for i in (1, 0):  # different split AND different arrival order
        incremental.ingest_batch(
            docs.where(F.col("doc_id") % 2 == i), store2, f"half{i}"
        )
    assert _kl(incremental.keep_list(spark, store2)) == full
    # exact-dup cascade: b1 forms {100,101}; b2's doc 50 is an exact copy of
    # 100 (label re-elects to 50); b3's doc 200 near-dups 101 and must
    # connect THROUGH the re-labeled component
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = {
        100: base,
        101: base + "lambda mu",
        50: base,  # exact copy of 100, smaller id
        200: base + "nu xi",
    }
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, rows[i]) for i in ids], "doc_id long, text string"
    )
    union_kl = _kl(incremental.full_recompute(mk(sorted(rows))))
    for order in (([100, 101], [50], [200]), ([200], [100, 101], [50])):
        store = str(tmp_path_factory.mktemp("incr_casc"))
        for j, ids in enumerate(order):
            incremental.ingest_batch(mk(ids), store, f"c{j}")
        assert _kl(incremental.keep_list(spark, store)) == union_kl


def test_ingest_idempotent_and_guards(spark, docs, tmp_path_factory):
    """Re-ingesting a committed batch id is a no-op (checkpoint skip);
    content drift under a reused id raises; a re-pushed doc_id raises; an
    empty store refuses keep_list with a clear error."""
    store = str(tmp_path_factory.mktemp("incr_guards"))
    with pytest.raises(ValueError, match="no committed batches"):
        incremental.keep_list(spark, store)
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    s1 = incremental.ingest_batch(b0, store, "b000")
    assert not s1["skipped"]
    before = _kl(incremental.keep_list(spark, store))
    s2 = incremental.ingest_batch(b0, store, "b000")  # same id, same content
    assert s2["skipped"]
    assert _kl(incremental.keep_list(spark, store)) == before
    with pytest.raises(ValueError, match="different\\s+content"):
        incremental.ingest_batch(
            docs.where(F.col("doc_id") % 3 == 1), store, "b000"
        )
    with pytest.raises(ValueError, match="globally unique"):
        incremental.ingest_batch(b0.limit(5), store, "b_dup")
    # code-review r07 guards: a store's sizing is immutable — a different
    # threshold (different k) must be refused, not read truncated signatures
    with pytest.raises(ValueError, match="sizing is immutable"):
        incremental.ingest_batch(
            docs.where(F.col("doc_id") % 3 == 2), store, "b_newthresh", threshold=0.3
        )
    # ...and an internally-duplicated batch must be refused before commit
    dup = b0.limit(3).unionByName(b0.limit(1))
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        incremental.ingest_batch(dup, store, "b_internal_dup")


def test_stream_ingest_equals_full_recompute(spark, docs, tmp_path_factory):
    """The ingest path as a stream (r07): a file-source stream drained
    through ingest_stream (foreachBatch → ingest_batch per epoch) must leave
    the store equal to a one-shot full recompute; a RESUMED stream over an
    extended source must ingest only the new file (the streaming checkpoint
    and the store journal composing, not fighting) and land on the full
    recompute of the union."""
    root = tmp_path_factory.mktemp("incr_stream")
    src = str(root / "src")
    first = docs.where(F.col("doc_id") % 3 < 2)
    # one parquet file per arrival batch so maxFilesPerTrigger=1 yields real
    # multi-epoch ingest (doc_id-disjoint by construction)
    for i in range(2):
        first.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    store, ck = str(root / "store"), str(root / "ck")
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = ingest_stream(incremental.ingest_batch, stream, store, ck)
    assert q.awaitTermination(120), "availableNow drain did not self-terminate"
    n_commits = len(Journal(store).batches)
    assert n_commits == 2  # one epoch per file — the multi-epoch path is real
    assert _kl(incremental.keep_list(spark, store)) == _kl(
        incremental.full_recompute(first)
    )
    # resume: a third file arrives; the restarted stream must ingest exactly
    # one more epoch (prior files are in the streaming checkpoint, prior
    # epochs in the store journal) and converge on the union ground truth
    docs.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)
    q2 = ingest_stream(
        incremental.ingest_batch,
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src),
        store,
        ck,
    )
    assert q2.awaitTermination(120)
    n_after = len(Journal(store).batches)
    assert n_after == 3
    assert _kl(incremental.keep_list(spark, store)) == _kl(incremental.full_recompute(docs))


def test_orphan_labels_snapshot_ignored(spark, docs, tmp_path_factory):
    """Crash between a labels write and its journal commit: the orphan
    version dir must be invisible (journal is authoritative) and the batch's
    retry must overwrite it idempotently."""
    store = str(tmp_path_factory.mktemp("incr_orphan"))
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    incremental.ingest_batch(b0, store, "b000")
    after_b0 = _kl(incremental.keep_list(spark, store))
    # simulate the torn ingest of b001: labels snapshot exists, no commit
    spark.createDataFrame([(999_999, 999_999)], "doc_id long, component long").write.mode(
        "overwrite"
    ).parquet(snapshot(store, "labels", "b001"))
    assert _kl(incremental.keep_list(spark, store)) == after_b0  # orphan unread
    incremental.ingest_batch(b1, store, "b001")  # retry overwrites the orphan
    got = {r["doc_id"] for r in incremental.components(spark, store).collect()}
    assert 999_999 not in got
    assert got == {r["doc_id"] for r in b0.unionByName(b1).select("doc_id").collect()}


def test_store_format_and_bucket_guards(spark, docs, tmp_path_factory):
    """v2 layout guards (r08): a store written by an older format version is
    refused loudly (ADVICE r07 — a layout/minhash-family change must never
    serve stale band rows); the bucket count is part of the on-disk layout
    and immutable; and the sizing-immutability check runs BEFORE the
    committed-id idempotent skip, so re-ingesting an already-committed id
    under a different threshold raises instead of silently no-opping
    (ADVICE r07)."""
    store = str(tmp_path_factory.mktemp("incr_v2"))
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    st = incremental.ingest_batch(b0, store, "b000")
    # the stats expose the pruning/occupancy observables
    for key in (
        "touched_buckets", "read_bytes_stored", "n_collisions",
        "max_bucket_occupancy",
        "t_sig_s", "t_cand_s", "t_cc_s", "t_labels_s",
    ):
        assert key in st, key
    assert st["read_bytes_stored"] == 0  # first batch: nothing stored yet
    assert st["max_bucket_occupancy"] >= 1
    st2 = incremental.ingest_batch(docs.where(F.col("doc_id") % 3 == 1), store, "b001")
    assert st2["read_bytes_stored"] > 0  # second batch reads the b000 buckets
    assert 0 < st2["touched_buckets"] <= incremental.STORE_BUCKETS
    # sizing check precedes the committed-id skip: SAME id, SAME content,
    # different threshold → the sizing error, not a silent skip
    with pytest.raises(ValueError, match="sizing is immutable"):
        incremental.ingest_batch(b0, store, "b000", threshold=0.3)
    # bucket count is immutable per store
    with pytest.raises(ValueError, match="bucket count"):
        incremental.ingest_batch(
            docs.where(F.col("doc_id") % 3 == 2), store, "b002", n_buckets=8
        )
    # an old-format journal line is refused before any read or write
    lin = Journal(store)
    lin.commit("b_old", labels_version="b_old", input_sig="x", threshold=0.2,
               k=42, format=1, n_buckets=64)
    with pytest.raises(ValueError, match="store-format"):
        incremental.ingest_batch(
            docs.where(F.col("doc_id") % 3 == 2), store, "b002"
        )


def test_shingleless_batch_ingests(spark, docs, tmp_path_factory):
    """ADVICE r08 (medium): a non-empty batch whose docs all have <3
    whitespace tokens yields ZERO band rows; the partitionBy write of that
    empty frame leaves no data files and the inferred-schema read-back used
    to crash with UNABLE_TO_INFER_SCHEMA — failing every retry of an
    otherwise-valid trickle ingest. It must commit as singleton corpus
    members, later batches must read THROUGH the data-file-less stored
    partition, and the final state must equal the one-shot recompute."""
    store = str(tmp_path_factory.mktemp("incr_short"))
    short = spark.createDataFrame(
        [(10_000_001, "hi"), (10_000_002, "ok then")], "doc_id long, text string"
    )
    s = incremental.ingest_batch(short, store, "shorts")
    assert not s["skipped"] and s["n_new_pairs"] == 0 and s["touched_buckets"] == 0
    kl = {r["doc_id"]: (r["component"], r["n_members"], r["keep"])
          for r in incremental.keep_list(spark, store).collect()}
    assert kl[10_000_001] == (10_000_001, 1, True)
    assert kl[10_000_002] == (10_000_002, 1, True)
    # a real batch after the shingle-less one: the stored-side multi-path
    # read must skip the empty partition instead of failing schema inference
    b0 = docs.where(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    s2 = incremental.ingest_batch(b0, store, "real")
    assert not s2["skipped"]
    # ...and a trailing shingle-less batch with a non-empty store behind it
    tail = spark.createDataFrame([(10_000_003, "bye")], "doc_id long, text string")
    incremental.ingest_batch(tail, store, "tail")
    union = b0.unionByName(short).unionByName(tail)
    assert _kl(incremental.keep_list(spark, store)) == _kl(
        incremental.full_recompute(union)
    )


def test_distributed_cc_path_equality(spark, docs, tmp_path_factory, monkeypatch):
    """The size rail sends small touched subgraphs to driver-local
    union-find; force the rail to 0 so the DISTRIBUTED contracted-CC path
    stays covered — both must equal the one-shot recompute bit-for-bit."""
    monkeypatch.setattr(incremental, "LOCAL_CC_MAX_EDGES", -1)
    store = str(tmp_path_factory.mktemp("incrdist"))
    for i in range(2):
        incremental.ingest_batch(docs.where(F.col("doc_id") % 2 == i), store, f"d{i}")
    assert _kl(incremental.keep_list(spark, store)) == _kl(
        incremental.full_recompute(docs)
    )
