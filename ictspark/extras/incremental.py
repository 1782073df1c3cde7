"""Incremental dedup over a persisted MinHash signature store (VERDICT r06
item 1; store layout v2 = VERDICT r07 item 1) — the step from "operators that
run at 100 TB" to "a pipeline that INGESTS at 100 TB". A real corpus arrives
in batches; re-LSHing the whole corpus per batch is O(corpus) work per
O(batch) of new data. This module persists per-doc MinHash BAND ROWS once,
at ingest, and each new batch:

  (a) signatures ONLY the new batch (``dedup.minhash_signatures`` with
      ``max_df=None`` — a frozen stored signature must be a PURE function of
      the document, and the df-cap is corpus-dependent: a shingle crossing
      the cap as the corpus grows would silently change already-stored
      docs' signatures);
  (b) candidate-joins new-vs-(stored ∪ new) on the band keys — the SAME
      r=1 single-hash band join as ``dedup.minhash_lsh_pairs``'s auto path,
      but never old-vs-old (those pairs were found when their batches
      ingested — this asymmetry IS the incrementality: per-batch COMPUTE is
      O(new × collision rate), not O(corpus²));
  (c) MERGEs the keep-list labels: band rows append as an immutable
      ``batch=<id>`` partition, labels write as a new snapshot version, and
      the store's one journal commit line (``extras.store``, the
      ``run_incremental`` pattern) flips both live.

Store layout v2 (r08 — VERDICT r07 item 1, "prune by key, don't scan the
world", the reference's own date-named-subdir pruning, main.rs:59-68):
the store holds pre-exploded narrow band rows (doc_id, band, bkey),
directory-partitioned by ``bb = pmod(bkey, n_buckets)`` —

    bands/batch=<id>/bb=<n>/part-*.parquet   (sorted by (band, bkey))

so an ingest reads ONLY the bb buckets its new batch's keys touch (static
partition pruning from the collected, ≤ n_buckets, bucket list). v1 stored
WIDE signature rows and re-exploded the entire store (a 42× row
amplification) through a projection on every ingest; v2 explodes once at
write time and every later ingest scans three narrow columns from pruned
directories. When the new batch's band rows are small they are BROADCAST
into the cross join, so the stored side is never shuffled or sorted — the
per-ingest O(store) residual is one pruned, columnar, embarrassingly-
parallel scan (its bytes are measured and returned in the stats; the
Iceberg endgame — metadata-level key pruning + merge-on-read labels — is
ICEBERG.md's third MERGE INTO candidate). Bucket-count math is honest:
a batch touching ``m`` distinct keys reads ≈ (1 - e^(-m/n_buckets)) of the
store, so directory pruning bites for small/trickle batches (the standing-
ingest steady state) and degrades to a full — still narrow, still
shuffle-free — scan for bulk backfills.

Label maintenance is exact, not approximate, and runs on the CONTRACTED
component graph (r08): each touched prior component collapses to ONE node —
its label, which by the min-id invariant is the min doc_id of its
membership — new pairs' endpoints map through their prior labels, and
``curation.connected_components`` min-label propagation re-converges over
(touched components + new docs) nodes and (new pairs) edges alone; one join
then expands the merged labels back over the touched members, and every
other prior label passes through untouched. New edges still MERGE old
components (the keeper re-election property ``curate_pipeline`` tests
single-shot), and the CC propagation work per ingest is O(batch + touched
COMPONENTS) — members never enter the iterative rounds at all. The equality contract, pinned by test_incremental and the
``dedup_incremental`` driver oracle (brute est-over-all-pairs + WITH
RECURSIVE ground truth): N-batch incremental ingest == ``full_recompute``
over the union corpus, bit-for-bit, for any batch split and arrival order.

Reference analog: the AutoUpdate incremental path (main.rs:257-310) — scan
only new logs, merge into standing per-product state; this is its
extras-family twin. Store format: parquet dirs behind the same
``ICTSPARK_FORMAT`` seam as the routed store; on Iceberg the labels snapshot
becomes a MERGE INTO and band rows an append (ICEBERG.md gates).
"""

from __future__ import annotations

import functools
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark.extras import store
from ictspark.extras.curation import connected_components
from ictspark.extras.dedup import (
    AUTO_MAX_BANDS,
    AUTO_MAX_K,
    LSH_THRESHOLD,
    minhash_bands_for,
    minhash_rows_for,
    minhash_signatures,
)
from ictspark.session import barrier

# Store format version — recorded in every journal commit and folded into the
# demo-store content key (ADVICE r07): a code change to the store layout or
# the minhash family bumps this, so an old on-disk store is REFUSED loudly
# instead of serving stale band rows/labels to new code. v1 = wide signature
# rows (r07); v2 = bb-partitioned narrow band rows (r08).
STORE_FORMAT = 2
# Default directory-bucket count for the band rows. More buckets prune
# harder for trickle batches but multiply files per ingest (the small-files
# trade — compaction/Iceberg is the real-world answer above ~1k). Recorded
# at first commit; immutable per store.
STORE_BUCKETS = 64
# Probe-side broadcast rail: batches whose band-row count (n_docs × k) is
# under this are broadcast into the new-vs-stored join, so the stored side
# is scanned but never shuffled. Above it, a shuffle join is the right plan
# anyway (the batch is itself bulk data).
BROADCAST_MAX_BAND_ROWS = 4_000_000
# Driver-local CC rail (r08): the contracted touched subgraph per ingest is
# O(batch + touched components) BY CONSTRUCTION — in the standing-ingest
# regime it is tiny, and distributed min-label propagation pays O(diameter)
# full scheduling rounds (~2-3 s each) for a graph union-find folds in
# milliseconds. At or under this many symmetric edge rows the labels are
# computed on the driver (exact, same min-label result); above it — bulk
# backfills, adversarial merge storms — the distributed path runs
# unchanged. The collect is bounded by the rail itself, never by corpus
# size (the one place a driver-side step is size-railed, not size-assumed).
LOCAL_CC_MAX_EDGES = 2_000_000


def _auto_k(threshold: float) -> int:
    """Signature size for the store at this threshold — auto-derived like
    ``minhash_lsh_pairs``'s no-kwargs path. The store supports ONLY r=1
    (single-hash bands): with r=1 a matching band row IS a matching
    signature position, so est_jaccard comes from counting the candidate
    join in place — no full-signature re-join against the store — and the
    banded result EQUALS the brute est-threshold definition exactly (the
    oracle's form). Thresholds whose auto sizing lands r>1 would need the
    two-phase scoring path; raise rather than silently storing signatures a
    later ingest can't score incrementally. Mirrors minhash_lsh_pairs's
    AUTO_MAX_BANDS rail (ADVICE r07): a threshold low enough to demand
    thousands of single-hash bands would silently build a store with that
    many signature columns per doc — refuse it here too."""
    from ictspark.extras.similarity import AUTO_TARGET_RECALL

    r = minhash_rows_for(threshold, AUTO_MAX_K, AUTO_TARGET_RECALL)
    if r != 1:
        raise ValueError(
            f"signature store supports single-hash bands only (r=1); "
            f"threshold={threshold} auto-sizes to r={r} — lower the "
            "threshold or extend the store with the two-phase scoring path"
        )
    bands = minhash_bands_for(threshold, r, AUTO_TARGET_RECALL)
    if bands > AUTO_MAX_BANDS:
        raise ValueError(
            f"signature store: threshold={threshold} needs {bands} single-hash "
            f"bands for target recall — that is {bands} stored columns per "
            "doc; raise the threshold or size the store explicitly"
        )
    return bands


def _read_labels(spark: SparkSession, store_dir: str, entries: list[dict]) -> DataFrame | None:
    """The labels snapshot the LAST journal commit points at (None before the
    first commit). The journal, not the directory listing, is authoritative —
    a crash after a labels write but before its commit line leaves an orphan
    version dir that is simply never read (and is overwritten idempotently
    when that batch retries)."""
    if not entries:
        return None
    return spark.read.parquet(store.snapshot(store_dir, "labels", entries[-1]["labels_version"]))


def _band_rows(sig: DataFrame, k: int, n_buckets: int) -> DataFrame:
    """(doc_id, band, bkey, bb) band rows from a wide signature frame — r=1:
    band = signature position, bkey = that position's minhash value; one
    posexplode pass (the minhash_lsh_pairs r06 shape). bb is the directory
    bucket the row lands in."""
    return sig.select(
        "doc_id", F.posexplode(F.array(*[F.col(f"mh{i}") for i in range(k)])).alias("band", "bkey")
    ).withColumn("bb", F.pmod(F.col("bkey"), F.lit(n_buckets)).cast("int"))


def cc_railed(
    spark: SparkSession, nodes: DataFrame, sym: DataFrame, n_nodes: int, n_sym: int
) -> DataFrame:
    """Size-adaptive CC plan choice (the broadcast-join rule applied to
    label propagation): at or under LOCAL_CC_MAX_EDGES nodes AND symmetric
    edge rows, fold the graph on the driver with union-find; above it, run
    the distributed min-label propagation unchanged. Both sides are
    bit-identical fixpoints. Callers pass the counts they already know —
    the rail is checked on BOTH dimensions so a bulk backfill with many
    singleton nodes can never trigger an unbounded collect."""
    if under_cc_rail(n_nodes, n_sym):
        return _local_cc(spark, nodes, sym)
    return connected_components(nodes, sym)


def under_cc_rail(n_nodes: int, n_sym: int) -> bool:
    """The driver-local CC rail, in one place for every CC caller: true iff
    BOTH the node count and the symmetric edge-row count are at or under
    LOCAL_CC_MAX_EDGES (read at call time, so tests can force either
    path)."""
    return max(n_nodes, n_sym) <= LOCAL_CC_MAX_EDGES


def _local_cc(spark: SparkSession, nodes: DataFrame | None, edges: DataFrame) -> DataFrame:
    """Driver-local union-find over a size-railed contracted subgraph —
    bit-identical to ``connected_components``'s min-label fixpoint (union
    roots merge toward the smaller id, so every root IS its component's min
    node id). Only ever called under LOCAL_CC_MAX_EDGES. ``edges`` are
    (doc_a, doc_b) rows in either or both directions — union-find needs no
    symmetric copy. ``nodes=None`` labels exactly the edge endpoints.

    Driver-memory budget (VERDICT r08 blemish 2): rows cross as Arrow
    batches and land in flat int64 numpy buffers — ids are compacted to
    array indices (np.unique sorts, so smaller index == smaller id and the
    min-id union rule carries over unchanged), parent is an index array,
    and the only per-element Python objects are the transient ints of the
    edge loop. Measured at the 2 M-node/2 M-edge rail bound
    (scripts/cc_rail_budget.py, worst case — real touched subgraphs are
    far smaller): **354 MB peak-RSS delta, 12.7 s** end-to-end, vs 805 MB
    and 17.4 s for the former Row-object collect on the same graph —
    comfortably inside the 8 g driver heap next to a running workload."""
    import numpy as np
    import pandas as pd

    if nodes is None:
        # r10: callers whose node set IS the edge-endpoint set
        # (curation.near_dup_labels — singletons re-enter via a left join)
        # skip the second collect job; np.unique over the endpoints covers them
        node_ids = np.empty(0, dtype=np.int64)
    else:
        id_col = nodes.columns[0]
        node_ids = nodes.select(id_col).toArrow().column(0).to_numpy()
    rows = edges.select("doc_a", "doc_b").toArrow()
    ea = rows.column(0).to_numpy()
    eb = rows.column(1).to_numpy()
    ids = np.unique(np.concatenate([node_ids, ea, eb])).astype(np.int64)
    ia = np.searchsorted(ids, ea)
    ib = np.searchsorted(ids, eb)
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(ia.tolist(), ib.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    par = np.asarray(parent, dtype=np.int64)
    while True:  # pointer-jump the halved forest to its fixpoint
        nxt = par[par]
        if np.array_equal(nxt, par):
            break
        par = nxt
    out = pd.DataFrame({"doc_id": ids, "component": ids[par]})
    return spark.createDataFrame(out, schema="doc_id long, component long")


def _check_sizing(
    journal: store.Journal, store_dir: str, threshold: float, k: int, n_buckets: int
) -> None:
    """A store's sizing — (threshold, k) and bucket count — is fixed by its
    FIRST commit; every later ingest must match it (the store's identity
    check, run before the committed-id skip)."""
    for e in journal.batches:
        if "k" in e and (e.get("k") != k or e.get("threshold") != threshold):
            raise ValueError(
                f"store {store_dir!r} was built at threshold={e.get('threshold')} "
                f"(k={e.get('k')}); this ingest derives k={k} from "
                f"threshold={threshold} — a store's sizing is immutable, use a "
                "new store for a new threshold"
            )
        if "n_buckets" in e and e.get("n_buckets") != n_buckets:
            raise ValueError(
                f"store {store_dir!r} is bucketed {e.get('n_buckets')}-way; this "
                f"ingest asked for n_buckets={n_buckets} — the bucket count is "
                "part of the on-disk layout and immutable"
            )


def ingest_batch(
    batch_docs: DataFrame,
    store_dir: str,
    batch_id: str,
    threshold: float = LSH_THRESHOLD,
    n_buckets: int = STORE_BUCKETS,
) -> dict:
    """Ingest one batch of documents into the signature store; returns stats
    (per-phase timings, pruned-read bytes, bucket occupancy).

    Steps (docstring at module top): signature the batch, write its band
    rows bb-partitioned, candidate-join new-vs-(stored ∪ new) reading only
    touched buckets, union the TOUCHED prior components' star edges,
    re-converge, write the new labels snapshot, journal ONE commit. The
    guards are ``extras.store``'s; the re-push check runs against the
    standing labels (a re-pushed doc_id would corrupt the frozen signature
    store).

    ``max_bucket_occupancy`` aggregates the NEW batch's band rows only
    (O(batch) — the stored side isn't scanned an extra time per ingest), so
    store-side hot-bucket accumulation shows up through ``n_collisions``,
    the candidate join's true output size."""
    spark = batch_docs.sparkSession
    k = _auto_k(threshold)
    batch = store.open_batch(
        batch_docs,
        store_dir,
        batch_id,
        STORE_FORMAT,
        identity=lambda j: _check_sizing(j, store_dir, threshold, k, n_buckets),
    )
    n_docs = batch.n
    if batch.skipped:
        return {"batch": batch_id, "skipped": True, "n_docs": n_docs, "n_new_pairs": 0}
    t0 = time.time()
    prior = _read_labels(spark, store_dir, batch.journal.batches)
    if prior is not None:
        prior = prior.persist()
    store.reject_repush(batch_docs, prior, batch_id)
    # (a) signature ONLY the new batch and write its band rows as the
    # immutable bb-partitioned store partition; reread so the store — not
    # the input frame's lineage — backs everything downstream (and the
    # overwrite makes a crash-retry idempotent)
    batch_path = store.part(store_dir, "bands", batch_id)
    band_src = _band_rows(minhash_signatures(batch_docs, k, max_df=None), k, n_buckets)
    (
        band_src
        # ONE task per bucket before partitionBy, else every write task
        # splits into every bucket dir — n_tasks × n_buckets tiny files per
        # batch (measured: a 5-batch sf1 store hit ~10k files and the
        # listing dominated every later ingest's stored-side read)
        .repartition(n_buckets, "bb")
        .sortWithinPartitions("bb", "band", "bkey")
        .write.mode("overwrite")
        .partitionBy("bb")
        .parquet(batch_path)
    )
    # explicit schema on the read-back (ADVICE r08, medium): a batch whose
    # docs are all shingle-less yields ZERO band rows, and a partitionBy
    # write of an empty frame creates no partition dirs or data files — a
    # plain read raises UNABLE_TO_INFER_SCHEMA and every retry of an
    # otherwise-valid trickle ingest crashes. With the schema given, Spark
    # returns an empty frame and the label phase already treats shingle-less
    # docs as singleton corpus members.
    b_new = spark.read.schema(band_src.schema).parquet(batch_path)
    t_sig = time.time()
    # the buckets this batch touches — drives the pruned stored-side read;
    # ≤ n_buckets values, so the collect is bounded by construction
    touched = sorted(r["bb"] for r in b_new.select("bb").distinct().collect())
    committed_ids = batch.journal.ids
    stored = None
    read_bytes = 0
    if committed_ids and touched:
        root = os.path.join(store_dir, "bands")
        paths = store.written_parts(store_dir, "bands", committed_ids)
        if paths:
            stored = (
                spark.read.option("basePath", root)
                .parquet(*paths)
                .where(F.col("bb").isin(touched))
            )
        for cid in committed_ids:
            for bb in touched:
                read_bytes += store.dir_bytes(os.path.join(root, f"batch={cid}", f"bb={bb}"))
    # observability only: the NEW batch's max band-bucket occupancy
    max_occ = (
        b_new.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("occ"))
        .agg(F.max("occ"))
        .first()
        or [0]
    )[0] or 0
    # (b) candidates: new-vs-new (canonical a<b) ∪ new-vs-stored (sides
    # disjoint by the uniqueness guard; canonicalized with least/greatest) —
    # NEVER stored-vs-stored. With r=1, counting matching (band, bkey) rows
    # per pair IS the positional-match count, so est = round(n_matches/k, 4)
    # (the exact form minhash_lsh_pairs and the DuckDB oracle threshold on —
    # ADVICE r07: raw nm/k diverged within 5e-5 of an attainable m/k).
    a, b = b_new.alias("a"), b_new.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    if stored is not None:
        # scatter the pruned stored read before the probe join (r08 bench
        # finding): the bb-sorted layout lays every row of a hot (band,bkey)
        # bucket CONTIGUOUSLY, so under a broadcast-probe join one task emits
        # that bucket's entire new×stored collision mass (output skew — AQE
        # skew-join never sees it because the inputs are balanced; measured
        # 76.6 s -> 15.2 s on the sf1 batch-5 replay). A round-robin
        # repartition costs one shuffle of the rows the join must consume
        # anyway (O(pruned read), NOT O(store)) and spreads hot-bucket output
        # evenly at any scale.
        scatter = max(
            spark.sparkContext.defaultParallelism * 2,
            stored.rdd.getNumPartitions(),
        )
        stored = stored.repartition(scatter)
        probe = F.broadcast(a) if n_docs * k <= BROADCAST_MAX_BAND_ROWS else a
        cross = probe.join(
            stored.alias("o"),
            (F.col("a.band") == F.col("o.band")) & (F.col("a.bkey") == F.col("o.bkey")),
        ).select(
            F.least(F.col("a.doc_id"), F.col("o.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("o.doc_id")).alias("doc_b"),
        )
        cand = cand.unionByName(cross)
    pair_counts = cand.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("nm")).persist()
    # collision mass = the join's true output size
    n_collisions = (pair_counts.agg(F.sum("nm")).first() or [0])[0] or 0
    new_pairs = (
        pair_counts.where(F.round(F.col("nm") / F.lit(float(k)), 4) >= threshold)
        .select("doc_a", "doc_b")
        .persist()
    )
    n_new_pairs = new_pairs.count()
    pair_counts.unpersist()
    # persist the batch's NEW pairs as part of the store (r08): each pair is
    # found exactly once (new-vs-new when both endpoints arrive together,
    # new-vs-stored otherwise), so the union over committed batches IS the
    # standing est≥threshold pair set over everything ingested — the compact
    # state downstream incremental consumers (the curation manifest) rebuild
    # their decisions from. Overwrite keeps crash-retries idempotent.
    pairs_path = store.part(store_dir, "pairs", batch_id)
    new_pairs.write.mode("overwrite").parquet(pairs_path)
    # re-point downstream consumers at the WRITTEN partition (r08 bench
    # finding): the label phase's nodes/touched frames consume new_pairs
    # lazily, and the original cached frame was unpersisted before they
    # materialized — every later action silently re-ran the whole candidate
    # join (measured: the "CC" phase cost ~1.7× t_cand and grew with it).
    # The parquet read is the compact, lineage-free form of the same rows.
    new_pairs.unpersist()
    new_pairs = spark.read.parquet(pairs_path)
    t_cand = time.time()
    # (c) exact label maintenance on the CONTRACTED component graph (r08
    # rework): each prior component collapses to ONE node — its label, which
    # by the min-id invariant IS the min doc_id of its membership — and the
    # new pairs' endpoints map through their prior labels. CC over
    # (touched components + new docs) nodes and (new pairs) edges then
    # yields, per merged group, the min contracted id = the true global min
    # doc_id; one join expands it back over the touched MEMBERS. Strictly
    # less data than the earlier star construction (members appear only in
    # the final expansion join, never in the propagation rounds), same
    # bit-exact result — CC work is O(batch + touched COMPONENTS), not
    # O(touched members).
    new_ids = batch_docs.select("doc_id")  # NOT the band rows: shingle-less
    # docs have no band rows but are still corpus members (singletons)
    if prior is None:
        nodes, edges = new_ids, new_pairs
        passthrough = expanded = None
        n_touched = 0
    else:
        pair_docs = (
            new_pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(new_pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        touched_comp = prior.join(pair_docs, "doc_id").select("component").distinct().persist()
        n_touched = touched_comp.count()
        ma = prior.select(F.col("doc_id").alias("doc_a"), F.col("component").alias("ca"))
        mb = prior.select(F.col("doc_id").alias("doc_b"), F.col("component").alias("cb2"))
        edges = (
            new_pairs.join(ma, "doc_a", "left")
            .join(mb, "doc_b", "left")
            .select(
                F.coalesce("ca", F.col("doc_a")).alias("doc_a"),
                F.coalesce("cb2", F.col("doc_b")).alias("doc_b"),
            )
            .where(F.col("doc_a") != F.col("doc_b"))
        )
        nodes = new_ids.unionByName(touched_comp.select(F.col("component").alias("doc_id")))
        passthrough = prior.join(touched_comp, "component", "left_anti")
    # persist + materialize the symmetric edges before CC (the
    # dedup_components pattern — code-review r07: un-persisted, every
    # O(diameter) propagation round re-ran this union+distinct shuffle)
    sym = (
        edges.unionByName(
            edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .distinct()
        .persist()
    )
    t_sym0 = time.time()
    n_sym = sym.count()
    t_sym = time.time() - t_sym0
    t_prop0 = time.time()
    try:
        cc_labels = cc_railed(spark, nodes, sym, n_docs + n_touched, n_sym)
    finally:
        sym.unpersist()
    t_prop = time.time() - t_prop0
    labels = cc_labels
    if prior is not None:
        # expand the contracted labels over the touched members (their
        # contracted node was their prior component) and keep the new docs'
        # rows as-is (their contracted node was themselves)
        relabel = cc_labels.select(
            F.col("doc_id").alias("component"), F.col("component").alias("newlab")
        )
        expanded = (
            prior.join(touched_comp, "component")
            .join(relabel, "component")
            .select("doc_id", F.col("newlab").alias("component"))
        )
        labels = cc_labels.join(new_ids, "doc_id")
    t_cc = time.time()
    out_labels = labels
    if passthrough is not None:
        out_labels = passthrough.unionByName(expanded).unionByName(labels)
    out_labels.write.mode("overwrite").parquet(store.snapshot(store_dir, "labels", batch_id))
    cc_labels.unpersist()
    if prior is not None:
        prior.unpersist()
        touched_comp.unpersist()
    t_labels = time.time()
    batch.journal.commit(
        batch_id,
        rows=n_docs,
        input_sig=batch.sig,
        n_new_pairs=n_new_pairs,
        labels_version=batch_id,
        threshold=threshold,
        k=k,
        format=STORE_FORMAT,
        n_buckets=n_buckets,
        touched_buckets=len(touched),
        read_bytes_stored=read_bytes,
        n_collisions=int(n_collisions),
        max_bucket_occupancy=int(max_occ),
        duration_s=round(t_labels - t0, 3),
    )
    store.prune_snapshots(
        store_dir, "labels", [e["labels_version"] for e in batch.journal.batches], batch_id
    )
    return {
        "batch": batch_id,
        "skipped": False,
        "n_docs": n_docs,
        "n_new_pairs": n_new_pairs,
        "touched_buckets": len(touched),
        "read_bytes_stored": read_bytes,
        "n_collisions": int(n_collisions),
        "max_bucket_occupancy": int(max_occ),
        "t_sig_s": round(t_sig - t0, 3),
        "t_cand_s": round(t_cand - t_sig, 3),
        "t_cc_s": round(t_cc - t_cand, 3),
        "t_cc_sym_s": round(t_sym, 3),
        "t_cc_prop_s": round(t_prop, 3),
        "n_sym_edges": int(n_sym),
        "t_labels_s": round(t_labels - t_cc, 3),
    }


def components(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current (doc_id, component) labels — the last committed snapshot."""
    labels = _read_labels(spark, store_dir, store.Journal(store_dir).batches)
    if labels is None:
        raise ValueError(f"signature store {store_dir!r} has no committed batches")
    return labels


def pairs(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing (doc_a, doc_b) est≥threshold pair set over every
    committed batch — the union of each ingest's NEW pairs (each pair is
    found exactly once; see ``ingest_batch``). Journal-gated: an orphan
    pairs dir from a torn ingest is never read."""
    ids = store.Journal(store_dir).ids
    if not ids:
        raise ValueError(f"signature store {store_dir!r} has no committed batches")
    return (
        spark.read.option("basePath", os.path.join(store_dir, "pairs"))
        .parquet(*[store.part(store_dir, "pairs", i) for i in ids])
        .select("doc_a", "doc_b")
    )


def keep_list(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing keep/drop decision over everything ingested so far:
    (doc_id, component, n_members, keep) — ``curation.dedup_keep_list``'s
    output shape, read from the store instead of recomputed."""
    from ictspark.extras.curation import keep_columns

    return keep_columns(components(spark, store_dir))


def full_recompute(documents: DataFrame, threshold: float = LSH_THRESHOLD) -> DataFrame:
    """One-shot ground truth for the equality contract: the same keep list
    computed from scratch over the whole corpus — uncapped LSH pairs
    (matching the store's pure-per-doc signatures) → connected components →
    min-id keeper. ``curation.dedup_keep_list`` minus the df-cap."""
    from ictspark.extras.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(documents, threshold=threshold, max_df=None).persist()
    sym = (
        pairs.select("doc_a", "doc_b")
        .unionByName(pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
        .distinct()
        .persist()
    )
    sym.count()
    pairs.unpersist()
    try:
        labels = connected_components(documents.select("doc_id"), sym)
    finally:
        sym.unpersist()
    from ictspark.extras.curation import keep_columns

    out = barrier(keep_columns(labels), eager=True)
    labels.unpersist()
    return out


def incremental_keep_list_demo(
    spark: SparkSession, documents: DataFrame, threshold: float = LSH_THRESHOLD
) -> DataFrame:
    """The graded driver entry (``dedup_incremental``): ingest the corpus as
    ``store.DEMO_BATCHES`` interleaved doc_id-mod arrival batches (near-dup
    pairs routinely STRADDLE batches, so the new-vs-stored join is genuinely
    exercised) into the content-keyed demo store and return the standing
    keep list. Its oracle is the brute est-over-all-pairs + WITH RECURSIVE
    ground truth over the whole corpus (uncapped) — the driver's hash match
    proves the batched ingest path equals the one-shot definition."""
    store_dir = store.demo_store(
        "incr",
        documents,
        functools.partial(ingest_batch, threshold=threshold),
        threshold,
        f"fmt{STORE_FORMAT}",
    )
    return keep_list(spark, store_dir)
