"""The journaled-store protocol — one implementation for the six incremental
stores (``incremental``, ``incr_curation``, ``incr_dsir``, ``incr_para``,
``incr_spans``, ``incr_semantic``). It is the reference's change-detection
scanner (scan_dir.rs, the AutoUpdate loop of main.rs:257-310) as one idea:
journal what was ingested, skip what was already seen, refuse input that has
drifted. Each store module keeps only its facts, its decisions and its own
identity checks (sizing, pinned tables, init params).

  - Journal: one ``checkpoint.Lineage`` per store at ``<store>/_ck``. An
    optional ``__init__`` entry holds the store's immutable identity (a
    benchmark or target set, params); every other committed entry is a
    batch. The journal, not the directory listing, is authoritative: a
    partition or snapshot written by a torn ingest is never read, and the
    retry overwrites it.
  - Ingest: write the batch's immutable ``<what>/batch=<id>`` partitions
    (overwrite mode, so a retry is idempotent), then flip them live with ONE
    commit line carrying the batch's content signature.
  - Guards (``open_batch`` + ``reject_repush``), in this order: the store
    format matches; the store's identity checks pass; a committed batch id
    with the same content is skipped, with other content it raises; ids
    are unique within the batch and were not pushed by an earlier batch.
  - Streams (``ingest_stream``): exactly-once by composition — Spark
    replays a failed epoch under the same epoch id and offsets, the replay
    re-enters ``ingest_batch`` under an already-committed id with the same
    content and is skipped, and a crash before the commit redoes the
    overwrite-idempotent writes.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ictspark.checkpoint import Lineage

INIT_PARTITION = "__init__"
# arrival batches of every *_demo driver entry: interleaved id-mod splits, so
# near-dups, repeated paragraphs and spans routinely straddle batches
DEMO_BATCHES = 3


class Journal:
    """A store's committed journal, read once. ``entries`` are all committed
    entries in commit order; ``init`` is the ``__init__`` identity entry (or
    None); ``batches`` are the committed batch entries in commit order."""

    def __init__(self, store_dir: str) -> None:
        self.lineage = Lineage(os.path.join(store_dir, "_ck"))
        self.entries = [e for e in self.lineage.entries() if e.get("status") == "committed"]
        self.init = next((e for e in self.entries if e["partition"] == INIT_PARTITION), None)
        self.batches = [e for e in self.entries if e["partition"] != INIT_PARTITION]

    @property
    def ids(self) -> list[str]:
        return [e["partition"] for e in self.batches]

    def commit(self, partition: str, **metrics) -> None:
        self.lineage.commit(partition, **metrics)


def input_sig(df: DataFrame, id_col: str = "doc_id", *content: str | Column) -> tuple[int, int, str]:
    """(row count, distinct id count, content signature) of a batch in one
    aggregation — count + mod-2^31 sum + bit_xor of a per-row xxhash64:
    ``checkpoint._day_stats``'s change-detection algebra (multiset-safe sum
    that can't overflow ANSI bigint below 2^32 rows, plus an independent
    64-bit xor). Doc stores hash (doc_id, text) with NULL text as '\\0'; the
    semantic store passes its own columns. Journals store this string, so
    its form must never change."""
    h = F.xxhash64(id_col, *(content or [F.coalesce("text", F.lit("\u0000"))]))
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(id_col).alias("nd"),
        F.coalesce(F.sum(F.pmod(h, F.lit(2**31))), F.lit(0)).alias("s"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
    ).first()
    return int(r["n"]), int(r["nd"]), f"{r['n']}:{r['s']}:{r['x']}"


class Batch(NamedTuple):
    journal: Journal
    n: int  # rows in the batch
    sig: str  # content signature, journaled as ``input_sig``
    skipped: bool  # the id is already committed with this content


def open_batch(
    batch: DataFrame,
    store_dir: str,
    batch_id: str,
    fmt: int | str,
    id_col: str = "doc_id",
    *content: str | Column,
    identity: Callable[[Journal], None] | None = None,
) -> Batch:
    """The guard battery up to the re-push check. The format check covers
    every committed entry that records a format, and the first entry must
    record one (curation batch lines carry none; their ``__init__`` does).
    ``identity`` — the store's own checks — runs next and BEFORE the
    committed-id skip, so re-ingesting a committed id under a different
    sizing raises instead of silently no-opping."""
    journal = Journal(store_dir)
    n, n_distinct, sig = input_sig(batch, id_col, *content)
    for i, e in enumerate(journal.entries):
        got = e.get("format")
        if (got is not None or i == 0) and got != fmt:
            raise ValueError(
                f"store {store_dir!r} was written by store-format {got!r}; this code "
                f"reads/writes {fmt!r} — rebuild the store (layouts are not "
                "cross-version compatible)"
            )
    if identity is not None:
        identity(journal)
    for e in journal.batches:
        if e["partition"] == batch_id:
            if e.get("input_sig") != sig:
                raise ValueError(
                    f"batch {batch_id!r} already committed with different content "
                    f"(stored {e.get('input_sig')}, got {sig}): batch ids are "
                    "immutable — use a new id for new data"
                )
            return Batch(journal, n, sig, True)
    if n_distinct != n:
        # an internally-duplicated batch (an upstream retry glued two files)
        # would otherwise commit merged facts with no error
        raise ValueError(
            f"batch {batch_id!r} contains duplicate {id_col}s "
            f"({n} rows, {n_distinct} distinct): {id_col}s must be unique"
        )
    return Batch(journal, n, sig, False)


def reject_repush(batch: DataFrame, stored: DataFrame | None, batch_id: str, id_col: str = "doc_id") -> None:
    """The last guard: no id of ``batch`` may already be in ``stored`` (a
    frame with an ``id_col`` column, None for an empty store) — a re-pushed
    id would corrupt the frozen per-id facts. ``stored`` is unpersisted
    before raising (a no-op unless the caller cached it)."""
    if stored is None:
        return
    n_overlap = batch.select(id_col).join(stored.select(id_col), id_col, "left_semi").count()
    if n_overlap:
        stored.unpersist()
        raise ValueError(
            f"batch {batch_id!r} re-pushes {n_overlap} {id_col}s already in the "
            f"store: {id_col}s must be globally unique across batches"
        )


def part(store_dir: str, what: str, batch_id: str) -> str:
    return os.path.join(store_dir, what, f"batch={batch_id}")


def read_parts(
    spark: SparkSession, store_dir: str, what: str, batch_ids: list[str], schema: str
) -> DataFrame:
    """Read immutable batch partitions with an EXPLICIT schema: an empty
    batch's partition reads as a well-typed empty frame instead of failing
    schema inference, and partitions straddling a layout change are read
    deterministically."""
    return spark.read.schema(schema).parquet(*[part(store_dir, what, b) for b in batch_ids])


def written_parts(store_dir: str, what: str, batch_ids: list[str]) -> list[str]:
    """The batch partitions holding at least one parquet data file. A
    partitionBy write of an empty frame commits a dir with only _SUCCESS;
    in a multi-path inferred-schema read it would poison schema inference,
    and it contributes no rows anyway."""
    return [p for b in batch_ids if _has_data_files(p := part(store_dir, what, b))]


def _has_data_files(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def dir_bytes(path: str) -> int:
    out = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                out += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return out


def snapshot(store_dir: str, what: str, version: str) -> str:
    return os.path.join(store_dir, what, f"v={version}")


def prune_snapshots(store_dir: str, what: str, versions: list[str], current: str) -> None:
    """Delete superseded ``<what>/v=<version>`` snapshots. One O(corpus)
    snapshot per batch would grow without bound, and only the last committed
    one is ever read; the current one AND its predecessor (the last of
    ``versions``, the previously committed ones) stay, so a reader that
    grabbed a frame just before this ingest stays valid."""
    for v in set(versions) - {current, *versions[-1:]}:
        shutil.rmtree(snapshot(store_dir, what, v), ignore_errors=True)


def ingest_stream(
    ingest_batch: Callable[[DataFrame, str, str], dict],
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
):
    """Drain a Structured Streaming source into a store through
    ``foreachBatch``: one ``ingest_batch(df, store_dir, batch_id)`` per
    micro-batch with ``batch_id = f"s{epoch_id:09d}"``. The store journal is
    the authoritative one; Spark's streaming checkpoint only re-offers work
    the store either skips or safely redoes. A store with an ``__init__``
    identity must be initialized before the stream starts. Empty
    micro-batches (availableNow commonly emits one) never touch the journal.
    Guard failures fail the query loudly rather than commit corruption. The
    availableNow trigger makes the returned, live ``StreamingQuery``
    self-terminate once the source is drained."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_batch(batch_df, store_dir, f"s{epoch_id:09d}")

    return (
        stream_docs.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


_DEMO_DIRS: set[str] = set()  # this process's demo stores, removed at exit


def demo_store(
    name: str,
    docs: DataFrame,
    ingest_batch: Callable[[DataFrame, str, str], dict],
    *key,
    id_col: str = "doc_id",
    content: tuple = (),
    init: Callable[[str], dict] | None = None,
) -> str:
    """Ingest ``docs`` into a demo store as DEMO_BATCHES interleaved id-mod
    batches (``b000``…) and return the store dir. The dir is deterministic
    in (name, content signature, ``key`` — params and store format — and
    pid): a re-run on the same corpus in the same process re-enters the same
    store and every ingest is an idempotent journal skip; the format tag
    keeps a layout change from reading a stale store; the pid keeps
    concurrent processes apart (the journal append and parquet overwrite
    have no cross-process locking), and the dir is removed when the process
    exits. ``init`` initializes stores that carry an ``__init__`` identity."""
    sig = input_sig(docs, id_col, *content)[2]
    tag = "|".join(map(str, (sig, DEMO_BATCHES, *key, f"pid{os.getpid()}")))
    store_dir = os.path.join(
        tempfile.gettempdir(),
        f"ictspark_{name}_demo_{hashlib.md5(tag.encode()).hexdigest()[:12]}",
    )
    if store_dir not in _DEMO_DIRS:
        _DEMO_DIRS.add(store_dir)
        atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    if init is not None:
        init(store_dir)
    for i in range(DEMO_BATCHES):
        ingest_batch(docs.where(F.col(id_col) % DEMO_BATCHES == i), store_dir, f"b{i:03d}")
    return store_dir
