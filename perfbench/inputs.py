"""Seeded benchmark inputs, written into the benchmark's own work directory.

Transcripts use the `ictspark.synth` grammar (including its ~1% hot
conversations with 100x the steps); documents follow the shape of
`synth.ensure_documents` (near-duplicate families, exact duplicates, rare
tokens, boilerplate). Both are pure functions of (seed, size): the same seed
gives byte-identical parquet. Nothing is written under `synthdata/`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ictspark import synth


_EPOCH = datetime(1970, 1, 1)  # ts columns are naive UTC wall clock


@dataclass
class Transcripts:
    dir: str  # holds transcripts.parquet/ + tool_dim.parquet + role_dim.parquet
    table: pa.Table  # the same rows, kept for slicing into arrival batches
    turns: int
    lines: int  # text lines the parse stage scans
    input_bytes: int  # parquet bytes of transcripts.parquet/

    @property
    def transcripts_glob(self) -> str:
        return os.path.join(self.dir, "transcripts.parquet", "*.parquet")

    @property
    def tool_dim_path(self) -> str:
        return os.path.join(self.dir, "tool_dim.parquet")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def write_dims(out: str) -> None:
    for name, tbl in synth._dims().items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def transcripts(out: str, seed: int, n_convs: int, n_files: int) -> Transcripts:
    """`n_convs` conversations split over `n_files` part files (one file
    would pin the scan to a single task)."""
    os.makedirs(os.path.join(out, "transcripts.parquet"), exist_ok=True)
    rng = np.random.RandomState(seed)
    pool = synth.step_pool()
    changed = synth.limit_changes_steps(pool)
    specs = synth._conv_specs(rng, n_convs)
    per = max(1, -(-len(specs) // n_files))
    parts = []
    for p in range(0, len(specs), per):
        buf = synth._Buf()
        for conv_id, i in specs[p : p + per]:
            synth._gen_conv(rng, buf, conv_id, i, pool, changed)
        tbl = buf.table()
        pq.write_table(tbl, os.path.join(out, "transcripts.parquet", f"part-{len(parts):04d}.parquet"))
        parts.append(tbl)
    write_dims(out)
    table = pa.concat_tables(parts)
    lines = int(pc.sum(pc.add(pc.count_substring(table["text"], "\n"), 1)).as_py())
    return Transcripts(
        dir=out,
        table=table,
        turns=table.num_rows,
        lines=lines,
        input_bytes=_dir_bytes(os.path.join(out, "transcripts.parquet")),
    )


def arrival_slices(table: pa.Table, hours: int) -> list[pa.Table]:
    """Split transcripts into ts-ordered windows of `hours` each, aligned to
    multiples of `hours` since the epoch (the rows that arrive between two
    polls)."""
    ts = table["ts"]
    lo = pc.min(ts).as_py()
    hi = pc.max(ts).as_py()
    step = hours * 3600
    start = int((lo - _EPOCH).total_seconds()) // step * step
    out = []
    t = start
    while t <= int((hi - _EPOCH).total_seconds()):
        a = pa.scalar(_EPOCH + timedelta(seconds=t), pa.timestamp("us"))
        b = pa.scalar(_EPOCH + timedelta(seconds=t + step), pa.timestamp("us"))
        mask = pc.and_(pc.greater_equal(ts, a), pc.less(ts, b))
        out.append(table.filter(mask))
        t += step
    return out


def documents(path: str, seed: int, n_docs: int) -> int:
    """`documents` table in the shape of `synth.ensure_documents`; returns
    the row count."""
    rng = np.random.default_rng(seed)
    vocab = synth.DOC_VOCAB
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.005:  # exact duplicate of the previous doc
            texts.append(texts[-1])
            langs.append(langs[-1])
            continue
        if i > 0 and r < 0.08:  # near-dup family: one token swapped
            toks = texts[-1].split(" ")
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            langs.append(langs[-1])
            continue
        length = int(rng.integers(30, 91))
        toks = [vocab[int(j)] for j in rng.integers(0, len(vocab), size=length)]
        for _ in range(int(rng.integers(2, 7))):  # rare tokens separate docs
            toks[int(rng.integers(0, length))] = f"rt{int(rng.integers(0, n_docs))}q{i % 97}"
        if rng.random() < 0.3:
            toks = synth.DOC_BOILER.split(" ") + toks
        texts.append(" ".join(toks))
        langs.append(synth.DOC_LANGS[int(rng.choice(len(synth.DOC_LANGS), p=synth.DOC_LANG_W))])
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, path)
    return n_docs
