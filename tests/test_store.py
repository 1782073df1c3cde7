"""The shared journaled-store protocol (``extras/store.py``): guards every
store gets from the one battery."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from ictspark.extras import incr_curation as IC
from ictspark.extras import incr_dsir as ID
from ictspark.extras.store import INIT_PARTITION, Journal


def test_foreign_format_init_refused(spark, tmp_path_factory):
    """A store whose ``__init__`` entry records another store format must
    refuse new batches, not append them — for the two stores that carry an
    ``__init__`` identity (curation, DSIR) as for the other four."""
    docs = spark.createDataFrame(
        [(1, "en", "web", "alpha beta gamma delta"), (2, "en", "web", "epsilon zeta eta theta")],
        "doc_id long, lang string, source string, text string",
    )
    for mod in (IC, ID):
        store = str(tmp_path_factory.mktemp("foreign_fmt"))
        mod.init_store(docs.where(F.col("doc_id") == 1), store)
        lin = Journal(store).lineage
        (init,) = lin.entries()
        os.remove(lin.path)
        params = {k: v for k, v in init.items() if k not in ("partition", "status", "at")}
        lin.commit(INIT_PARTITION, **{**params, "format": "x9"})
        with pytest.raises(ValueError, match="store-format"):
            mod.ingest_batch(docs.where(F.col("doc_id") == 2), store, "b0")
        assert Journal(store).batches == []


def test_demo_store_removed_at_exit(tmp_path, smoke_sf_dir):
    """A ``*_demo`` entry's store dir lives as long as its process: a process
    that answers a ``*_incremental`` query must not leave its store behind
    in the temp dir."""
    code = (
        "import glob, os, sys, tempfile\n"
        "from ictspark import io\n"
        "from ictspark.extras import incr_spans\n"
        "from ictspark.session import get_spark\n"
        "spark = get_spark(cpus=1, shuffle_partitions=2)\n"
        "docs = io.load_table(spark, sys.argv[1], 'documents')\n"
        "incr_spans.incremental_spans_demo(spark, docs).collect()\n"
        "print(*glob.glob(os.path.join(tempfile.gettempdir(), 'ictspark_*_demo_*')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", code, smoke_sf_dir],
        cwd=root,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    dirs = run.stdout.split()
    assert dirs and all(d.startswith(str(tmp_path)) for d in dirs), run.stdout
    assert [d for d in dirs if os.path.exists(d)] == []
