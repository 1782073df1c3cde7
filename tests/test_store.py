"""The shared journaled-store protocol (``extras/store.py``): guards every
store gets from the one battery."""

import os

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
