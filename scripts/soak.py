"""Soak: repeat the barrier-heavy calls in ONE Spark session and watch the
block manager. Checkpoint blocks cannot be evicted and ``unpersist()`` does
not release them, so a barrier that keeps its blocks in storage memory shows
here as storage memory growing round after round, until tasks fail with
UNABLE_TO_ACQUIRE_MEMORY.

Each round runs ``ReportSet`` + ``materialize`` over the sf1 synthetic
transcripts, then ``minhash_lsh_pairs`` and ``curate_pipeline`` over a
documents table, and prints one JSON line with the round's wall time and the
storage memory / disk bytes of every cached RDD (``getRDDStorageInfo``).
Run:

    python scripts/soak.py [rounds] [documents_sf_dir] 2>soak.log
    grep -c "Failed to update accumulator" soak.log

(defaults: 10 rounds, /root/testdata/sf0.1; cores from SPARK_GRAFT_CPUS).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ictspark import io, synth  # noqa: E402
from ictspark.extras import curation, dedup  # noqa: E402
from ictspark.pipeline import ReportSet  # noqa: E402
from ictspark.session import get_spark  # noqa: E402


def storage(spark) -> dict:
    infos = list(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return {
        "rdds": len(infos),
        "mem_bytes": sum(r.memSize() for r in infos),
        "disk_bytes": sum(r.diskSize() for r in infos),
    }


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    docs_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app="ictspark-soak")
    spark.sparkContext.setLogLevel("ERROR")
    t_dir = synth.ensure("sf1")
    transcripts = spark.read.parquet(os.path.join(t_dir, "transcripts.parquet"))
    tool_dim = spark.read.parquet(os.path.join(t_dir, "tool_dim.parquet"))
    docs = io.load_table(spark, docs_dir, "documents").cache()
    docs.count()
    print(json.dumps({"round": 0, **storage(spark)}), flush=True)
    for i in range(1, rounds + 1):
        t0 = time.time()
        rs = ReportSet(transcripts, tool_dim)
        counts = rs.materialize()
        n_pairs = dedup.minhash_lsh_pairs(docs).count()
        n_manifest = curation.curate_pipeline(docs).count()
        row = {"round": i, "wall_s": round(time.time() - t0, 2), **storage(spark)}
        row.update(steps=counts["steps"], pairs=n_pairs, manifest=n_manifest)
        print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
