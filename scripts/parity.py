"""Run the driver-style parity check locally: every queries() entry vs its
oracle_sql() at sf0.01 (or a given sf dir). Usage: python scripts/parity.py [sf_dir] [only...]"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as E
from ictspark.compare import diff
from ictspark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # rebuild transcript oracles for the requested scale (driver pins sf0.01;
    # this lets us prove parity at bigger tiers too, e.g. synthdata/sf1)
    import os as _os

    from ictspark import aggregates as _A
    from ictspark import oracle as _O
    from ictspark import synth as _synth
    from ictspark.extras import oracle_extras as _OX

    sfn = _os.path.basename(_os.path.normpath(sf_dir))
    _d = _synth.ensure(sfn)
    _md = _synth.ensure_media(sfn)
    _tp, _dp = _os.path.join(_d, "transcripts.parquet"), _os.path.join(_d, "tool_dim.parquet")
    if _os.path.isdir(_tp):
        _tp = _tp + "/*.parquet"  # DuckDB needs a glob for multi-file tables
    spark = get_spark(cpus=8, shuffle_partitions=16)
    con = duckdb.connect()
    # planner passes that do not change results but dominate the many-CTE
    # curation oracles' planning and run time (the perfbench oracle setting)
    con.execute(
        "SET disabled_optimizers = "
        "'statistics_propagation,compressed_materialization,filter_pushdown'"
    )
    # mimic the driver: driver tables pre-registered as views
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        if _os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    qs = E.queries()
    os_ = _O.transcript_oracles(_tp, _dp)
    os_.update(_O.export_oracles(_tp, _dp, _A.EXPORT_STEPS))
    os_.update(_O.misc_oracles(_tp, _dp))
    os_.update(_O.w7_oracles(_tp, _dp))
    os_.update(_O.product_oracles(_tp, _dp))
    os_.update(_OX.extras_oracles(_tp, _os.path.join(_md, "media.parquet")))
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spdf = fn(spark, sf_dir).toPandas()
        if name not in os_:
            print(f"{name:24s} rows={len(spdf):7d}  (rows-only, no oracle)  {time.time()-t0:.1f}s")
            continue
        ddf = con.execute(os_[name]).df()
        d = diff(spdf, ddf)
        status = "OK " if d is None else "FAIL"
        print(f"{name:24s} rows={len(spdf):7d}  {status}  {time.time()-t0:.1f}s")
        if d:
            failed.append(name)
            print("  " + d.replace("\n", "\n  ")[:2000])
    spark.stop()
    print("FAILED:" if failed else "ALL OK", failed)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
