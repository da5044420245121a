"""Oracle parity harness: run declared queries against the DuckDB oracle at a
small SF and compare full sorted row values (the driver checks rows + schema +
hash; this replicates that with an exact sorted-frame compare).

Usage: python scripts/oracle_check.py [sf_dir] [query ...]
Defaults: /root/testdata/sf0.01, all queries that have oracle SQL.

Each query prints ``ok``, ``FAIL`` or — when its input fixture is missing
(Spark ``PATH_NOT_FOUND``) — ``unavailable``; a raising query does not stop
the run. The last line counts each outcome; the exit status is 1 if any query
printed ``FAIL``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    import duckdb
    import pandas as pd
    from pyspark.errors import AnalysisException

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from mapping_analysis_spark.session import get_spark

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                if os.path.isdir(p)
                else f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    names = [n for n in qs if (not only or n in only) and n in osql]
    counts = {"ok": 0, "unavailable": 0, "FAIL": 0}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            odf = con.execute(osql[name]).df()
        except Exception as exc:  # noqa: BLE001 — report and keep going
            if isinstance(exc, AnalysisException) and exc.getCondition() == "PATH_NOT_FOUND":
                outcome, msg = "unavailable", str(exc).splitlines()[0]
            else:
                outcome, msg = "FAIL", f"{type(exc).__name__}: {exc}"
            print(f"{outcome} {name}: {msg[:400]}")
            counts[outcome] += 1
            continue
        cols = list(sdf.columns)
        if list(odf.columns) != cols:
            print(f"FAIL {name}: schema spark={cols} oracle={list(odf.columns)}")
            counts["FAIL"] += 1
            continue
        s = sdf.sort_values(cols).reset_index(drop=True)
        o = odf.sort_values(cols).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False)
            print(f"ok   {name}: {len(s)} rows ({time.time()-t0:.1f}s)")
            counts["ok"] += 1
        except AssertionError as exc:
            print(f"FAIL {name}: {str(exc)[:400]}")
            counts["FAIL"] += 1
    spark.stop()
    print(" ".join(f"{k}={v}" for k, v in counts.items()) + f" of {len(names)}")
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
