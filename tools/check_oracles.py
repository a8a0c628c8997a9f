"""Driver-style oracle parity harness: run every __spark_entry__
query at a given sf and compare against its DuckDB oracle —
row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]

Runs on local[$SPARK_GRAFT_CPUS] (default 16) with 16 shuffle
partitions; the derived transcripts view is as wide as the cores.
DuckDB runs beside the driver JVM's 8 GB heap, so it gets an explicit
3 GB memory limit and spills under the system temp dir (its defaults,
80% of RAM and `.tmp` in the working directory, overcommit the box
together with the JVM).
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import time

import duckdb
import pandas as pd

print = functools.partial(print, flush=True)

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402
from code_index_spark.session import get_spark  # noqa: E402
from code_index_spark.sources.tpch import TABLES  # noqa: E402


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "float" in str(pdf[c].dtype):
            pdf[c] = pdf[c].round(6)
        elif "int" in str(pdf[c].dtype).lower():
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("oracle-check", cores=cores, shuffle_partitions=16)
    con = duckdb.connect(config={
        "memory_limit": "3GB",
        "temp_directory": os.path.join(tempfile.gettempdir(), "check_oracles_duckdb"),
    })
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            got = fn(spark, sf_dir).toPandas()
            print(f"  [{name} spark {time.perf_counter() - t0:.1f}s]")
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in os_:
            print(f"ROWS {name}: {len(got)} rows (no oracle)")
            continue
        try:
            want = con.execute(os_[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append(name)
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, atol=1e-6)
            print(f"OK   {name}: {len(g)} rows")
        except AssertionError as e:
            failures.append(name)
            print(f"FAIL {name}: values differ: {str(e)[:400]}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
