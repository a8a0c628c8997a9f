"""Driver-style oracle parity harness: run every __spark_entry__
query at a given sf and compare against its DuckDB oracle —
row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]

The query list runs in groups of GROUP_SIZE, each group in a fresh
child process (its own Spark session and DuckDB connection), and the
parent prints one merged OK/FAIL table. One process cannot run the
whole list: every DuckDB `.df()` fetch of a large result (the 754k-row
triples rows at sf0.01) leaves ~16–23k memory mappings behind, and
once the process reaches vm.max_map_count (65,530) every DuckDB
allocation fails. An `.arrow()` fetch releases them but types DECIMAL
columns as Python Decimal, which breaks the `doc_quality` compare.

Each child runs on local[$SPARK_GRAFT_CPUS] (default 16) with 16
shuffle partitions; the derived transcripts view is as wide as the
cores. DuckDB runs beside the driver JVM's 8 GB heap, so it gets an
explicit 3 GB memory limit and spills under the system temp dir (its
defaults, 80% of RAM and `.tmp` in the working directory, overcommit
the box together with the JVM).
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import tempfile
import time

import pandas as pd

print = functools.partial(print, flush=True)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as entrymod  # noqa: E402

GROUP_SIZE = 8
RESULT_TAG = "RESULT "


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


def check(spark, con, sf_dir: str, name: str, fn, oracle: str | None) -> tuple[str, str]:
    """(status, detail) of one query: OK, FAIL, or ROWS (no oracle)."""
    t0 = time.perf_counter()
    try:
        got = fn(spark, sf_dir).toPandas()
        print(f"  [{name} spark {time.perf_counter() - t0:.1f}s]")
    except Exception as e:
        return "FAIL", f"spark error {type(e).__name__}: {str(e)[:300]}"
    if oracle is None:
        return "ROWS", f"{len(got)} rows (no oracle)"
    try:
        want = con.execute(oracle).df()
    except Exception as e:
        return "FAIL", f"duckdb error {str(e)[:300]}"
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return "FAIL", f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return "FAIL", f"rows {len(g)} vs {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, atol=1e-6)
    except AssertionError as e:
        return "FAIL", f"values differ: {str(e)[:400]}"
    return "OK", f"{len(g)} rows"


def run_group(sf_dir: str, names: list[str]) -> None:
    """Child: check `names` in this process, printing one tagged JSON
    line per query for the parent."""
    import duckdb

    from code_index_spark.session import get_spark
    from code_index_spark.sources.tpch import TABLES

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("oracle-check", cores=cores, shuffle_partitions=16)
    con = duckdb.connect(config={
        "memory_limit": "3GB",
        "temp_directory": os.path.join(tempfile.gettempdir(), "check_oracles_duckdb"),
    })
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    for name in names:
        status, detail = check(spark, con, sf_dir, name, qs[name], os_.get(name))
        print(f"{status:<4} {name}: {detail}")
        print(RESULT_TAG + json.dumps([name, status, detail]))


def main() -> int:
    if sys.argv[1:2] == ["--group"]:
        run_group(sys.argv[2], sys.argv[3:])
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    names = [n for n in entrymod.queries() if not only or n in only]
    results: dict[str, tuple[str, str]] = {}
    for i in range(0, len(names), GROUP_SIZE):
        group = names[i:i + GROUP_SIZE]
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--group", sf_dir, *group],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        for line in child.stdout:
            if line.startswith(RESULT_TAG):
                name, status, detail = json.loads(line[len(RESULT_TAG):])
                results[name] = (status, detail)
            else:
                print(line, end="")
        rc = child.wait()
        for name in group:
            results.setdefault(name, ("FAIL", f"child process exited {rc} before it"))

    print("\n" + "\n".join(
        f"{results[n][0]:<4} {n}: {results[n][1][:120]}" for n in names))
    failures = [n for n in names if results[n][0] == "FAIL"]
    n_oracle = sum(results[n][0] != "ROWS" for n in names)
    print(f"\n{n_oracle - len(failures)}/{n_oracle} oracles OK; "
          f"{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
