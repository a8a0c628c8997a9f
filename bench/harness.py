"""What the bench/ scripts share: the repo root on sys.path, session
width, trial timing, fresh-JVM N-vs-4N runs, corpus replication and the
BENCH.md / BENCH_sections.json writes.

A BENCH.md section is identified by its `## ` title line alone, so a
title names the measurement and never its run parameters (sizes, cores,
trials go in the body's first line): a re-run at another size then
replaces its section in place instead of appending a second one.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time
from typing import Any, Callable, NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def cores() -> int:
    """local[N] width of a bench session: the session's default,
    $SPARK_GRAFT_CPUS, else every CPU."""
    from code_index_spark.session import default_cores

    return default_cores()


class Timing(NamedTuple):
    median: float
    min: float
    runs: list[float]
    out: Any

    def rates(self, n: int) -> dict:
        """n items per second: the median run's rate and every run's."""
        return {"median_rate": round(n / self.median),
                "rates": sorted(round(n / s) for s in self.runs)}


def timed(fn: Callable[[], Any], trials: int, warm: bool = True) -> Timing:
    """Seconds of `trials` calls of fn, after one untimed call when
    `warm`; `out` is the last call's result."""
    if warm:
        fn()
    runs, out = [], None
    for _ in range(trials):
        t0 = time.perf_counter()
        out = fn()
        runs.append(time.perf_counter() - t0)
    return Timing(statistics.median(runs), min(runs), runs, out)


def replicated_transcripts(spark, sf_dir: str, mult: int, width: int):
    """The sf_dir transcripts replicated mult× with distinct conv_ids
    (same text distribution, mult× volume: 10 × sf0.1 ≈ sf1), spread
    over `width` conv_id partitions and persisted (not yet counted)."""
    from pyspark.sql import functions as F

    from code_index_spark.sources.tpch import derived_transcripts

    t = derived_transcripts(spark, sf_dir)
    if mult > 1:
        t = (spark.range(mult).crossJoin(t)
             .withColumn("conv_id", F.concat_ws("-", "conv_id", F.col("id")))
             .drop("id"))
    return t.repartition(width, "conv_id").persist()


# imports the function's module (its file's directory and ROOT first on
# sys.path) and prints fn(*args) as the last stdout line
_BOOTSTRAP = (
    "import importlib, json, sys; sys.path[:0] = sys.argv[1:3]; "
    "fn = getattr(importlib.import_module(sys.argv[3]), sys.argv[4]); "
    "print(json.dumps(fn(*json.loads(sys.argv[5]))))"
)


def base36_token(tag: str, id_col="id"):
    """A pseudo-random fixture token per row: 12 hex chars of
    md5(tag || id) rendered in base36. Base36, not hex: real identifier
    vocabularies draw from the full [a-z0-9] alphabet, whose ~50k
    char-trigram universe keeps random-pair jaccard realistic; hex
    tokens cap the universe at ~5k and inflate the collision noise
    floor ~10x beyond anything a real corpus shows. id_col is a column
    name or a Column."""
    from pyspark.sql import functions as F

    ids = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.lower(F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), ids.cast("string"))), 1, 12), 16, 36,
    ))


def fresh_jvm(fn: Callable[..., dict], *args) -> dict:
    """fn(*args) in a new Python process, so in a new JVM. fn is a
    module-level function; args and the result travel as JSON. A failed
    child re-raises here after its stderr is written to ours."""
    path = os.path.abspath(sys.modules[fn.__module__].__file__)
    module = fn.__module__
    if module == "__main__":  # a script run by path: name it by its file
        module = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    cmd = [sys.executable, "-c", _BOOTSTRAP, ROOT, os.path.dirname(path),
           module, fn.__name__, json.dumps(args)]
    try:
        run = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                             check=True)
    except subprocess.CalledProcessError as e:
        sys.stderr.write(e.stderr)
        raise
    return json.loads(run.stdout.strip().splitlines()[-1])


def n_vs_4n(fn: Callable[..., dict], n_lo: int, rate_key: str, *args):
    """fn(cores, *args) in a fresh JVM at n_lo and at 4·n_lo cores on
    the same input. Returns (lo, hi, efficiency), where efficiency =
    (rate_4N / rate_N) / 4 of the results' `rate_key` (dots descend
    into nested results)."""
    lo = fresh_jvm(fn, n_lo, *args)
    hi = fresh_jvm(fn, 4 * n_lo, *args)

    def rate(r):
        for k in rate_key.split("."):
            r = r[k]
        return r

    return lo, hi, round(rate(hi) / rate(lo) / 4, 3)


def scaling_table(lo: dict, hi: dict, eff: float,
                  label: str = "docs/sec (median)",
                  value: str = "median_rate", trials: str = "rates") -> str:
    """The N-vs-4N rows of a scaling section plus its efficiency line;
    lo and hi are n_vs_4n results carrying `cores`, `value`, `trials`."""
    rows = "".join(f"| local[{r['cores']}] | {r[value]} | {r[trials]} |\n"
                   for r in (lo, hi))
    return (
        f"| parallelism | {label} | all trials |\n|---|---|---|\n{rows}\n"
        f"**Scaling efficiency {lo['cores']}→{hi['cores']}: {eff}** "
        "(hypervisor-steal caveats as in the header section).\n"
    )


def report(record: dict, section: str) -> None:
    """Print record as the run's JSON line; put `section` into BENCH.md
    in place of the section with the same first line (its `## ` title,
    or the file's `# ` header), appending it when the title is new; and
    keep record as BENCH_sections.json[record["metric"]]."""
    print(json.dumps(record), flush=True)
    md = os.path.join(ROOT, "BENCH.md")
    text = ""
    if os.path.exists(md):
        with open(md) as f:
            text = f.read()
    section = section.rstrip("\n") + "\n"
    title = section.split("\n", 1)[0]
    parts = re.split(r"(?m)^(?=## )", text)
    for i, part in enumerate(parts):
        if part.split("\n", 1)[0] == title:
            parts[i] = section
            break
    else:
        if parts[-1] and not parts[-1].endswith("\n"):
            parts[-1] += "\n"
        parts.append(section)
    with open(md, "w") as f:
        f.write("".join(parts))

    js = os.path.join(ROOT, "BENCH_sections.json")
    records = {}
    if os.path.exists(js):
        with open(js) as f:
            records = json.load(f)
    records[record["metric"]] = record
    with open(js, "w") as f:
        json.dump(records, f, indent=1)
        f.write("\n")
