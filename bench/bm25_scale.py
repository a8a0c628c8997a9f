"""BM25 index build + serving at scale (rank.bm25_index / bm25_topk).

Build: tokenize is codegen in the scan; tf/df aggregations and the
assembly joins shuffle (term, doc, counts) rows — ~13 per doc on this
fixture — never the text, and never broadcast the vocabulary-sized
term→df table. Write: sources/bucketed.write_bucketed by term, so
serving is bucket-pruned (the session pins autoBucketedScan off — see
the bm25_topk docstring for why the default silently downgrades).

Serving separates the two query classes:
  rare      — planted tokens with df≈1-2: the pruned path's best case
              (reads ≤ #terms buckets, aggregates a handful of rows)
  stopword+ — 1 rare token + 'the' (df ≈ n_docs): worst case — the
              posting list IS corpus-sized, so every index form pays
              the same aggregation; the fix is the max_df_frac
              stop-term cap, measured as its own line (capped index,
              same stopword+ queries).

Index forms on the same files/queries:
  warm    — localCheckpoint-ed in-memory index (session-lifetime)
  bucketed— catalog table, SelectedBucketsCount ≤ #terms of 64
  plain   — same parquet files read by path (bucket spec forgotten):
            row-group pruning only, the cost of skipping
            register_bucketed

--scaling N runs the build at N and 4N cores (separate sessions, same
input) and reports walls + throughput efficiency per the north rule.

Usage: python bench/bm25_scale.py [n_docs] [--scaling N]
Appends/replaces the '## BM25 index + serving at scale' section of
BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench.harness import cores, report, timed  # noqa: E402


def _tok(tag: str, i: int) -> str:
    """Python twin of prepare_scale.make_corpus's tok(): base-36 of the
    first 12 md5 hex chars — used to build queries that actually hit."""
    h = hashlib.md5(f"{tag}{i}".encode()).hexdigest()[:12]
    n = int(h, 16)
    out = ""
    while n:
        n, r = divmod(n, 36)
        out = "0123456789abcdefghijklmnopqrstuvwxyz"[r] + out
    return out or "0"


_IDS = (40, 400, 4000, 40000, 44440)


def _rare_queries() -> list[str]:
    return [f"{_tok('a', i)} {_tok('b', i)}" for i in _IDS]


def _mixed_queries() -> list[str]:
    return [f"the {_tok('a', i)}" for i in _IDS]


def _build_session(cores: int):
    from code_index_spark.session import get_spark

    spark = get_spark(
        "bm25-scale", cores=cores, shuffle_partitions=max(cores, 32)
    )
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    return spark


def _build(spark, n_docs: int, **kwargs):
    from bench.prepare_scale import make_corpus
    from code_index_spark.operators.rank import bm25_index

    docs, _ = make_corpus(spark, n_docs)
    t0 = time.perf_counter()
    idx = bm25_index(docs, "doc_id", "text", **kwargs) \
        .localCheckpoint(eager=True)
    n_postings = idx.count()
    return idx, n_postings, round(time.perf_counter() - t0, 1)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if args else 2_000_000
    scaling_n = None
    if "--scaling" in sys.argv:
        scaling_n = int(sys.argv[sys.argv.index("--scaling") + 1])

    from code_index_spark.operators.rank import bm25_topk
    from code_index_spark.sources.bucketed import read_bucketed, write_bucketed

    spark = _build_session(cores())
    idx, n_postings, t_build = _build(spark, n_docs)

    path = "/tmp/bm25_scale_idx"
    t0 = time.perf_counter()
    write_bucketed(idx, "bm25_scale_idx", "term", 64, path=path)
    t_write = round(time.perf_counter() - t0, 1)

    def serve_lat(index_df, queries) -> float:
        """Median request latency over the queries, one request each."""
        it = iter(queries)
        return round(timed(lambda: bm25_topk(index_df, next(it), k=10).collect(),
                           len(queries), warm=False).median, 3)

    serve_lat(idx, _rare_queries())  # warm code paths once, untimed
    bucketed = read_bucketed(spark, "bm25_scale_idx")
    lat = {
        "warm_rare": serve_lat(idx, _rare_queries()),
        "warm_stop": serve_lat(idx, _mixed_queries()),
        "bucketed_rare": serve_lat(bucketed, _rare_queries()),
        "bucketed_stop": serve_lat(bucketed, _mixed_queries()),
        "plain_rare": serve_lat(spark.read.parquet(path), _rare_queries()),
    }
    plan = bm25_topk(bucketed, _rare_queries()[0], k=10)._jdf \
        .queryExecution().executedPlan().toString()
    sel = plan.split("SelectedBucketsCount: ")[1].split("\n")[0].strip() \
        if "SelectedBucketsCount" in plan else "NOT PRUNED"

    # stop-term-capped index: the stopword+ fix
    idx_capped, n_capped, t_capped = _build(
        spark, n_docs, max_df_frac=0.5)
    lat["capped_stop"] = serve_lat(idx_capped, _mixed_queries())

    spark.sql("DROP TABLE IF EXISTS bm25_scale_idx")
    spark.stop()

    eff, walls = None, {}
    if scaling_n:
        for c in (scaling_n, 4 * scaling_n):
            s = _build_session(c)
            _, _, w = _build(s, n_docs)
            walls[c] = w
            s.stop()
        eff = round(walls[scaling_n] / (4 * walls[4 * scaling_n]), 3)

    out = {
        "metric": "bm25_scale",
        "n_docs": n_docs,
        "n_postings": n_postings,
        "build_sec": t_build,
        "build_docs_per_sec": round(n_docs / t_build, 1),
        "bucketed_write_sec": t_write,
        "serve_ms": {k: round(v * 1000) for k, v in lat.items()},
        "selected_buckets": sel,
        "capped_postings": n_capped,
        "capped_build_sec": t_capped,
        "scaling_walls": walls,
        "scaling_eff": eff,
        "cores": cores(),
    }
    lines = [
        "## BM25 index + serving at scale",
        "",
        f"({n_docs} docs ≈ {n_postings} postings, local[{cores()}], "
        "bench/bm25_scale.py; rare = 2 planted df≈1 tokens, stopword+ "
        "= 1 planted + 'the' (df≈n_docs), median of 5)",
        "",
        "| stage | measure |",
        "|---|---|",
        f"| index build (tokenize + tf/df aggs, vocab joins by "
        f"shuffle) | {t_build}s = "
        f"{round(n_docs / t_build / 1000, 1)}k docs/s |",
        f"| bucketed write (64 term buckets, sorted) | {t_write}s |",
        f"| serve rare: warm / bucketed ({sel}) / plain path | "
        f"{round(lat['warm_rare'] * 1000)} / "
        f"{round(lat['bucketed_rare'] * 1000)} / "
        f"{round(lat['plain_rare'] * 1000)} ms |",
        f"| serve stopword+: warm / bucketed | "
        f"{round(lat['warm_stop'] * 1000)} / "
        f"{round(lat['bucketed_stop'] * 1000)} ms — the corpus-sized "
        "posting list dominates every index form |",
        f"| serve stopword+ on max_df_frac=0.5 index "
        f"({n_capped} postings, build {t_capped}s) | "
        f"{round(lat['capped_stop'] * 1000)} ms |",
    ]
    if eff is not None:
        lines.append(
            f"| build scaling {scaling_n}→{4 * scaling_n} cores | "
            f"{walls[scaling_n]}s → {walls[4 * scaling_n]}s, "
            f"efficiency {eff} |"
        )
    report(out, "\n".join(lines))


if __name__ == "__main__":
    main()
