"""Loaders for the driver-generated testdata (/root/testdata/sf*) and
the derived-transcripts view (FIXTURES.md §5).

The transcript view is defined ONCE as ANSI SQL that runs identically
in Spark SQL and DuckDB, so every downstream query keeps a DuckDB
oracle: conv_id = l_orderkey, turn_idx = l_linenumber-1, role cycled by
line number, text joined from the `documents` table by a deterministic
key, ts = l_shipdate. The documents join is broadcast by Spark
(documents ≤ 5000 rows ≪ autoBroadcastJoinThreshold).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# TitleCase of the two-word p_name, portable (DuckDB lacks initcap).
_TITLE = (
    "upper(substr(split_part(p.p_name, ' ', 1), 1, 1)) || "
    "substr(split_part(p.p_name, ' ', 1), 2) || ' ' || "
    "upper(substr(split_part(p.p_name, ' ', 2), 1, 1)) || "
    "substr(split_part(p.p_name, ' ', 2), 2)"
)

# ANSI SQL, valid in both Spark SQL and DuckDB (STRING == VARCHAR alias).
# The text column is enriched with deterministic rule-matching spans
# (entity mention, handle, call, backtick ident, URL, path, quoted
# literal, logic clause, tool kv lines) derived from join keys — so the
# extraction pipeline has real work at every scale factor and every
# extraction query stays DuckDB-oracle-expressible.
TRANSCRIPTS_SQL = """
SELECT CAST(l.l_orderkey AS STRING) AS conv_id,
       CAST(row_number() OVER (
            PARTITION BY l.l_orderkey
            ORDER BY l.l_linenumber, l.l_partkey, l.l_suppkey) - 1 AS INT)
         AS turn_idx,
       CASE CAST(l.l_linenumber % 4 AS INT)
            WHEN 1 THEN 'user' WHEN 2 THEN 'assistant'
            WHEN 3 THEN 'tool' ELSE 'system' END AS role,
       CASE WHEN l.l_linenumber % 4 = 0
            THEN repeat(d.text || ' ', 5) ELSE d.text END
         || ' met with ' || {title}
         || ' ping @supplier-' || CAST(l.l_suppkey AS STRING)
         || ' then ran ' || lower(p.p_type) || '_scan()'
         || ' see `' || lower(l.l_linestatus) || '_merge`'
         || ' docs at https://docs.example/part-' || CAST(l.l_partkey AS STRING)
         || ' wrote to /data/' || lower(l.l_returnflag) || '/' || lower(l.l_linestatus)
         || ' note "' || lower(p.p_brand) || '"'
         || ' retry because the flag was ' || lower(l.l_returnflag)
         || ' bumped to v' || CAST(l.l_partkey % 9 + 1 AS STRING)
         || '.' || CAST(l.l_suppkey % 10 AS STRING)
         || ' then df.cache()'
         || CASE WHEN l.l_linenumber % 4 = 3
                 THEN chr(10) || 'status=' || lower(l.l_linestatus)
                      || chr(10) || 'qty=' || CAST(CAST(l.l_quantity AS INT) AS STRING)
                 ELSE '' END
         AS text,
       CASE WHEN l.l_linenumber % 4 = 3 THEN
            CASE CAST(l.l_partkey % 4 AS INT)
                 WHEN 0 THEN 'search' WHEN 1 THEN 'exec'
                 WHEN 2 THEN 'read_file' ELSE 'browse' END
       END AS tool,
       l.l_shipdate AS ts
FROM (SELECT *,
             (l_partkey * 131 + l_linenumber) %
               (SELECT COUNT(*) FROM documents) AS _doc
      FROM lineitem) l
JOIN documents d ON d.doc_id = l._doc
JOIN part p ON p.p_partkey = l.l_partkey
""".replace("{title}", _TITLE)


# Second corpus for the workspace-list (multi-source) reader: event-log
# turns. Also pure shared-dialect SQL, so multi-corpus queries keep a
# full DuckDB oracle (S5 in SURVEY.md §2.1 — the reference's
# workspace_manager lists N collections and unions them).
TRANSCRIPTS_EVENTS_SQL = """
SELECT 'evt-' || CAST(user_id AS STRING) AS conv_id,
       CAST(row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT)
         AS turn_idx,
       CASE CAST(event_id % 2 AS INT)
            WHEN 0 THEN 'user' ELSE 'tool' END AS role,
       'observed ' || event_type || ' event ping @user-'
         || CAST(user_id AS STRING)
         || ' ran log_scan() value was "' || CAST(value AS STRING) || '"'
         AS text,
       CASE WHEN event_id % 2 = 1 THEN 'log_scan' END AS tool,
       ts
FROM events
"""


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read every testdata parquet and register it as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# --- restructured execution of TRANSCRIPTS_SQL (round 6) ------------
# The SQL above is the SEMANTIC definition (and the oracle text — it
# must stay byte-identical). Executed as written, Catalyst builds the
# ~1.3 KB text strings on the MAP side of the window exchange — i.e.
# on the parquet scan, which for a single smallish file is ONE task —
# and then shuffles the full wide text (measured 449.9 MiB for 600k
# rows at sf0.1, vs ~30 MB of narrow lineitem columns). The builder
# below computes the identical rows with the guide-§8 shape: shuffle
# the narrow proxy first, attach the heavy payload after.
#   1. project lineitem to the 8 needed columns and repartition by
#      l_orderkey at the core count (the one data exchange — same key
#      as the window exchange it replaces; the width is
#      spread_narrow_scan's rule: AQE never coalesces a user-numbered
#      exchange, and every partition past the cores is one more
#      fixed-cost task in each stage that reads the cached view);
#   2. run the SAME row_number window (its ClusteredDistribution is
#      satisfied by the repartition ⇒ no second exchange);
#   3. broadcast-join documents/part and build the text AFTER the
#      shuffle, so string construction runs at full width and the
#      wide column never crosses the wire.
# The SELECT list is derived from TRANSCRIPTS_SQL by substring
# surgery (asserted below), so the text expression cannot drift from
# the oracle; tests/test_tpch_view.py pins row-for-row equality with
# spark.sql(TRANSCRIPTS_SQL). Join totality (every lineitem row
# matches exactly one documents and one part row — so numbering
# before vs after the join is identical) holds by construction of the
# testdata: doc_id is contiguous 0..count-1 (the join key is `% count`)
# and p_partkey is the unique TPC-H part key.

_WINDOW_TURN_IDX = """CAST(row_number() OVER (
            PARTITION BY l.l_orderkey
            ORDER BY l.l_linenumber, l.l_partkey, l.l_suppkey) - 1 AS INT)
         AS turn_idx"""

_FROM_CLAUSE = """FROM (SELECT *,
             (l_partkey * 131 + l_linenumber) %
               (SELECT COUNT(*) FROM documents) AS _doc
      FROM lineitem) l
JOIN documents d ON d.doc_id = l._doc
JOIN part p ON p.p_partkey = l.l_partkey"""

assert _WINDOW_TURN_IDX in TRANSCRIPTS_SQL, "window expr drifted from TRANSCRIPTS_SQL"
assert _FROM_CLAUSE in TRANSCRIPTS_SQL, "FROM clause drifted from TRANSCRIPTS_SQL"

# narrow windowed lineitem: same window + same _doc expression, over a
# pre-spread projection registered as _li_spread. The window (and the
# repartition feeding it) key on conv_id = CAST(l_orderkey AS STRING)
# rather than l_orderkey itself: the cast is injective, so the
# partitions and the numbering are identical — but conv_id SURVIVES
# into the view's output columns, so the cached view advertises
# hashpartitioning(conv_id) and every downstream
# groupBy(conv_id, ...) / window over conv_id reuses the exchange
# (build_edges' per-turn collect drops its corpus-sized shuffle —
# tests/test_plans.py::test_edge_build_reuses_turn_partitioning is now
# the default pipeline shape, not an opt-in repartition).
_LI_WIN_SQL = """
SELECT conv_id, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_returnflag, l_linestatus, l_shipdate,
       CAST(row_number() OVER (
            PARTITION BY conv_id
            ORDER BY l_linenumber, l_partkey, l_suppkey) - 1 AS INT) AS _ti,
       (l_partkey * 131 + l_linenumber) %
         (SELECT COUNT(*) FROM documents) AS _doc
FROM _li_spread
"""

_CONV_ID_EXPR = "CAST(l.l_orderkey AS STRING) AS conv_id"
assert _CONV_ID_EXPR in TRANSCRIPTS_SQL, "conv_id expr drifted from TRANSCRIPTS_SQL"

_TRANSCRIPTS_RESTRUCTURED_SQL = TRANSCRIPTS_SQL.replace(
    _CONV_ID_EXPR, "l.conv_id"
).replace(
    _WINDOW_TURN_IDX, "l._ti AS turn_idx"
).replace(
    _FROM_CLAUSE,
    "FROM _li_win l\n"
    "JOIN documents d ON d.doc_id = l._doc\n"
    "JOIN part p ON p.p_partkey = l.l_partkey",
)

_LI_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_returnflag", "l_linestatus", "l_shipdate",
)


def derived_transcripts(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The transcript-shaped view over lineitem × documents.

    Rows are identical to spark.sql(TRANSCRIPTS_SQL) (pinned by
    tests/test_tpch_view.py); the physical plan shuffles only the
    narrow lineitem columns and builds the wide text post-exchange —
    see the restructuring note above."""
    tables = load_tables(spark, sf_dir)
    width = spark.sparkContext.defaultParallelism
    from pyspark.sql import functions as F

    tables["lineitem"].select(*_LI_COLS).withColumn(
        "conv_id", F.col("l_orderkey").cast("string")
    ).repartition(width, "conv_id").createOrReplaceTempView("_li_spread")
    spark.sql(_LI_WIN_SQL).createOrReplaceTempView("_li_win")
    df = spark.sql(_TRANSCRIPTS_RESTRUCTURED_SQL)
    df.createOrReplaceTempView("transcripts")
    return df


def event_transcripts(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The second (event-log) transcript corpus for multi-source reads."""
    load_tables(spark, sf_dir)
    return spark.sql(TRANSCRIPTS_EVENTS_SQL)


def oracle_with_transcripts(body_sql: str) -> str:
    """Wrap an oracle query so DuckDB sees the same transcripts view.

    If the body has its own WITH clause, merge it into ours (SQL allows
    only one WITH keyword per query level)."""
    body = body_sql.strip()
    if body.upper().startswith("WITH "):
        body = "," + body[4:]
    else:
        body = "\n" + body
    # MATERIALIZED: oracle bodies reference the transcripts CTE many
    # times (e.g. one arm per extraction rule); DuckDB would otherwise
    # inline the windowed/joined view into every arm and recompute it
    return f"WITH transcripts AS MATERIALIZED ({TRANSCRIPTS_SQL}){body}"
