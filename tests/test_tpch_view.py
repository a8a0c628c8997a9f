"""The restructured derived_transcripts must be ROW-IDENTICAL to the
oracle's TRANSCRIPTS_SQL (which stays the semantic single source for
every DuckDB oracle body). Any drift between the restructured builder
and the SQL text is a correctness bug, not a perf trade."""

import pytest
from pyspark.sql import functions as F

from code_index_spark.sources.tpch import (
    TRANSCRIPTS_SQL,
    derived_transcripts,
    load_tables,
)


def test_restructured_view_identical_to_sql(spark):
    load_tables(spark, "/root/testdata/sf0.001")
    ref = spark.sql(TRANSCRIPTS_SQL)
    new = derived_transcripts(spark, "/root/testdata/sf0.001")
    assert new.columns == ref.columns
    assert [f.dataType for f in new.schema.fields] == [
        f.dataType for f in ref.schema.fields
    ]
    # full multiset equality, every column (ts cast for a stable key)
    def keyed(df):
        return df.select(
            F.concat_ws(
                "\x01",
                "conv_id",
                F.col("turn_idx").cast("string"),
                "role",
                "text",
                F.coalesce("tool", F.lit("\x02")),
                F.col("ts").cast("string"),
            ).alias("k")
        )

    diff = keyed(new).exceptAll(keyed(ref)).count()
    rdiff = keyed(ref).exceptAll(keyed(new)).count()
    assert diff == 0 and rdiff == 0, (diff, rdiff)


@pytest.fixture
def shuffle_partitions_32(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_restructured_view_single_narrow_exchange(spark, shuffle_partitions_32):
    """The one data exchange hash-partitions the NARROW lineitem rows
    by l_orderkey; the wide text column never appears below it. The
    exchange is user-numbered, so AQE never coalesces it: it is sized
    to the cores, not to spark.sql.shuffle.partitions (32 here)."""
    t = derived_transcripts(spark, "/root/testdata/sf0.001")
    plan = t._jdf.queryExecution().executedPlan().toString()
    main = plan.split("===== Subqueries")[0]
    # exactly one data exchange (the repartition), key = l_orderkey
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\([^)]*\)", main)
    assert len(exchanges) == 1, exchanges
    # keyed on conv_id (the injective string cast of l_orderkey), so
    # the partitioning survives into the output columns and downstream
    # conv-keyed consumers reuse it
    assert "conv_id" in exchanges[0]
    assert t.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
