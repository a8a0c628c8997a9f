"""PageRank correctness on hand-computable graphs; stateful
first-mention streaming operator."""

import pytest
from pyspark.sql import functions as F

from code_index_spark.operators.graphalgo import degree_stats, pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, "co_mention", b, "c0", 0, 1.0) for a, b in pairs],
        "src_entity long, pred string, dst_entity long, conv_id string, "
        "turn_idx int, weight double",
    )


def test_pagerank_symmetric_triangle(spark):
    # undirected triangle: symmetry → equal ranks of 1/3
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    ranks = {r["v"]: r["rank"] for r in pagerank(e, max_iter=30, tol=1e-9).collect()}
    assert set(ranks) == {1, 2, 3}
    for v in ranks:
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-6)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_star_center_dominates(spark):
    # star: center 1 connected to 2,3,4,5 — center rank strictly highest
    e = _edges(spark, [(1, k) for k in (2, 3, 4, 5)])
    ranks = {r["v"]: r["rank"] for r in pagerank(e, max_iter=12, tol=1e-4).collect()}
    center = ranks.pop(1)
    assert all(center > v for v in ranks.values())
    leaves = list(ranks.values())
    for x in leaves:
        assert x == pytest.approx(leaves[0], abs=1e-9)  # leaf symmetry


def _plans_python_rdd(df):
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_empty_frames_plan_no_python_rdd(spark, tmp_path):
    """An empty state table and PageRank over an empty edge table are
    JVM-side relations (no Python worker tasks) with the DDL schema a
    createDataFrame([], ddl) frame has."""
    from code_index_spark.streaming.state import read_deltas

    ddl = "text_hash string, keep_id bigint"
    assert _plans_python_rdd(spark.createDataFrame([], ddl))  # the trap
    empty_state = read_deltas(spark, str(tmp_path / "missing"), ddl)
    assert not _plans_python_rdd(empty_state)
    assert empty_state.schema == spark.createDataFrame([], ddl).schema
    assert empty_state.count() == 0

    ranks = pagerank(_edges(spark, []))
    assert not _plans_python_rdd(ranks)
    assert ranks.schema == spark.createDataFrame([], "v long, rank double").schema
    assert ranks.count() == 0


def test_degree_stats(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (1, 4)])
    deg = {r["v"]: r["degree"] for r in degree_stats(e).collect()}
    assert deg == {1: 3, 2: 2, 3: 2, 4: 1}


def test_first_mentions_stateful_stream(spark, tmp_path):
    from code_index_spark.streaming.stateful import first_mentions_stream

    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    rows1 = [
        ("c1", 0, "Acme Corp"), ("c1", 1, "Acme Corp"), ("c1", 2, "Globex"),
        ("c2", 0, "Initech"),
    ]
    spark.createDataFrame(rows1, "conv_id string, turn_idx int, surface string") \
        .write.parquet(in_dir)
    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, surface string")
        .parquet(in_dir)
    )
    q = (
        first_mentions_stream(stream, state_ttl_ms=None)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("parquet").option("path", out_dir).start()
    )
    q.awaitTermination(180)
    got = {(r["conv_id"], r["surface"]) for r in spark.read.parquet(out_dir).collect()}
    assert got == {("c1", "Acme Corp"), ("c1", "Globex"), ("c2", "Initech")}

    # batch 2: repeats must be suppressed by state, new surfaces emitted
    rows2 = [("c1", 3, "Acme Corp"), ("c1", 4, "Umbrella"), ("c2", 1, "Initech")]
    spark.createDataFrame(rows2, "conv_id string, turn_idx int, surface string") \
        .write.mode("append").parquet(in_dir)
    q2 = (
        first_mentions_stream(
            spark.readStream.schema("conv_id string, turn_idx int, surface string")
            .parquet(in_dir),
            state_ttl_ms=None,
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("parquet").option("path", out_dir).start()
    )
    q2.awaitTermination(180)
    got2 = {(r["conv_id"], r["surface"]) for r in spark.read.parquet(out_dir).collect()}
    assert got2 == got | {("c1", "Umbrella")}
