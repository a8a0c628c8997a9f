"""Watermarked event-time windows: batch/streaming parity and
append-mode finalization semantics."""

from pyspark.sql import functions as F

from code_index_spark.schema import TRANSCRIPTS
from code_index_spark.streaming.windowed import (
    start_windowed_metrics,
    windowed_triple_counts,
)
from code_index_spark.synth import synthesize


def test_windowed_counts_batch_semantics(spark):
    pdf, _ = synthesize(20, seed=42)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    win = windowed_triple_counts(df, "1 hour", "30 minutes")
    rows = win.collect()
    assert rows, "windows must be produced"
    # window alignment: starts on the hour, 1h wide
    for r in rows:
        assert r["window_start"].minute == 0 and r["window_start"].second == 0
        assert (r["window_end"] - r["window_start"]).total_seconds() == 3600
    # conservation: windowed counts sum to the total triple count
    from code_index_spark.operators.extract import extract_triples

    total = extract_triples(df).count()
    assert sum(r["n_triples"] for r in rows) == total


def test_windowed_stream_appends_finalized_windows(spark, tmp_path):
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    pdf, _ = synthesize(15, seed=42)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS).write.parquet(in_dir)
    q = start_windowed_metrics(spark, in_dir, out_dir, ck, "1 hour", "30 minutes")
    q.awaitTermination(180)
    out = spark.read.parquet(out_dir)
    n1 = out.count()
    assert n1 > 0
    assert set(out.columns) == {"window_start", "window_end", "pred", "n_triples"}
    # append mode emits only watermark-finalized windows: the max event
    # time's window is still open and must be absent
    src = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    max_ts = src.agg(F.max("ts")).first()[0]
    open_windows = out.filter(F.col("window_end") > max_ts).count()
    assert open_windows == 0


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (streaming/interval_join.py): the
    joined output over a closed input equals the batch bucketized
    time_range_join row-for-row, and a checkpointed restart with no
    new files appends nothing."""
    import datetime as dt

    from pyspark.sql import functions as F

    from code_index_spark.operators.rangejoin import time_range_join
    from code_index_spark.streaming.interval_join import start_interval_join

    t0 = dt.datetime(2026, 1, 1)
    schema = "user_id long, ts timestamp, event_id long"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    purchases = [(u, t0 + dt.timedelta(minutes=m), 1000 + i)
                 for i, (u, m) in enumerate([(1, 40), (1, 90), (2, 10), (3, 50)])]
    clicks = [(u, t0 + dt.timedelta(minutes=m), 2000 + i)
              for i, (u, m) in enumerate(
                  [(1, 15), (1, 35), (1, 89), (2, 9), (2, 30), (3, 100)])]
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    mk(purchases).write.mode("overwrite").parquet(ldir)
    mk(clicks).write.mode("overwrite").parquet(rdir)

    q = start_interval_join(
        spark, ldir, rdir, out, ck, schema, on="user_id",
        lower_ms=-30 * 60 * 1000, upper_ms=0,
    )
    q.awaitTermination(180)
    got = {(r["event_id"], r["event_id_r"])
           for r in spark.read.parquet(out).collect()}

    batch = time_range_join(
        mk(purchases), mk(clicks), on="user_id", left_ts="ts",
        right_ts="ts", lower_ms=-30 * 60 * 1000, upper_ms=0,
    )
    want = {(r["event_id"], r["event_id_r"]) for r in batch.collect()}
    assert got == want
    # sanity on the fixture: matches exist and at least one purchase
    # has none (u3's click is in the future)
    assert want and 1003 not in {a for a, _ in want}

    # restart with the same checkpoint and no new input: no new rows
    n = spark.read.parquet(out).count()
    q2 = start_interval_join(
        spark, ldir, rdir, out, ck, schema, on="user_id",
        lower_ms=-30 * 60 * 1000, upper_ms=0,
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == n
