"""Watermark / event-time window tests: late rows within the horizon
update their window; rows beyond the watermark are dropped; windows
finalize in append mode only after the watermark passes."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark.streaming.windows import (
    windowed_revenue,
)


SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def fresh_root(tmp_path):
    return str(tmp_path / "root")


def _write(spark, rows, path, mode):
    df = spark.createDataFrame(
        [(r[0], float(r[1])) for r in rows], ["t", "value"]
    ).select(F.to_timestamp("t").alias("event_time"), "value")
    df.coalesce(1).write.mode(mode).json(path)


def _run(spark, in_dir, out_dir, cp_dir):
    q = (
        windowed_revenue(
            spark.readStream.schema(SCHEMA).json(in_dir),
            window="1 hour",
            watermark="2 hours",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_late_data_within_watermark_counted(spark, fresh_root):
    """Batch 1 advances event time to 12:00; batch 2 delivers a LATE row
    for the 08:00 window (4h late > 2h watermark → dropped) and one for
    the 11:00 window (within horizon → counted). Append-mode windows
    finalize once the watermark passes them, so a third batch pushes
    time forward to flush results."""
    in_dir, out, cp = f"{fresh_root}/in", f"{fresh_root}/out", f"{fresh_root}/_cp"
    _write(spark, [("2024-01-01 08:10:00", 1), ("2024-01-01 11:50:00", 2),
                   ("2024-01-01 12:00:00", 4)], in_dir, "overwrite")
    _run(spark, in_dir, out, cp)
    # batch 2: one too-late row (08:20), one admissible late row (11:55)
    _write(spark, [("2024-01-01 08:20:00", 8), ("2024-01-01 11:55:00", 16)], in_dir, "append")
    _run(spark, in_dir, out, cp)
    # batch 3: advance watermark far past everything to finalize windows
    _write(spark, [("2024-01-02 00:00:00", 0)], in_dir, "append")
    _run(spark, in_dir, out, cp)

    rows = {
        r.window_start.strftime("%H:%M"): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    assert rows["08:00"] == (1, 1.0)  # late 8.0 dropped (beyond watermark)
    assert rows["11:00"] == (2, 18.0)  # late 16.0 admitted (within watermark)
    assert rows["12:00"] == (1, 4.0)


def test_sessionize_streaming_gap_semantics(spark, fresh_root):
    """Streaming session windows: events within the 30-min gap merge
    into one session; a gap-or-more pause starts a new one. A final
    batch advances the watermark so append mode emits the closed
    sessions."""
    from realtime_financial_transactions_data_pipeline_spark.streaming.windows import sessionize

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_time", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    in_dir, out, cp = f"{fresh_root}/in", f"{fresh_root}/out", f"{fresh_root}/_cp"
    rows = [
        (1, "2024-01-01 08:00:00", 1.0),
        (1, "2024-01-01 08:20:00", 2.0),   # within gap -> same session
        (1, "2024-01-01 09:30:00", 4.0),   # 70 min pause -> new session
        (2, "2024-01-01 08:05:00", 8.0),   # other key -> own session
    ]
    df = spark.createDataFrame(rows, ["user_id", "t", "value"]).select(
        "user_id", F.to_timestamp("t").alias("event_time"), "value"
    )
    df.coalesce(1).write.mode("overwrite").json(in_dir)
    spark.createDataFrame([(9, "2024-01-02 00:00:00", 0.0)], ["user_id", "t", "value"]).select(
        "user_id", F.to_timestamp("t").alias("event_time"), "value"
    ).coalesce(1).write.mode("append").json(in_dir)

    q = (
        sessionize(spark.readStream.schema(schema).json(in_dir), gap="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.session_start.strftime("%H:%M")): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).filter("user_id < 9").collect()
    }
    assert got[(1, "08:00")] == (2, 3.0)
    assert got[(1, "09:30")] == (1, 4.0)
    assert got[(2, "08:05")] == (1, 8.0)


def test_batch_and_streaming_window_exprs_agree(spark, sf_dir):
    """The probe's batch twin and a one-shot streaming run produce the
    same windows on the same input."""
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("event_time"), "value"
    )
    batch = windowed_revenue(e, streaming=False)
    assert batch.count() > 0
    assert batch.filter(F.col("n_events") <= 0).count() == 0


def test_t12_unification_matches_duckdb(spark):
    """t12's streamed-and-certified output equals an independent DuckDB
    day rollup at sf0.001 (the in-probe gate already pins stream ==
    batch; this pins both against a third engine)."""
    import duckdb

    from realtime_financial_transactions_data_pipeline_spark.streaming.windows import (
        t12_batch_stream_unification,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.window_start.isoformat(), r.event_type): (r.n_events, r.total_value)
        for r in t12_batch_stream_unification(spark, sf).collect()
    }
    want = {
        (ws.isoformat(), et): (n, tv)
        for ws, et, n, tv in duckdb.sql(
            f"""SELECT time_bucket(INTERVAL 1 DAY, date_trunc('second', ts)),
                       event_type, count(*),
                       round(sum(value), 2)
                FROM read_parquet('{sf}/events.parquet')
                WHERE user_id % 10 = 4 GROUP BY 1, 2"""
        ).fetchall()
    }
    assert got == want
