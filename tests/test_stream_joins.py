"""Stream-stream time-bounded join: a purchase matches only clicks of
the same user at most the horizon earlier; unmatched rows on either
side emit nothing (inner join)."""

from __future__ import annotations


from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark.streaming import joins
from realtime_financial_transactions_data_pipeline_spark.streaming.joins import (
    stream_stream_attribution,
)


SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def test_stream_stream_join_horizon(spark, tmp_path):
    root = str(tmp_path)
    rows = [
        (100, 1, "click", "2024-01-01 10:00:00"),
        (200, 1, "purchase", "2024-01-01 10:30:00"),  # within 1h of click 100
        (201, 1, "purchase", "2024-01-01 11:30:00"),  # 90 min -> outside horizon
        (202, 2, "purchase", "2024-01-01 10:15:00"),  # no click for user 2
        (103, 3, "click", "2024-01-01 10:05:00"),     # no purchase for user 3
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "t"]).select(
        "event_id", "user_id", "event_type", F.to_timestamp("t").alias("ts")
    )
    df.coalesce(1).write.mode("overwrite").json(f"{root}/in")

    src = spark.readStream.schema(SCHEMA).json(f"{root}/in")
    joined = stream_stream_attribution(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "purchase"),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/_cp")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [
        (r.click_id, r.purchase_id, r.mins_to_purchase)
        for r in spark.read.parquet(f"{root}/out").collect()
    ]
    assert got == [(100, 200, 30.0)]


def test_outer_join_emits_unmatched_clicks(spark, tmp_path):
    """The pusher-file protocol must surface a click with no purchase
    as a null-side row within ONE availableNow run — the determinism
    problem that blocked this operator in round 2."""
    import os

    root = str(tmp_path)
    for side, rows in (
        ("clicks", [(1, "c1", "2024-01-01T10:00:00"), (2, "c2", "2024-01-01T10:05:00")]),
        ("purchases", [(1, "p1", "2024-01-01T10:30:00")]),
    ):
        os.makedirs(f"{root}/{side}")
        with open(f"{root}/{side}/0.json", "w") as fh:
            for u, e, ts in rows:
                fh.write(f'{{"user_id": {u}, "event_id": "{e}", "ts": "{ts}"}}\n')
            fh.write('{"user_id": -1, "event_id": "push1", "ts": "2030-01-01T00:00:00"}\n')
        with open(f"{root}/{side}/1.json", "w") as fh:
            fh.write('{"user_id": -1, "event_id": "push2", "ts": "2030-01-02T00:00:00"}\n')
        for i in (0, 1):
            os.utime(f"{root}/{side}/{i}.json", (1700000000 + i, 1700000000 + i))
    joins.run_attribution_outer_stream(
        spark, f"{root}/clicks", f"{root}/purchases", f"{root}/out", f"{root}/_cp"
    )
    out = {r.click_id: r.purchase_id
           for r in spark.read.parquet(f"{root}/out").filter("c_key >= 0").collect()}
    assert out == {"c1": "p1", "c2": None}


def test_t13_full_outer_crafted_orphans(spark):
    """Crafted corpus for the full-outer semantics: a matched pair, a
    click with no purchase in horizon (left-null), a purchase with no
    click before it (right-null: the orphan conversion), and a
    purchase 61 min after its click (outside the 1 h horizon — BOTH
    sides must surface unmatched). Runs the same join expression the
    streamed runner uses, in batch mode, so the condition itself is
    pinned independent of the pusher protocol."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    c = spark.createDataFrame(
        [(1, "c1", t0), (2, "c2", t0), (4, "c4", t0)],
        "c_key long, click_id string, click_ts timestamp",
    )
    p = spark.createDataFrame(
        [
            (1, "p1", t0 + dt.timedelta(minutes=30)),
            (3, "p3", t0),
            (4, "p4", t0 + dt.timedelta(minutes=61)),
        ],
        "p_key long, purchase_id string, purchase_ts timestamp",
    )
    j = c.join(
        p,
        (F.col("c_key") == F.col("p_key"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 hour")
        ),
        "fullOuter",
    ).select("click_id", "purchase_id")
    got = {(r.click_id, r.purchase_id) for r in j.collect()}
    assert got == {
        ("c1", "p1"),
        ("c2", None),
        ("c4", None),
        (None, "p3"),
        (None, "p4"),
    }
