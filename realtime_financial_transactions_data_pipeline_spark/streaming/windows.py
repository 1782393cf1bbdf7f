"""Event-time windowed aggregation with watermarks (extension beyond
the reference's stateless pipeline — SURVEY §2.10 T2 notes the
reference has no windows; this is the Structured Streaming path a
scaled deployment adds for late-data-tolerant time-series rollups).

Semantics: tumbling event-time windows keyed on the *event* timestamp
(T3's event-time column), with a watermark bounding how late a row may
arrive and still update its window. State per open window lives in the
state store; the watermark lets Spark finalize and evict windows, so
state is O(windows in the lateness horizon), not O(stream length) —
the property that makes this safe on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.caching import (
    disk_fixture,
    source_fingerprint,
    spark_json_slices,
)
from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround
from realtime_financial_transactions_data_pipeline_spark.registry import pin_result, probe
from realtime_financial_transactions_data_pipeline_spark.streaming.run import (
    probe_scratch,
    run_available_now,
)
from realtime_financial_transactions_data_pipeline_spark.tables import load_table


def windowed_revenue(
    txns: DataFrame,
    ts_col: str = "event_time",
    window: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = True,
) -> DataFrame:
    """Tumbling-window revenue/volume rollup. On a stream the watermark
    bounds state and admits late rows up to the horizon; on a batch
    DataFrame the same expression computes the identical result (used
    by the oracle-checked probe below)."""
    src = txns.withWatermark(ts_col, watermark) if streaming else txns
    return (
        src.groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "event_time",
    gap: str = "30 minutes",
    streaming: bool = True,
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows: consecutive events of one key belong to a
    session while each arrives within ``gap`` of the last; the window
    end is last-event + gap (exclusive). On a stream the watermark
    closes sessions whose gap horizon has passed, bounding state to the
    open sessions inside it — the property that lets per-user
    sessionization run forever on an unbounded stream."""
    src = events.withWatermark(ts_col, watermark) if streaming else events
    return (
        src.groupBy(key, F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@probe(
    "t4b_sessionization",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def t4b_sessionization(spark, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap), batch twin of the
    streaming expression; the DuckDB oracle is the classic
    gaps-and-islands rewrite (lag → gap flag → running sum → group),
    pinning Spark's session_window semantics: start = first event,
    end = last event + gap, a gap-or-more pause splits."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("event_time"), "value"
    )
    return sessionize(e, streaming=False)


@probe(
    "t2b_event_time_windows",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def t2b_event_time_windows(spark, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows, batch twin (identical expression to
    the streaming path; DuckDB's time_bucket is the oracle). The
    streaming behavior — late rows inside the watermark admitted,
    beyond it dropped, state evicted — is tested in
    tests/test_windows.py."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("event_time"), "value"
    )
    return windowed_revenue(e, streaming=False)


@probe(
    "t9_stream_sessionization",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('second', ts) AS ts, value
      FROM events WHERE user_id % 10 = 6),
    ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM e),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def t9_stream_sessionization(spark, sf_dir: str) -> DataFrame:
    """END-TO-END STREAMING sessionization, hash-checked: a user
    subset of `events` replays through `readStream` →
    `session_window` → append sink; watermark-driven session closure
    is made complete by the t8 watermark-pusher protocol (file 0 =
    data + far-future pusher, file 1 = second pusher whose batch runs
    the eviction pass), so every real session emits inside one
    availableNow run. Unlike t8's outer join, session VALUES are
    batch-composition-invariant (state merges are associative), so the
    streamed output hashes directly against the gaps-and-islands
    oracle — no batch re-derivation needed."""
    flat = disk_fixture(
        "t9-events",
        source_fingerprint(sf_dir, "events"),
        lambda tmp: spark_json_slices(
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") % 10 == 6)
            .select(
                "user_id", F.date_trunc("second", "ts").alias("event_time"), "value"
            ),
            tmp,
            1,
            extra_lines={
                0: ['{"user_id": -1, "event_time": "2030-01-01T00:00:00", "value": 0.0}'],
                1: ['{"user_id": -1, "event_time": "2030-01-02T00:00:00", "value": 0.0}'],
            },
        ),
    )
    with probe_scratch() as root:
        run_available_now(
            spark,
            lambda child: sessionize(
                child.readStream.schema("user_id LONG, event_time TIMESTAMP, value DOUBLE")
                .option("maxFilesPerTrigger", 1)
                .json(flat),
                ts_col="event_time",
                streaming=True,
                watermark="30 minutes",
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/_cp"),
            input_dirs=[flat],
            min_data_batches=2,  # the watermark-pusher protocol
        )
        return pin_result(spark.read.parquet(f"{root}/out").filter(F.col("user_id") >= 0))


@probe(
    "t10_stream_tumbling_windows",
    oracle="""
    WITH e AS (
      SELECT date_trunc('second', ts) AS ts, value
      FROM events WHERE user_id % 10 = 2)
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM e GROUP BY 1
    """,
)
def t10_stream_tumbling_windows(spark, sf_dir: str) -> DataFrame:
    """END-TO-END STREAMING tumbling event-time windows (readStream →
    window(1 hour) → watermarked append sink): the t2b batch twin
    upgraded to the real streaming path, with the watermark-pusher
    protocol closing every window inside one availableNow run. Window
    aggregates are batch-composition-invariant, so the streamed output
    hashes directly against DuckDB's time_bucket."""
    flat = disk_fixture(
        "t10-events",
        source_fingerprint(sf_dir, "events"),
        lambda tmp: spark_json_slices(
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") % 10 == 2)
            .select(F.date_trunc("second", "ts").alias("event_time"), "value"),
            tmp,
            1,
            extra_lines={
                0: ['{"event_time": "2030-01-01T00:00:00", "value": 0.0}'],
                1: ['{"event_time": "2030-01-02T00:00:00", "value": 0.0}'],
            },
        ),
    )
    with probe_scratch() as root:
        run_available_now(
            spark,
            lambda child: windowed_revenue(
                child.readStream.schema("event_time TIMESTAMP, value DOUBLE")
                .option("maxFilesPerTrigger", 1)
                .json(flat),
                watermark="30 minutes",
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/_cp"),
            input_dirs=[flat],
            min_data_batches=2,  # the watermark-pusher protocol
        )
        # Drop the pusher windows (2030): keep windows that saw real data.
        out = spark.read.parquet(f"{root}/out").filter(
            F.col("window_start") < F.lit("2029-01-01").cast("timestamp")
        )
        return pin_result(out)


@probe(
    "t2c_hopping_windows",
    oracle="""
    WITH e AS (
      SELECT date_trunc('second', ts) AS ts, value
      FROM events WHERE user_id % 10 = 1),
    hops AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w_start, ts, value FROM e
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, ts, value
      FROM e)
    SELECT w_start AS window_start,
           w_start + INTERVAL 1 HOUR AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM hops GROUP BY w_start
    """,
)
def t2c_hopping_windows(spark, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows — 1-hour windows every 30
    minutes, so each event lands in exactly TWO overlapping windows.
    Same streaming expression as t10 with a slide duration; batch twin
    hash-checked against the hop-explosion rewrite (each event unioned
    into both its windows). At scale the fan-out factor is
    window/slide — the documented cost of overlap; the aggregate stays
    partial-aggregable per (window) key."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 1)
        .select(F.date_trunc("second", "ts").alias("event_time"), "value")
    )
    return (
        e.groupBy(F.window("event_time", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# t12 — batch/stream unification certificate: the Structured
# Streaming promise the reference's Beam pipeline can't make — ONE
# transformation definition (withWatermark is a no-op in batch, so the
# literal same function compiles both ways) executed over the same
# records as a static read AND as an availableNow file stream, with
# the probe raising unless the two results are row-for-row identical.
# This is the operational property that lets a 100 TB backfill reuse
# the streaming job's code verbatim. Streamed via the t10
# watermark-pusher protocol (far-future rows close every real window
# inside one run); the oracle replays the day-window aggregate, so the
# hash certifies the streamed output AND (via the in-probe equality
# gate) the batch twin at once.
# ---------------------------------------------------------------------------


def _t12_transform(df: DataFrame) -> DataFrame:
    """The ONE definition both execution modes share: day tumbling
    windows per event type — counts and rounded value totals."""
    return (
        df.withWatermark("event_time", "30 minutes")
        .groupBy(
            F.window("event_time", "1 day").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@probe(
    "t12_batch_stream_unification",
    oracle="""
    SELECT time_bucket(INTERVAL 1 DAY, date_trunc('second', ts))
             AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events WHERE user_id % 10 = 4
    GROUP BY 1, 2
    """,
)
def t12_batch_stream_unification(spark, sf_dir: str) -> DataFrame:
    """t12 — run `_t12_transform` once over a static DataFrame and once
    over an availableNow stream of the same JSON slices, certify the
    outputs identical in-probe (sorted-row equality; any divergence
    raises), and return the STREAMED result. Block comment above for
    why this is the unification property worth a certificate."""
    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 4)
        .select(
            F.date_trunc("second", "ts").alias("event_time"),
            "event_type",
            "value",
        )
    )
    flat = disk_fixture(
        "t12-events",
        source_fingerprint(sf_dir, "events"),
        lambda tmp: spark_json_slices(
            src,
            tmp,
            2,
            slice_col=F.dayofmonth("event_time"),
            extra_lines={
                2: [
                    '{"event_time": "2030-01-01T00:00:00",'
                    ' "event_type": "click", "value": 0.0}'
                ],
            },
        ),
    )
    schema = "event_time TIMESTAMP, event_type STRING, value DOUBLE"
    real = F.col("window_start") < F.lit("2029-01-01").cast("timestamp")
    with probe_scratch() as root:
        run_available_now(
            spark,
            lambda child: _t12_transform(
                child.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(flat)
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/_cp"),
            input_dirs=[flat],
        )
        streamed = pin_result(spark.read.parquet(f"{root}/out").filter(real))
    # The certificate: the SAME function over the SAME records as a
    # plain batch DataFrame (reading the identical JSON slices the
    # stream consumed, pusher excluded) must agree row-for-row.
    batch = _t12_transform(spark.read.schema(schema).json(flat)).filter(real)
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    if got != want:
        first = next(
            ((a, b) for a, b in zip(got, want) if a != b),
            ("<one result is a prefix of the other>",),
        )
        raise RuntimeError(
            f"batch/stream divergence: {len(got)} streamed rows vs "
            f"{len(want)} batch rows (first diff: {first})"
        )
    return streamed
