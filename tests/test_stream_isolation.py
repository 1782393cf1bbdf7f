"""Each streaming run is isolated from the caller's session and from
other runs: state width lives in a child session's SQLConf, sinks and
checkpoints in a per-call scratch directory."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.errors import StreamingQueryException

from realtime_financial_transactions_data_pipeline_spark.streaming.run import (
    run_available_now,
    run_until,
)
from realtime_financial_transactions_data_pipeline_spark.streaming.windows import (
    t9_stream_sessionization,
    t10_stream_tumbling_windows,
)


def _values(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_stream_leaves_parent_shuffle_width_alone(spark, sf_dir):
    """A thread polling the caller's shuffle width while t9 runs must
    only ever see the session's own value."""
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    seen: set[str] = set()
    done = threading.Event()

    def poll() -> None:
        while not done.is_set():
            seen.add(spark.conf.get(key))
            time.sleep(0.005)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        t9_stream_sessionization(spark, sf_dir).collect()
    finally:
        done.set()
        poller.join(timeout=10)
    assert not poller.is_alive()
    assert seen == {session_value}


def test_concurrent_stream_probe_calls_match_serial(spark, sf_dir):
    """Two threads running t10 at once on one session each get the
    serial result: no shared checkpoint, no shared sink."""
    serial = _values(t10_stream_tumbling_windows(spark, sf_dir))
    results: dict[int, list] = {}
    errors: list[Exception] = []

    def run(i: int) -> None:
        try:
            results[i] = _values(t10_stream_tumbling_windows(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert results[0] == results[1] == serial


def test_child_session_inherits_runtime_time_zone(spark, tmp_path):
    """``newSession()`` drops runtime-set confs; the stream's child
    session must still see the caller's session time zone."""
    key = "spark.sql.session.timeZone"
    src = str(tmp_path / "in")
    spark.createDataFrame([(1,)], "x LONG").write.json(src)
    seen: list[str] = []

    def build(child):
        seen.append(child.conf.get(key))
        return (
            child.readStream.schema("x LONG")
            .json(src)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "cp"))
        )

    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        run_available_now(spark, build, input_dirs=[src])
    finally:
        spark.conf.set(key, prev)
    assert seen == ["America/New_York"]
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


def test_run_until_raises_the_query_failure(spark):
    """A processingTime query that fails surfaces its own exception at
    once instead of polling until the deadline."""
    started: list[float] = []
    children = []

    def build(child):
        started.append(time.monotonic())
        children.append(child)
        return (
            child.readStream.format("rate")
            .option("rowsPerSecond", 10)
            .load()
            .selectExpr("raise_error('run_until probe failure') AS x")
            .writeStream.format("noop")
        )

    with pytest.raises(StreamingQueryException, match="run_until probe failure"):
        run_until(spark, build, lambda p: False, timeout_s=120)
    assert time.monotonic() - started[0] < 60
    assert children[0] is not spark and children[0].streams.active == []
