"""The one way this package runs a bounded stream. Sinks and
checkpoints go under the probe's ``registry.probe_scratch()`` root.

- :func:`run_available_now` drains the files currently in a query's
  input directories on a child session, so the query's state
  partitioning lives in the child's SQLConf and the caller's session
  is never touched (the Structured Streaming model: offsets, state and
  state partitioning belong to one query and its checkpoint).
- :func:`run_until` runs a processingTime query on a child session
  until its progress meets a condition, for sources that are not
  file directories (the rate source, a Python stream source).
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter

from realtime_financial_transactions_data_pipeline_spark.session import child_session


def await_or_raise(query, timeout_s: int) -> None:
    """``awaitTermination(timeout)`` returning False means the stream is
    STILL RUNNING: stop it and raise. Swallowing the timeout would let
    the caller read partially-written sinks while the live query races
    the next run's scratch cleanup."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"streaming query did not finish within {timeout_s}s")


def _stream_width(spark: SparkSession, input_dirs: list[str]) -> int:
    """Shuffle width for a stream over ``input_dirs``: one partition per
    AQE advisory partition size of input, at least 1. A stateful query
    fixes its state partitioning from this width at first start and
    every micro-batch opens and commits one state store per partition,
    so a session-wide width (32 in get_spark, Spark's default 200)
    makes a small stream pay hundreds of store commits for kilobytes of
    state; foreachBatch sinks inherit the width for their per-batch
    shuffles too. The width follows the data instead: 1 at probe
    scale, growing with the input at corpus scale."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for d in input_dirs:
        path = jvm.org.apache.hadoop.fs.Path(d)
        total += path.getFileSystem(hconf).getContentSummary(path).getLength()
    target = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, math.ceil(total / target))


def run_available_now(
    spark: SparkSession,
    build: Callable[[SparkSession], DataStreamWriter],
    *,
    input_dirs: list[str],
    min_data_batches: int = 1,
    timeout_s: int = 120,
) -> list:
    """Run ``build(child)`` — a DataStreamWriter with its sink set, built
    from ``child.readStream`` — to completion with the availableNow
    trigger on a child session of ``spark`` (:func:`_stream_width` sets
    its shuffle width from ``input_dirs``). Raises if fewer than
    ``min_data_batches`` micro-batches carried rows: multi-batch
    protocols (watermark pushers, one file per batch) depend on the
    source splitting its files that way. Returns ``recentProgress``."""
    width = _stream_width(spark, input_dirs)
    child = child_session(spark, {"spark.sql.shuffle.partitions": str(width)})
    query = build(child).trigger(availableNow=True).start()
    await_or_raise(query, timeout_s)
    progress = query.recentProgress
    n_data = sum(1 for p in progress if p["numInputRows"] > 0)
    if n_data < min_data_batches:
        raise RuntimeError(
            f"expected >= {min_data_batches} micro-batches with data, got "
            f"{n_data} (rows per batch: {[p['numInputRows'] for p in progress]})"
        )
    return progress


def run_until(
    spark: SparkSession,
    build: Callable[[SparkSession], DataStreamWriter],
    done: Callable[[dict | None], bool],
    timeout_s: int,
) -> None:
    """Run ``build(child)`` — a DataStreamWriter with its sink set, built
    on a child session of ``spark`` — with a 200 ms processingTime
    trigger until ``done(lastProgress)`` holds (``lastProgress`` is None
    before the first batch), then stop it. Raises the query's own
    exception if it fails, and TimeoutError if ``done`` never holds
    within ``timeout_s``."""
    child = child_session(spark, {})
    query = build(child).trigger(processingTime="200 milliseconds").start()
    deadline = time.monotonic() + timeout_s
    try:
        while not done(query.lastProgress):
            if query.exception() is not None:
                raise query.exception()
            if time.monotonic() > deadline:
                raise TimeoutError(f"streaming query did not finish within {timeout_s}s")
            time.sleep(0.1)
    finally:
        query.stop()
    query.awaitTermination()
