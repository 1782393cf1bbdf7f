"""The one way this package runs a bounded stream.

- :func:`probe_scratch` gives each call its own sink/checkpoint root,
  so two calls never share a checkpoint and a re-invocation never
  wipes files under another call's unread result.
- :func:`run_available_now` drains the files currently in a query's
  input directories on a child session, so the query's state
  partitioning lives in the child's SQLConf and the caller's session
  is never touched (the Structured Streaming model: offsets, state and
  state partitioning belong to one query and its checkpoint).
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter

from realtime_financial_transactions_data_pipeline_spark.session import child_session


@contextlib.contextmanager
def probe_scratch() -> Iterator[str]:
    """Yield a fresh directory and remove it on exit. Probes pin their
    result inside the ``with`` block, so no lazy result outlives the
    files it reads."""
    path = os.path.join("/tmp/spark_graft_streaming", uuid.uuid4().hex)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


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
    child = child_session(spark, _stream_width(spark, input_dirs))
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
