"""Stateful streaming tests (T4/T5 + applyInPandasWithState): dedupe
state surviving restarts, rate-source pacing, and the custom running-
totals operator accumulating across micro-batches and restarts."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark.streaming import stateful


TXN_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType()),
        T.StructField("customer_id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


@pytest.fixture()
def fresh_root(tmp_path):
    return str(tmp_path / "root")


def _write_jsonl(spark, rows, path, mode="overwrite"):
    spark.createDataFrame(rows, TXN_SCHEMA).coalesce(1).write.mode(mode).json(path)


def test_t4_dedupe_state_survives_restart(spark, fresh_root):
    """First run sees {a,b,c}; a later run (same checkpoint) gets a file
    with {b,d}: only d may pass — the seen-key state was restored."""
    _write_jsonl(spark, [("a", 1, 10.0), ("b", 1, 20.0), ("c", 2, 30.0),
                         ("a", 1, 10.0)], f"{fresh_root}/in")
    args = (f"{fresh_root}/in", f"{fresh_root}/out", f"{fresh_root}/_cp", TXN_SCHEMA,
            ["transaction_id"])
    stateful.streaming_dedupe(spark, *args)
    assert spark.read.parquet(f"{fresh_root}/out").count() == 3

    _write_jsonl(spark, [("b", 1, 20.0), ("d", 3, 40.0)], f"{fresh_root}/in", mode="append")
    stateful.streaming_dedupe(spark, *args)
    out = spark.read.parquet(f"{fresh_root}/out")
    assert out.count() == 4
    assert {r.transaction_id for r in out.collect()} == {"a", "b", "c", "d"}


def test_t5_rate_source_paces(spark, fresh_root):
    """The rate source offers ~rows_per_second; a short run must produce
    a plausible row count (loose bounds — wall-clock based)."""
    q = (
        stateful.rate_stream(spark, rows_per_second=200)
        .writeStream.format("parquet")
        .option("path", f"{fresh_root}/out")
        .option("checkpointLocation", f"{fresh_root}/_cp")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        time.sleep(6)
    finally:
        q.stop()
    n = spark.read.parquet(f"{fresh_root}/out").count()
    assert 0 < n <= 200 * 30  # paced, not unbounded


def test_running_totals_accumulate_and_restart(spark, fresh_root):
    """Two micro-batch windows: totals fold across batches within a run
    AND across a restart (state restored from checkpoint)."""
    _write_jsonl(spark, [("a", 1, 10.0), ("b", 1, 5.0), ("c", 2, 7.0)], f"{fresh_root}/in")
    args = (f"{fresh_root}/in", f"{fresh_root}/out", f"{fresh_root}/_cp", TXN_SCHEMA)
    stateful.run_running_totals(spark, *args)

    _write_jsonl(spark, [("d", 1, 1.0), ("e", 2, 3.0)], f"{fresh_root}/in", mode="append")
    stateful.run_running_totals(spark, *args)

    out = spark.read.parquet(f"{fresh_root}/out")
    w = out.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("customer_id").orderBy(F.desc("batch_id"))
        ),
    ).filter("rn = 1")
    latest = {r.customer_id: (r.n_txns, r.total_amount) for r in w.collect()}
    assert latest[1] == (3, 16.0)
    assert latest[2] == (2, 10.0)


def test_t14_statestore_reader_catches_phantoms(spark, tmp_path):
    """The statestore batch source reads back exactly the dedupe keys
    a query committed — verified on a crafted 4-key stream, including
    that a duplicate never creates a second state row."""
    import shutil

    from pyspark.sql import functions as F

    root = str(tmp_path / "ss")
    shutil.rmtree(root, ignore_errors=True)
    src = spark.createDataFrame(
        [(1,), (2,), (1,), (3,), (4,), (2,)], "k long"
    )
    src.coalesce(1).write.mode("overwrite").json(f"{root}/in")
    q = (
        spark.readStream.schema("k long")
        .json(f"{root}/in")
        .dropDuplicates(["k"])
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    keys = sorted(
        r.k
        for r in spark.read.format("statestore")
        .load(f"{root}/cp")
        .select(F.col("key.k").alias("k"))
        .collect()
    )
    assert keys == [1, 2, 3, 4]
    meta = spark.read.format("state-metadata").load(f"{root}/cp")
    (op,) = meta.select("operatorName").distinct().collect()
    assert op.operatorName == "dedupe"


def test_t15_transform_with_state_e2e_or_named_skip(spark):
    """The staged transformWithStateInPandas runner: runs the full
    two-batch e2e against the DuckDB replay when the protobuf package
    exists; otherwise SKIPS naming exactly that artifact (the
    pyffx/Kafka discipline)."""
    import pytest

    from realtime_financial_transactions_data_pipeline_spark.streaming.stateful import (
        T15_ORACLE,
        _tws_available,
        run_transform_with_state,
    )

    if not _tws_available():
        pytest.skip(
            "transformWithStateInPandas needs the `protobuf` Python "
            "package (google.protobuf) for its state-server protocol; "
            "not installed in this environment"
        )
    import duckdb

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(tuple, run_transform_with_state(spark, sf).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = sorted(map(tuple, con.execute(T15_ORACLE).fetchall()))
    assert got == want
