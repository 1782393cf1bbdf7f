"""The flagship streaming pipeline (SURVEY §3.1): parse → validate →
tokenize → dual-sink, as Structured Streaming.

Reference (dataflow_pipeline/pipeline.py:161-200): ReadFromPubSub →
utf-8 decode → json.loads → unwrap Avro-union wrappers → PAN length
validation with a tagged error output → mask + FPE tokenize → project →
WriteToBigQuery(valid) + WriteToBigQuery(errors).

Spark mapping, operator by operator:

- S1/S2: ``spark.readStream`` over a JSON-lines directory (the test
  stand-in for Pub/Sub; a Kafka source drops in by swapping the reader —
  ``value`` bytes → string cast is the S2 decode).
- S3/S4: ``from_json`` against the Avro-union *wire* StructType
  (schemas.avro_union_wire_struct), then :func:`unwrap_avro_union`
  coalesces the single-key wrapper structs (pipeline.py:57-69).
- P4/T6: validation routing — missing PAN is still a valid row with
  null card columns (pipeline.py:101-104); present-but-bad-length PAN
  goes to the dead-letter sink and the stream continues (pipeline.py:76-87).
- U1, F1, P1/P2: mask + FPE tokenize, drop the raw PAN, project to the
  declared 22-column output order (pipeline.py:89-129).
- K1/K2/T1: ``foreachBatch`` writes BOTH sinks per micro-batch, each to
  a ``batch_id=N`` subdirectory with overwrite — a replayed epoch
  rewrites the same directory, so the dual-sink is idempotent under
  retries; combined with checkpointing this is the exactly-once story
  the reference gets from its Pub/Sub flag (T1).
- T2: append-mode micro-batches, no watermark — the reference pipeline
  is stateless (T4); event time rides in ``transaction_datetime`` while
  error rows are stamped with processing time (T3, pipeline.py:83).
- J3: the optional ``lookup_dir``'s rows are re-read *inside* foreachBatch
  every micro-batch (generate_fact_transactions_data.py:17,89-93); its
  schema is inferred once per query, so a schema change lands on restart.
- K3: :func:`run_passthrough_stream` — the schema-enforced direct
  stream→table subscription (dim_customer_topic_sub.sh:15-18).

At cluster scale: the same graph runs against Kafka with the file sinks
swapped for a date-partitioned table; per-micro-batch work is a narrow
select/filter + one Arrow-batched UDF — no shuffle at all in the hot
path, so throughput scales with input partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark import schemas as sch
from realtime_financial_transactions_data_pipeline_spark.functions import fpe
from realtime_financial_transactions_data_pipeline_spark.functions.scalar import (
    card_bin,
    mask_pan,
    pan_is_valid,
)
from realtime_financial_transactions_data_pipeline_spark.registry import (
    pin_result,
    probe,
    probe_scratch,
)
from realtime_financial_transactions_data_pipeline_spark.streaming.run import (
    await_or_raise,  # noqa: F401 — re-exported for callers of this module
    run_available_now,
    run_until,
)

#: Output column order, pipeline.py:106-129 (22 columns, no card_number).
OUTPUT_COLUMNS = [f.name for f in sch.FACT_TRANSACTIONS.fields]

_WIRE_STRUCT = sch.avro_union_wire_struct(sch.RAW_TXN_AVRO)


def unwrap_avro_union(df: DataFrame, wire_struct: T.StructType | None = None) -> DataFrame:
    """S4 — flatten Avro-union JSON single-key wrappers
    (``{"string": v}`` / ``{"int": v}``, producer
    generate_fact_transactions_data.py:215-220; consumer unwrap
    pipeline.py:57-69). For each wrapper-struct field, coalesce the
    branch subfields; absent and null both land as SQL null — exactly
    the reference's ``.get`` + whitelist behavior."""
    wire_struct = wire_struct or _WIRE_STRUCT
    wire_names = set(wire_struct.fieldNames())
    cols: list[Column] = []
    for f in wire_struct.fields:
        wire_type = f.dataType
        if isinstance(wire_type, T.StructType):  # union wrapper
            branches = [
                F.col(f"{f.name}.{b.name}").cast(branch_target(wire_type))
                for b in wire_type.fields
            ]
            cols.append(F.coalesce(*branches).alias(f.name))
        else:
            cols.append(F.col(f.name))
    # Pass through non-wire companions (e.g. the raw message kept for the
    # dead-letter sink, pipeline.py:83).
    cols += [F.col(c) for c in df.columns if c not in wire_names]
    return df.select(*cols)


def branch_target(wrapper: T.StructType) -> T.DataType:
    """Common type the union branches coalesce to: the single branch's
    own type, or string for heterogeneous unions (the reference only
    ships single-branch ``["null", T]`` unions)."""
    if len(wrapper.fields) == 1:
        return wrapper.fields[0].dataType
    return T.StringType()


def parse_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S2+S3+S4: bytes/text → JSON → unwrapped flat columns."""
    return unwrap_avro_union(
        raw.select(
            F.from_json(F.col(value_col).cast("string"), _WIRE_STRUCT).alias("m"),
            F.col(value_col).cast("string").alias("_raw"),
        ).select("m.*", "_raw")
    )


def _route_columns(key: bytes | None, tokenizer: str) -> tuple:
    """``((valid_pred, valid_cols), (error_pred, error_cols))`` for any parsed
    frame: a query builds it once, so its micro-batches share one tokenizer
    UDF. ``current_timestamp()`` in a reused Column is evaluated per action."""
    pan = F.col("card_number")
    has_pan, ok = pan.isNotNull(), pan_is_valid(pan)
    if tokenizer not in ("blake2b", "pyffx"):
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    token = (fpe.fpe_token_col(pan, key=key) if tokenizer == "blake2b"
             else fpe.make_pyffx_tokenizer(key if key is not None else fpe._load_key())(pan))
    card = {"masked_card_number": mask_pan(pan), "card_token": token, "card_bin": card_bin(pan)}
    longs = {"merchant_id", "merchant_category_code_id", "payment_gateway_id", "device_type_id"}
    valid_cols = [  # P1 fixed projection; P2: card_number/_raw never reach a sink
        F.when(has_pan, card[c]).alias(c) if c in card
        else F.col(c).cast("long").alias(c) if c in longs else F.col(c)
        for c in OUTPUT_COLUMNS
    ]
    error_cols = [  # timestamp = processing time, pipeline.py:83 (F8/T3)
        F.col("transaction_id"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("timestamp"),
        F.col("_raw").alias("raw_message"),
        F.lit("invalid card number length").alias("error"),
    ]
    return (~has_pan | ok, valid_cols), (has_pan & ~ok, error_cols)


def _apply_routes(parsed: DataFrame, routes: tuple) -> tuple[DataFrame, DataFrame]:
    return tuple(parsed.filter(pred).select(*cols) for pred, cols in routes)


def route_and_tokenize(
    parsed: DataFrame,
    key: bytes | None = None,
    tokenizer: str = "blake2b",
) -> tuple[DataFrame, DataFrame]:
    """P4 validation routing + F1/U1 mask-and-tokenize + P1/P2 projection.

    Returns ``(valid, errors)``. Validation precedes the FPE UDF in the
    plan (predicates never sit behind the optimization barrier,
    SURVEY §4). Reference semantics: null PAN → valid row with null card
    columns; non-null PAN with length outside 13..19 → dead-letter.

    ``tokenizer``: ``"blake2b"`` (default) is the keyed-BLAKE2b Feistel
    throughput core; ``"pyffx"`` emits REFERENCE-EXACT tokens (the
    stdlib pyffx transcription, r15) so a deployment migrating from the
    reference can keep every existing token join bit-for-bit — at the
    cost of HMAC-SHA1 rounds per distinct PAN. Both are deterministic
    per key, so either choice preserves token-join semantics."""
    return _apply_routes(parsed, _route_columns(key, tokenizer))


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The reader options a Kafka-backed S1 needs (message-bus twin of
    the reference's Pub/Sub subscription). Kept as a pure function so
    the seam is unit-testable without a broker.
    ``max_offsets_per_trigger`` is the backpressure knob — the Kafka
    twin of the file transport's ``maxFilesPerTrigger`` (at cluster
    scale it bounds per-micro-batch state/shuffle so one lagged restart
    can't pull the whole retention window into a single batch)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        # Surface broker data loss instead of silently skipping — the
        # exactly-once posture of the checkpointed pipeline (T1).
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def build_stream_source(
    spark: SparkSession,
    source_format: str,
    input_dir: str | None = None,
    kafka_options: dict[str, str] | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1 with a pluggable transport: ``text`` (the file stand-in for
    Pub/Sub — one message per line, JSON or otherwise) or ``kafka``.
    Both yield a ``value`` column — Kafka's is binary, the file
    transport's is string — and ``parse_stream``'s cast-to-string is
    the S2 decode for both, so the downstream plan is identical across
    transports. ``max_files_per_trigger`` paces the file source (the
    backpressure knob; Kafka's twin is ``maxOffsetsPerTrigger``)."""
    if source_format == "kafka":
        reader = spark.readStream.format("kafka")
        for k, v in (kafka_options or {}).items():
            reader = reader.option(k, v)
        try:
            return reader.load().select("value")
        except Exception as exc:  # pragma: no cover - no broker/jar here
            raise RuntimeError(
                "kafka source requires the spark-sql-kafka package on the "
                "classpath and a reachable broker (pass kafka_options from "
                "kafka_reader_options)"
            ) from exc
    if source_format == "socket":
        # Live-TCP transport: real bytes over a wire into readStream,
        # one message per line — the integration-test stand-in for a
        # broker (tests/test_streaming.py runs the full parse→validate→
        # tokenize graph against a real server socket). NOT a
        # production transport: Spark's socket source keeps no offsets,
        # so it cannot replay and therefore cannot be exactly-once —
        # Kafka (above) is the durable seam; this one proves the wire
        # path end to end where no broker exists.
        host, _, port = (input_dir or "").partition(":")
        if not host or not port.isdigit():
            raise ValueError(
                "socket transport needs input_dir='host:port', got "
                f"{input_dir!r}"
            )
        return (
            spark.readStream.format("socket")
            .option("host", host)
            .option("port", int(port))
            .load()
        )
    if source_format != "text":
        raise ValueError(f"unknown source_format {source_format!r}")
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def build_pipeline_query(
    spark: SparkSession,
    input_dir: str,
    valid_dir: str,
    errors_dir: str,
    checkpoint_dir: str,
    lookup_dir: str | None = None,
    key: bytes | None = None,
    available_now: bool = True,
    source_format: str = "text",
    kafka_options: dict[str, str] | None = None,
    max_files_per_trigger: int | None = None,
):
    """Assemble the full streaming query (not yet started). Returns the
    DataStreamWriter; call ``.start()`` / ``awaitTermination`` on it."""
    raw = build_stream_source(
        spark,
        source_format,
        input_dir=input_dir,
        kafka_options=kafka_options,
        max_files_per_trigger=max_files_per_trigger,
    )
    parsed = parse_stream(raw)
    # Data-quality observability (the dashboards the reference ran as
    # BigQuery count queries, here as zero-cost stream metrics): named
    # aggregates computed inline with each micro-batch and surfaced via
    # QueryProgress.observedMetrics — no second scan, no extra action.
    # The dual-sink foreachBatch below runs SINK_ACTIONS_PER_BATCH
    # actions per batch, and each re-fires the observation (count
    # buffers merge by SUM, so the batch's reported row — and even the
    # source's numInputRows — is inflated by the action count).
    # ``_sum_observed`` divides the topology constant back out.
    # (Persisting the parsed micro-batch so the plan runs once is slower:
    # addBatch 921 vs 846 ms for a 48k-message batch, min of 8, local[4].)
    parsed = parsed.observe(
        "quality",
        F.count(F.lit(1)).alias("n_messages"),
        F.count(
            F.when(
                F.col("card_number").isNotNull()
                & ~pan_is_valid(F.col("card_number")),
                1,
            )
        ).alias("n_invalid_pan"),
        F.count(F.when(F.col("card_number").isNull(), 1)).alias("n_null_pan"),
    )

    # Built once per query, applied to each batch (an opaque LogicalRDD:
    # in the stream plan the UDF would run once per sink action).
    routes = _route_columns(key, "blake2b")
    lookup_schema: T.StructType | None = None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal lookup_schema
        # Exactly SINK_ACTIONS_PER_BATCH actions below — keep the
        # constant in lockstep with the write count.
        valid, errors = _apply_routes(batch_df, routes)
        if lookup_dir is not None:
            # J3 — refreshed lookup: rows re-read every micro-batch, so
            # dimension updates land without restart; schema once per query.
            read = batch_df.sparkSession.read
            if lookup_schema is None:
                lookup_schema = read.parquet(lookup_dir).schema
            lookup = read.schema(lookup_schema).parquet(lookup_dir)
            valid = valid.join(F.broadcast(lookup), "customer_id", "left")
        # K1+K2, T1: idempotent dual-append — each epoch owns its
        # batch_id=N directory; a replay overwrites, never duplicates.
        # The two sink actions are INDEPENDENT jobs over the same
        # micro-batch plan, so they run on concurrent threads: the
        # scheduler overlaps the error branch's re-parse with the valid
        # branch's tokenize+write instead of serializing two cluster
        # round-trips (VERDICT r11 #5; measured ~0.25 s/batch here —
        # and the win grows with executor count, since each action
        # alone underutilizes the cluster). InheritableThread, NOT a
        # bare executor: under pinned-thread mode plain Python threads
        # do not inherit the stream-execution thread's JVM local
        # properties, so the write jobs would escape the query's job
        # group and query.stop() could no longer cancel an in-flight
        # epoch (the partially-written-sink race await_or_raise
        # exists to prevent). Exceptions propagate: a failed write
        # must still fail the epoch (T1 exactly-once).
        from pyspark import InheritableThread

        failures: list[BaseException] = []

        def _write(df: DataFrame, path: str):
            def run() -> None:
                try:
                    df.write.mode("overwrite").parquet(path)
                except BaseException as exc:  # noqa: BLE001 — re-raised below
                    failures.append(exc)

            return run

        threads = [
            InheritableThread(
                target=_write(valid, f"{valid_dir}/batch_id={batch_id}")
            ),
            InheritableThread(
                target=_write(errors, f"{errors_dir}/batch_id={batch_id}")
            ),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if failures:
            raise failures[0]

    writer = (
        parsed.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer


#: Wall-clock of the most recent ``run_pipeline`` streaming window
#: (query start → termination). bench.py reads this to compute the
#: end-to-end message rate over the STREAM's own runtime — the probe
#: wall additionally includes synthesizing the wire messages and
#: re-aggregating the sinks, which are harness bookkeeping, not
#: pipeline throughput. Still end-to-end for the pipeline itself:
#: source read → parse → unwrap → validate → tokenize → dual sink.
LAST_STREAM_SECONDS: float | None = None

#: Summed ``observe`` metrics (n_messages / n_invalid_pan / n_null_pan)
#: across the most recent ``run_pipeline`` window's micro-batches — the
#: stream's own data-quality counters, computed inline by the named
#: observation in ``build_pipeline_query`` (zero extra scans). A
#: monitoring deployment would push each batch's observedMetrics to its
#: metrics bus from a StreamingQueryListener instead of summing here.
LAST_OBSERVED: dict[str, int] | None = None


#: Sink actions per micro-batch in build_pipeline_query's foreachBatch
#: (valid write + errors write). Every action re-executes the batch
#: plan, and the engine SUMS the re-fired observation buffers into the
#: batch's reported row (numInputRows inflates identically, so there is
#: no engine-native divisor) — the topology constant is the truth.
SINK_ACTIONS_PER_BATCH = 2


def _sum_observed(progress: list, name: str = "quality") -> dict[str, int] | None:
    """Total the named observation across a query's batch progress,
    dividing out the per-batch re-fires (see SINK_ACTIONS_PER_BATCH)."""
    totals: dict[str, int] = {}
    for prog in progress:
        row = (prog.observedMetrics or {}).get(name)
        if row is None:
            continue
        for k, v in row.asDict().items():
            totals[k] = totals.get(k, 0) + int(v) // SINK_ACTIONS_PER_BATCH
    return totals or None


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    lookup_dir: str | None = None,
    key: bytes | None = None,
    timeout_s: int = 120,
) -> tuple[str, str]:
    """Run the pipeline to completion over the files currently in
    ``input_dir`` (availableNow trigger). Returns (valid_dir, errors_dir)."""
    import time

    global LAST_STREAM_SECONDS, LAST_OBSERVED
    valid_dir = f"{out_root}/fact_transactions"
    errors_dir = f"{out_root}/fact_transactions_errors"
    started: list[float] = []

    def build(child: SparkSession):
        writer = build_pipeline_query(
            child,
            input_dir,
            valid_dir,
            errors_dir,
            checkpoint_dir=f"{out_root}/_checkpoint",
            lookup_dir=lookup_dir,
            key=key,
        )
        # Window = query start → termination, per LAST_STREAM_SECONDS's
        # documented contract: driver-side plan construction (~0.2 s of
        # Py4J column building) is one-time setup a deployed always-on
        # stream never re-pays per message, so the clock starts after it.
        started.append(time.time())
        return writer

    # A re-run over a kept checkpoint may find no new files: zero data
    # batches is a valid outcome here.
    progress = run_available_now(
        spark, build, input_dirs=[input_dir], min_data_batches=0, timeout_s=timeout_s
    )
    LAST_STREAM_SECONDS = time.time() - started[0]
    LAST_OBSERVED = _sum_observed(progress)
    return valid_dir, errors_dir


def run_passthrough_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    timeout_s: int = 120,
) -> None:
    """K3 — schema-enforced direct stream→table (the Pub/Sub→BigQuery
    subscription with --use-topic-schema, dim_customer_topic_sub.sh:15-18):
    readStream with the declared schema, no transform, append sink."""
    run_available_now(
        spark,
        lambda child: child.readStream.schema(schema)
        .json(input_dir)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append"),
        input_dirs=[input_dir],
        min_data_batches=0,
        timeout_s=timeout_s,
    )


# ---------------------------------------------------------------------------
# Deterministic wire-format message synthesis (probe + test input).
# ---------------------------------------------------------------------------


#: Messages synthesized per customer row by the flagship probe. The
#: throughput metric divides processed messages by probe wall time;
#: with one message per row the ~1 s fixed stream-startup cost eats
#: half the measurement window, understating sustained throughput.
WIRE_COPIES = 4


def synth_wire_messages(
    spark: SparkSession, sf_dir: str, copies: int = 1, max_custkey: int | None = None
) -> DataFrame:
    """``copies`` wire-format JSON messages per customer row,
    deterministic:

    - ``c_custkey % 7 == 0``  → PAN absent (null-token valid row);
    - else PAN = ``rpad('4' || c_custkey, 13 + c_custkey % 10, '0')`` —
      lengths 20..22 (``% 10 >= 7``) are invalid → dead-letter;
    - nullable ints arrive wrapped ``{"int": v}``, nullable strings
      ``{"string": v}`` (generate_fact_transactions_data.py:215-220).

    Copies share the routing-relevant fields (they derive from the
    key) but carry distinct transaction ids, so sink counts scale by
    exactly ``copies``. ``max_custkey`` bounds the message count for
    probes that only need a slice (oracles filter identically).
    """
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    c = load_table(spark, sf_dir, "customer")
    if max_custkey is not None:
        c = c.filter(F.col("c_custkey") <= max_custkey)
    if copies > 1:
        c = c.withColumn(
            "_copy", F.explode(F.array(*[F.lit(i) for i in range(copies)]))
        )
    else:
        c = c.withColumn("_copy", F.lit(0))
    key = F.col("c_custkey")
    pan_len = (F.lit(13) + key % 10).cast("int")
    pan = F.when(key % 7 != 0, F.rpad(F.concat(F.lit("4"), key.cast("string")), pan_len, "0"))
    wrapped_pan = F.when(
        pan.isNotNull(), F.concat(F.lit('{"string": "'), pan, F.lit('"}'))
    ).otherwise(F.lit("null"))
    msg = F.concat(
        F.lit('{"transaction_id": "t'), key.cast("string"),
        F.lit("c"), F.col("_copy").cast("string"),
        F.lit('", "customer_id": '), key.cast("string"),
        F.lit(', "account_id": '), (key * 10).cast("string"),
        F.lit(', "merchant_id": '), (key % 38 + 1).cast("string"),
        F.lit(', "merchant_category_code_id": '), (key % 19 + 1).cast("string"),
        F.lit(', "is_recurring": '), F.when(key % 5 == 0, "true").otherwise("false"),
        F.lit(', "transaction_datetime": "2024-03-01T12:00:00", "amount": 100.5, '
              '"tax_amount": 10.05, "discount_amount": 0.55, "total_amount": 110.0, '
              '"transaction_channel": "POS", "card_number": '), wrapped_pan,
        F.lit(', "card_bin": null, "card_provider": {"string": "VISA"}, '
              '"cardholder_name": null, "card_expiry_date": null, '
              '"payment_gateway_id": {"int": '), (key % 10 + 1).cast("string"),
        F.lit('}, "device_type_id": null, "ip_address": null, "risk_score": 0.44}'),
    )
    return c.select(msg.alias("value"))


# ---------------------------------------------------------------------------
# Probes — each call streams into its own probe_scratch() root and pins
# its result before that root is removed.
# ---------------------------------------------------------------------------


def _run_synthetic_pipeline(
    spark: SparkSession, sf_dir: str, root: str, lookup_dir: str | None = None,
    copies: int = 1, max_custkey: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Synthesize wire messages from `customer`, stream them through the
    full pipeline, return (valid, errors) DataFrames read back from the
    sinks."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )
    from realtime_financial_transactions_data_pipeline_spark.functions.fpe import TEST_KEY

    def build(tmp: str) -> None:
        synth_wire_messages(
            spark, sf_dir, copies=copies, max_custkey=max_custkey
        ).repartition(4).write.mode("overwrite").text(tmp)

    # The wire-message input is a pure function of `customer`, so it is
    # a shared fixture (caching.disk_fixture): built once, reused across
    # invocations/probes/harness runs. Checkpoints and sinks stay under
    # the caller's per-call root.
    input_dir = disk_fixture(
        f"wire-c{copies}-m{max_custkey}",
        source_fingerprint(sf_dir, "customer"),
        build,
    )
    valid_dir, errors_dir = run_pipeline(
        spark, input_dir, f"{root}/out", lookup_dir=lookup_dir, key=TEST_KEY
    )
    return spark.read.parquet(valid_dir), spark.read.parquet(errors_dir)


@probe(
    "t1_t6_streaming_pipeline",
    oracle=f"""
    SELECT
      CAST({WIRE_COPIES} * count(*) FILTER (WHERE c_custkey % 7 = 0 OR c_custkey % 10 < 7) AS BIGINT) AS n_valid,
      CAST({WIRE_COPIES} * count(*) FILTER (WHERE c_custkey % 7 = 0) AS BIGINT) AS n_null_card,
      CAST({WIRE_COPIES} * count(*) FILTER (WHERE c_custkey % 7 <> 0 AND c_custkey % 10 < 7) AS BIGINT) AS n_tokenized,
      CAST({WIRE_COPIES} * count(*) FILTER (WHERE c_custkey % 7 <> 0 AND c_custkey % 10 >= 7) AS BIGINT) AS n_errors
    FROM customer
    """,
)
def t1_t6_streaming_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end flagship stream (S1-S4, P4, U1, K1/K2, T1/T2/T6):
    wire-format JSON messages → parse → unwrap → validate → tokenize →
    dual sink, then count both sinks. Counts are deterministic functions
    of `customer`, so the whole streaming path is oracle-checked."""
    with probe_scratch() as root:
        valid, errors = _run_synthetic_pipeline(spark, sf_dir, root, copies=WIRE_COPIES)
        vagg = valid.agg(
            F.count(F.lit(1)).alias("n_valid"),
            F.count(F.when(F.col("card_token").isNull(), 1)).alias("n_null_card"),
            F.count(F.when(F.col("card_token").isNotNull(), 1)).alias("n_tokenized"),
        )
        eagg = errors.agg(F.count(F.lit(1)).alias("n_errors"))
        return pin_result(vagg.crossJoin(eagg))


@probe(
    "j3_stream_lookup_refresh",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
    FROM customer
    WHERE (c_custkey % 7 = 0 OR c_custkey % 10 < 7) AND c_custkey <= 1000
    GROUP BY c_mktsegment
    """,
)
def j3_stream_lookup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refreshed stream-static lookup (J3): foreachBatch re-reads the
    dimension's rows each micro-batch (its schema once per query, so a
    schema change lands on restart) and broadcast-joins them onto the
    valid branch; verified by grouping the enriched sink on the joined
    attribute. A 1000-customer slice keeps the message volume a fraction
    of t1_t6's (the oracle filters on the same bound)."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    # The lookup WRITE is a shared fixture; the per-micro-batch RE-READ
    # below is J3's semantics and is never cached (SURVEY §7).
    lookup_dir = disk_fixture(
        "j3-dim-lookup",
        source_fingerprint(sf_dir, "customer"),
        lambda tmp: load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 1000)
        .select(F.col("c_custkey").alias("customer_id"), "c_mktsegment")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    with probe_scratch() as root:
        valid, _ = _run_synthetic_pipeline(
            spark, sf_dir, root, lookup_dir=lookup_dir, max_custkey=1000
        )
        return pin_result(valid.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")))


@probe(
    "k3_passthrough_stream",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def k3_passthrough_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced pass-through stream→table (K3): JSON-lines stream
    read with the declared schema, no transform, append parquet sink."""
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )

    incoming = disk_fixture(
        "k3-nation",
        source_fingerprint(sf_dir, "nation"),
        lambda tmp: load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1)
        .write.mode("overwrite")
        .json(tmp),
    )
    with probe_scratch() as root:
        run_passthrough_stream(spark, incoming, f"{root}/out", f"{root}/_checkpoint", schema)
        return pin_result(spark.read.schema(schema).parquet(f"{root}/out"))


# ---------------------------------------------------------------------------
# S17 — custom streaming connector via the Python Data Source API: the
# `replay_log` source (`sources/pyds.py`) fills the exact contract a
# Kafka/PubSub connector fills — initialOffset / latestOffset /
# partitions / read — with Structured Streaming's checkpoint owning
# exactly-once delivery of every offset range. The probe drains an
# ordered events log in ~4 offset-chunked micro-batches (parallel
# input partitions per batch), stops when the committed end offset
# reaches the log size, and certifies content: row count, DISTINCT
# event ids (any replayed or dropped offset range breaks it), and two
# checksums, all against the parquet source.
# ---------------------------------------------------------------------------


@probe(
    "s17_python_stream_source",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_events,
           CAST(sum(event_id) AS BIGINT) AS event_checksum,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_mills
    FROM events WHERE user_id % 10 = 3
    """,
)
def s17_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17 — drain the offset-tracked Python streaming source end to
    end (block comment above) and aggregate the delivered rows; the
    distinct-event count equals the row count only if every offset
    range arrived exactly once."""
    import ast
    import glob

    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )
    from realtime_financial_transactions_data_pipeline_spark.sources.pyds import (
        register_replay_log,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 3)
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 1000, 0).cast("long").alias("value_mills"),
        )
        .orderBy("event_id")
    )
    fdir = disk_fixture(
        "s17-events-log",
        source_fingerprint(sf_dir, "events"),
        lambda tmp: src.coalesce(1).write.mode("overwrite").parquet(tmp),
    )
    (logfile,) = glob.glob(f"{fdir}/part-*.parquet")
    total = src.count()
    chunk = max(1, total // 3)

    def drained(p) -> bool:
        end = p and p["sources"] and p["sources"][0]["endOffset"]
        # endOffset is the reader dict's repr (single quotes), not
        # strict JSON — literal_eval handles both.
        return bool(end) and ast.literal_eval(str(end)).get("row", 0) >= total

    with probe_scratch() as root:

        def build(child: SparkSession):
            # A Python data source registers per session: on the child.
            register_replay_log(child)
            return (
                child.readStream.format("replay_log")
                .option("path", logfile)
                .option("chunk", chunk)
                .option("parts", 2)
                .load()
                .writeStream.format("parquet")
                .option("path", f"{root}/out")
                .option("checkpointLocation", f"{root}/cp")
            )

        run_until(spark, build, drained, timeout_s=120)
        out = spark.read.parquet(f"{root}/out")
        return pin_result(
            out.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("event_id").alias("n_distinct_events"),
                F.sum("event_id").alias("event_checksum"),
                F.sum("value_mills").alias("value_mills"),
            )
        )
