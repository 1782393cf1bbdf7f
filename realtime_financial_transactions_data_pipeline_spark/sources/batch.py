"""Batch ingestion & load operators (SURVEY §2.1 S5/S6/S8, §2.2 K4/K5).

The reference's dimension path is a Cloud Function: CSV lands in a
bucket → schema resolved by file-name convention → BigQuery load with
``skip_leading_rows=1`` + ``WRITE_TRUNCATE``
(update_dim_tables_cloud_function/main.py:28-76). Spark-first mapping:
``spark.read.csv(header=True, schema=...)`` →
``write.mode("overwrite")`` — schemas stay declared, never inferred.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark import schemas as sch
from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround
from realtime_financial_transactions_data_pipeline_spark.registry import (
    pin_result,
    probe,
    probe_scratch,
)
from realtime_financial_transactions_data_pipeline_spark.tables import load_table

#: File-stem → declared schema, mirroring the reference's
#: ``schemas/{table_name}.json`` naming convention (main.py:32-38).
DIMENSION_SCHEMAS: dict[str, T.StructType] = {
    "dim_customer": sch.DIM_CUSTOMER,
    "dim_account": sch.DIM_ACCOUNT,
    "merchants": sch.DIM_MERCHANTS,
    "dim_mcc_codes": sch.DIM_MCC_CODES,
    "dim_payment_gateway": sch.DIM_PAYMENT_GATEWAY,
    "dim_device_type": sch.DIM_DEVICE_TYPE,
}


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S5 — CSV with header row skipped and a declared schema (the
    reference loads with ``skip_leading_rows=1`` + explicit SchemaField
    list, main.py:67-70). ``PERMISSIVE`` would mask drift; we fail fast."""
    return spark.read.csv(path, header=True, schema=schema, mode="FAILFAST")


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S6 — JSON-lines file read with declared schema (the generator's
    location lookup file, generate_dim_cust_data.py:53-54)."""
    return spark.read.json(path, schema=schema)


def overwrite_table(df: DataFrame, path: str) -> None:
    """K4 — full-refresh load (WRITE_TRUNCATE, main.py:71-76). Parquet
    overwrite is atomic-per-directory in Spark's committer, matching the
    truncate-then-load contract."""
    df.write.mode("overwrite").parquet(path)


def create_table(spark: SparkSession, path: str, schema: T.StructType) -> None:
    """K5 — DDL from a schema file (``bq mk --table``,
    create_bigquery_tables.sh:9): materialize an empty, schema-bearing
    table so later appends are schema-enforced."""
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)


def load_dimension(
    spark: SparkSession, csv_path: str, warehouse_dir: str, table_name: str | None = None
) -> str:
    """The Cloud Function end-to-end (main.py:9-76): table name from the
    file stem, schema by convention, CSV read, truncate-load. Returns the
    output path. Non-CSV uploads are rejected (main.py:28-30)."""
    if not csv_path.endswith(".csv"):
        raise ValueError(f"not a CSV upload: {csv_path}")
    name = table_name or os.path.splitext(os.path.basename(csv_path))[0]
    if name not in DIMENSION_SCHEMAS:
        raise KeyError(f"no declared schema for table {name!r}")
    out = os.path.join(warehouse_dir, name)
    overwrite_table(read_csv(spark, csv_path, DIMENSION_SCHEMAS[name]), out)
    return out


# ---------------------------------------------------------------------------
# Probes
# ---------------------------------------------------------------------------

_REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.LongType()),
        T.StructField("r_name", T.StringType()),
        T.StructField("r_comment", T.StringType()),
    ]
)

_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.LongType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.LongType()),
        T.StructField("n_comment", T.StringType()),
    ]
)


@probe(
    "s5_k4_csv_overwrite_load",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def s5_k4_csv_overwrite_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV → declared schema → overwrite-load → re-read (S5+K4). The CSV
    is a dump of `region` (quoted comments dropped to keep the fixture
    csv-trivial), so the round-trip must reproduce the table."""
    src = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    schema = T.StructType([f for f in _REGION_SCHEMA.fields if f.name != "r_comment"])
    with probe_scratch() as root:
        csv_dir, out = f"{root}/region_csv", f"{root}/region_loaded"
        src.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_dir)
        overwrite_table(read_csv(spark, csv_dir, schema), out)
        return pin_result(spark.read.parquet(out))


@probe(
    "s6_json_read",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s6_json_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines read with declared schema (S6) over a dump of `nation`."""
    src = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    schema = T.StructType([f for f in _NATION_SCHEMA.fields if f.name != "n_comment"])
    with probe_scratch() as root:
        src.coalesce(1).write.mode("overwrite").json(f"{root}/nation_json")
        return pin_result(read_json(spark, f"{root}/nation_json", schema))


@probe(
    "k5_create_table_ddl",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'account_id', 'bigint', FALSE),
      (1, 'customer_id', 'bigint', FALSE),
      (2, 'account_type', 'string', TRUE),
      (3, 'open_date_id', 'bigint', TRUE),
      (4, 'close_date_id', 'bigint', TRUE),
      (5, 'account_status', 'string', TRUE)
    ) AS t(pos, field_name, field_type, nullable)
    """,
)
def k5_create_table_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL-from-schema (K5): create an empty dim_account table, read it
    back, and emit its observed schema as rows. Verifies the declared
    StructType survives a write/read cycle (parquet preserves
    nullability of the declared schema's types, not its constraints —
    so nullability is taken from the DDL struct, the types from disk)."""
    with probe_scratch() as root:
        create_table(spark, f"{root}/dim_account_empty", sch.DIM_ACCOUNT)
        observed = spark.read.parquet(f"{root}/dim_account_empty").schema
    rows = [
        (i, f.name, observed[f.name].dataType.simpleString(), f.nullable)
        for i, f in enumerate(sch.DIM_ACCOUNT.fields)
    ]
    out_schema = T.StructType(
        [
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("field_name", T.StringType(), False),
            T.StructField("field_type", T.StringType(), False),
            T.StructField("nullable", T.BooleanType(), False),
        ]
    )
    return spark.createDataFrame(rows, out_schema)


@probe(
    "s8_schema_translation",
    oracle="""
    SELECT * FROM (VALUES
      ('bq', 0, 'transaction_id', 'string', FALSE),
      ('bq', 1, 'amount', 'double', FALSE),
      ('bq', 2, 'is_recurring', 'boolean', TRUE),
      ('bq', 3, 'signup_date', 'date', TRUE),
      ('bq', 4, 'tags', 'array<string>', TRUE),
      ('avro', 0, 'transaction_id', 'string', FALSE),
      ('avro', 1, 'merchant_id', 'int', FALSE),
      ('avro', 2, 'card_number', 'string', TRUE),
      ('avro', 3, 'risk_score', 'double', FALSE),
      ('avro', 4, 'signup_date', 'date', FALSE)
    ) AS t(dialect, pos, field_name, field_type, nullable)
    """,
)
def s8_schema_translation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime schema load (S8, pipeline.py:135-141 + main.py:50-58):
    translate reference-shaped BigQuery-JSON and Avro schema documents to
    StructType and emit the resulting fields as rows — the declared
    (never inferred) schema contract, oracle-checked."""
    bq = sch.bigquery_json_to_struct(
        [
            {"name": "transaction_id", "type": "STRING", "mode": "REQUIRED"},
            {"name": "amount", "type": "FLOAT64", "mode": "REQUIRED"},
            {"name": "is_recurring", "type": "BOOLEAN"},
            {"name": "signup_date", "type": "DATE", "mode": "NULLABLE"},
            {"name": "tags", "type": "STRING", "mode": "REPEATED"},
        ]
    )
    avro = sch.avro_to_struct(
        {
            "type": "record",
            "name": "txn",
            "fields": [
                {"name": "transaction_id", "type": "string"},
                {"name": "merchant_id", "type": "int"},
                {"name": "card_number", "type": ["null", "string"], "default": None},
                {"name": "risk_score", "type": "double"},
                {"name": "signup_date", "type": {"type": "string", "logicalType": "date"}},
            ],
        }
    )
    # Spark's createDataFrame would infer `tags`' array element nullable —
    # irrelevant here; we serialize the translated types to strings.
    rows = [
        ("bq", i, f.name, f.dataType.simpleString(), f.nullable)
        for i, f in enumerate(bq.fields)
    ] + [
        ("avro", i, f.name, f.dataType.simpleString(), f.nullable)
        for i, f in enumerate(avro.fields)
    ]
    out_schema = T.StructType(
        [
            T.StructField("dialect", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("field_name", T.StringType(), False),
            T.StructField("field_type", T.StringType(), False),
            T.StructField("nullable", T.BooleanType(), False),
        ]
    )
    return spark.createDataFrame(rows, out_schema)


def write_nation_generations(spark: SparkSession, sf_dir: str, root: str) -> None:
    """The two-generation `nation` layout s9 and dq4 read: ``gen=0``
    holds the even keys written before ``n_regionkey`` existed,
    ``gen=1`` the odd keys written after."""
    base = load_table(spark, sf_dir, "nation")
    base.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey", "n_name"
    ).write.parquet(f"{root}/gen=0")
    base.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.parquet(f"{root}/gen=1")


@probe(
    "s9_schema_evolution_merge",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey % 2 = 1
    """,
)
def s9_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (S9): a dataset written in two generations
    — gen0 before a column existed, gen1 after — read back as ONE table
    via parquet ``mergeSchema``, with gen0 rows null in the new column.
    This is how a long-lived corpus absorbs schema drift without
    rewriting history; the per-file footer carries each generation's
    schema and the scan reconciles them. (At 100 TB, mergeSchema's
    footer sampling is the cost — production tables pin the merged
    schema in a catalog instead of re-inferring; the read path is the
    same.)"""
    with probe_scratch() as root:
        write_nation_generations(spark, sf_dir, root)
        merged = (
            spark.read.option("mergeSchema", True)
            .parquet(root)
            .select("n_nationkey", "n_name", "n_regionkey")
        )
        return pin_result(merged)


@probe(
    "s10_orc_roundtrip",
    oracle="""
    SELECT user_id,
           count(*) AS n_clicks,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE user_id % 20 = 7 AND event_type = 'click'
    GROUP BY user_id
    """,
)
def s10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source (format breadth beyond the reference's
    CSV/JSON/Avro/parquet matrix): write an `events` slice to ORC
    partitioned by event_type, read it back with a partition filter,
    aggregate. ORC is Spark's second columnar native format — same
    predicate-pushdown / column-pruning / partition-pruning machinery
    as parquet, so the scale story carries over unchanged; the probe's
    partition filter prunes non-click directories at file-listing time.
    The oracle computes the identical aggregate from the parquet view,
    so the hash certifies the ORC round-trip is lossless."""
    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 20 == 7)
        .select("user_id", "event_type", "value")
    )
    with probe_scratch() as root:
        orc_dir = f"{root}/events_orc"
        src.write.mode("overwrite").partitionBy("event_type").orc(orc_dir)
        back = spark.read.orc(orc_dir).filter(F.col("event_type") == "click")
        return pin_result(
            back.groupBy("user_id").agg(
                F.count("*").alias("n_clicks"),
                # dround, not a raw double sum: accumulation order differs
                # between engines, so at larger SF an unrounded sum drifts
                # past the canonicalizer's 6-decimal format (suite-wide
                # convention — ADVICE r06).
                dround(F.sum("value"), 2).alias("total_value"),
            )
        )


# ---------------------------------------------------------------------------
# S12 — fixed-width text source: the mainframe/legacy-feed format
# (COBOL copybook extracts, bank settlement files) that predates CSV
# and still feeds financial pipelines. No Spark built-in reads it;
# the idiomatic shape is spark.read.text + a declared (name, start,
# width, type) layout compiled to substring/trim/cast projections —
# all codegen, one scan, no Python.
# ---------------------------------------------------------------------------

#: (column, 1-based start, width, spark cast type) — the declared layout.
FIXED_WIDTH_NATION_LAYOUT = (
    ("n_nationkey", 1, 4, "bigint"),
    ("n_name", 5, 12, None),  # None => trimmed string
    ("n_regionkey", 17, 4, "bigint"),
)


def read_fixed_width(spark: SparkSession, path: str, layout) -> DataFrame:
    """Parse a fixed-width text file with a declared layout: one
    substring per column, right-trim the padding, cast declared types.
    Blank lines are dropped (trailing-newline tolerance). The whole
    parse is a single projection over spark.read.text — scan-level,
    codegen'd, trivially scalable."""
    lines = spark.read.text(path).filter(F.length(F.col("value")) > 0)
    cols = []
    for name, start, width, typ in layout:
        c = F.rtrim(F.substring(F.col("value"), start, width))
        if typ is not None:
            c = c.cast(typ)
        cols.append(c.alias(name))
    return lines.select(*cols)


@probe(
    "s12_fixed_width_source",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s12_fixed_width_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — fixed-width round-trip: nation serialized as space-padded
    20-byte records (key 4 / name 12 / regionkey 4, the layout table
    above) and parsed back via the declared-layout reader. The oracle
    is the table itself, so the hash certifies the byte arithmetic of
    the layout — an off-by-one start or a missed trim shifts every
    column."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "nation").select(
            F.concat(
                F.rpad(F.col("n_nationkey").cast("string"), 4, " "),
                F.rpad(F.col("n_name"), 12, " "),
                F.rpad(F.col("n_regionkey").cast("string"), 4, " "),
            ).alias("value")
        ).coalesce(1).write.mode("overwrite").text(tmp)

    path = disk_fixture(
        "s12-nation-fixedwidth", source_fingerprint(sf_dir, "nation"), build
    )
    return read_fixed_width(spark, path, FIXED_WIDTH_NATION_LAYOUT)


# ---------------------------------------------------------------------------
# S13 — PERMISSIVE parse with corrupt-record routing: the batch cousin
# of the streaming dead-letter (K2 / reference pipeline.py:108-139 —
# parse failures go to an error table, never abort the load). S5's
# FAILFAST CSV is the schema-drift tripwire; S13 is the posture for
# feeds where individual malformed records are EXPECTED and must be
# quarantined with their raw bytes while the valid rows load.
# ---------------------------------------------------------------------------


@probe(
    "s13_corrupt_record_routing",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 7 <> 3
    """,
)
def s13_corrupt_record_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — a JSON-lines feed derived from `customer` where every
    custkey ≡ 3 (mod 7) line is TRUNCATED by five bytes (always
    severing the closing quote+brace, so it is unparseable by
    construction); the reader is text → `from_json` in PERMISSIVE mode
    with `columnNameOfCorruptRecord`, the streaming-compatible shape
    the pipeline's parse stage uses. Valid rows route to the load,
    corrupt lines to quarantine CARRYING THEIR RAW BYTES. The oracle
    is the uncorrupted complement of the base table, so ANY mis-route
    — a corrupt line parsing, a valid line quarantined — changes the
    row set and fails the hash; the quarantine count and raw-bytes
    integrity are additionally asserted in-probe and unit-tested. At
    100 TB this is scan-shaped: parse + one boolean route, no
    shuffle."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )

    def _build(tmp: str) -> None:
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        line = F.to_json(F.struct("c_custkey", "c_mktsegment"))
        # truncate by five bytes: substring(line, 1, length-5)
        corrupted = F.when(
            F.col("c_custkey") % 7 == 3,
            line.substr(F.lit(1), F.length(line) - 5),
        ).otherwise(line)
        c.select(corrupted.alias("value")).coalesce(1).write.mode(
            "overwrite"
        ).text(tmp)

    path = disk_fixture(
        "s13-corrupt-feed", source_fingerprint(sf_dir, "customer"), _build
    )
    schema = "c_custkey LONG, c_mktsegment STRING, _corrupt_record STRING"
    parsed = (
        spark.read.text(path)
        .select(
            F.col("value").alias("raw"),
            F.from_json(
                "value",
                schema,
                {
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": "_corrupt_record",
                },
            ).alias("j"),
        )
        .select("raw", "j.*")
    )
    quarantine = parsed.filter(F.col("_corrupt_record").isNotNull())
    valid = parsed.filter(F.col("_corrupt_record").isNull())
    # Routing audit (metadata-scale aggregates): exactly the planted
    # corruption count lands in quarantine, every quarantined row still
    # carries its raw bytes verbatim, and no parsed field leaks out of
    # a corrupt line.
    n_corrupt, n_bad_raw, n_leak = quarantine.agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("_corrupt_record") != F.col("raw"), 1)),
        F.count(F.when(F.col("c_custkey").isNotNull(), 1)),
    ).collect()[0]
    expected = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 3)
        .count()
    )
    if n_corrupt != expected or n_bad_raw or n_leak:
        raise RuntimeError(
            f"corrupt-record routing broken: quarantined {n_corrupt} "
            f"(expected {expected}), raw-bytes mismatches {n_bad_raw}, "
            f"parsed-field leaks {n_leak}"
        )
    return valid.select("c_custkey", "c_mktsegment")


# ---------------------------------------------------------------------------
# S14 — XML record source: the other legacy-feed format (ISO 20022
# payment messages, vendor exports) a financial pipeline inevitably
# ingests. Spark has no built-in XML reader (spark-xml is an external
# package), so the idiomatic in-repo shape is spark.read.text over
# line-delimited record elements + an Arrow-batched mapInPandas parse
# with stdlib xml.etree — real XML semantics (attribute access,
# child-element text, entity unescaping), never a regex pretending to
# be a parser. Scan + embarrassingly-parallel batch parse; no shuffle.
# ---------------------------------------------------------------------------

_S14_SCHEMA = (
    "c_custkey long, c_name string, c_mktsegment string, c_acctbal double"
)


def read_xml_records(spark: SparkSession, path: str) -> DataFrame:
    """Parse line-delimited ``<customer>`` record elements: key and
    acctbal ride as attributes, name and segment as child elements —
    both access paths exercised. ElementTree unescapes entities, so
    the reader round-trips any escaped payload the writer produced."""
    import pandas as pd

    def parse(batches):
        import xml.etree.ElementTree as ET

        for pdf in batches:
            rows = [
                (
                    int(el.attrib["key"]),
                    el.findtext("name"),
                    el.findtext("segment"),
                    float(el.attrib["acctbal"]),
                )
                for el in (ET.fromstring(line) for line in pdf["value"])
            ]
            yield pd.DataFrame(
                rows,
                columns=["c_custkey", "c_name", "c_mktsegment", "c_acctbal"],
            )

    lines = spark.read.text(path).filter(F.length("value") > 0)
    return lines.mapInPandas(parse, _S14_SCHEMA)


@probe(
    "s14_xml_source",
    oracle="SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer",
)
def s14_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 — XML round-trip: customer serialized as one record element
    per line (attributes + child elements, XML-escaped JVM-side) and
    parsed back with the stdlib ElementTree reader. The oracle is the
    table itself, so the hash certifies escaping, attribute/element
    routing, and the double round-trip (Spark's shortest-roundtrip
    double→string cast re-parses to the identical IEEE value)."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )

    def esc(c: F.Column) -> F.Column:
        # &, <, > — the three characters XML text/attribute content
        # must escape (quotes stay: attribute values here are numeric).
        c = F.regexp_replace(c, "&", "&amp;")
        c = F.regexp_replace(c, "<", "&lt;")
        return F.regexp_replace(c, ">", "&gt;")

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "customer").select(
            F.concat(
                F.lit('<customer key="'),
                F.col("c_custkey").cast("string"),
                F.lit('" acctbal="'),
                F.col("c_acctbal").cast("string"),
                F.lit('"><name>'),
                esc(F.col("c_name")),
                F.lit("</name><segment>"),
                esc(F.col("c_mktsegment")),
                F.lit("</segment></customer>"),
            ).alias("value")
        ).coalesce(1).write.mode("overwrite").text(tmp)

    path = disk_fixture(
        "s14-customer-xml", source_fingerprint(sf_dir, "customer"), build
    )
    return read_xml_records(spark, path)


# ---------------------------------------------------------------------------
# S18 — Debezium-shaped CDC envelope ingestion: the wire format every
# log-based CDC connector emits — {"op": c|u|d, "ts_ms": N, "before":
# {...}|null, "after": {...}|null} — parsed with a declared schema and
# folded to current state. K6/K8 consume an already-relational
# changelog; this is the step BEFORE them, where the envelope's
# nullable before/after structs and op routing live. Envelopes are
# synthesized deterministically from orders (create for every key,
# update for key%3=0 a day later, delete for key%5=0 two days later),
# serialized with to_json, and re-parsed with from_json — so the
# parse is exercised against strings whose ground truth the oracle
# derives relationally, never from JSON.
# ---------------------------------------------------------------------------

_S18_ENVELOPE_SCHEMA = (
    "op string, ts_ms long, "
    "before struct<o_orderkey:bigint, cents:bigint, status:string>, "
    "after struct<o_orderkey:bigint, cents:bigint, status:string>"
)


@probe(
    "s18_debezium_envelope",
    oracle="""
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 555
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents,
             CASE WHEN o_orderkey % 3 = 0 THEN 'U'
                  ELSE o_orderstatus END AS status
      FROM orders WHERE o_orderkey % 5 <> 0)
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM final GROUP BY status
    """,
)
def s18_debezium_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18 — parse Debezium-shaped envelopes and fold to current state
    (block comment above): the live table's per-status row count and
    exact cents after applying creates, updates, and deletes in ts_ms
    order. The fold is one latest-wins window per key (k6's law) over
    the parsed relation; deletes drop the key. The oracle never sees
    JSON — it derives the same final state relationally, so the hash
    certifies serialization, the declared-schema parse, null-struct
    handling, and the fold together."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("status"),
        (F.unix_timestamp("o_orderdate") * 1000).alias("ts0"),
    )
    row = F.struct("o_orderkey", "cents", "status")
    creates = o.select(
        F.lit("c").alias("op"),
        F.col("ts0").alias("ts_ms"),
        F.lit(None)
        .cast("struct<o_orderkey:bigint,cents:bigint,status:string>")
        .alias("before"),
        row.alias("after"),
    )
    updates = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.lit("u").alias("op"),
            (F.col("ts0") + 86_400_000).alias("ts_ms"),
            row.alias("before"),
            F.struct(
                "o_orderkey",
                (F.col("cents") + 555).alias("cents"),
                F.lit("U").alias("status"),
            ).alias("after"),
        )
    )
    deletes = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.lit("d").alias("op"),
            (F.col("ts0") + 172_800_000).alias("ts_ms"),
            row.alias("before"),
            F.lit(None)
            .cast("struct<o_orderkey:bigint,cents:bigint,status:string>")
            .alias("after"),
        )
    )
    wire = (
        creates.unionByName(updates)
        .unionByName(deletes)
        .select(F.to_json(F.struct("op", "ts_ms", "before", "after")).alias("raw"))
    )
    parsed = wire.select(
        F.from_json("raw", _S18_ENVELOPE_SCHEMA).alias("e")
    ).select("e.op", "e.ts_ms", "e.before", "e.after")
    keyed = parsed.withColumn(
        "key", F.coalesce(F.col("after.o_orderkey"), F.col("before.o_orderkey"))
    )
    w = Window.partitionBy("key").orderBy(F.col("ts_ms").desc())
    live = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("after.cents", "after.status")
    )
    return live.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("cents"),
    )


# ---------------------------------------------------------------------------
# S19 — multiline quoted CSV (the dialect corner every real CSV feed
# eventually hits: embedded newlines inside quoted fields, embedded
# quotes, embedded delimiters). A default line-split reader silently
# SHREDS such rows into garbage records; Spark's multiLine=true mode
# parses the quoting state machine across line boundaries. The probe
# plants all three hazards into every customer name, round-trips the
# file through write+read, and hash-checks against the RELATIONAL
# derivation of the same planted strings — the oracle never touches
# the file, so the hash certifies the writer's quoting/escaping and
# the multiline reader's state machine as one contract. (multiLine
# costs file-level parallelism — a file can't be split mid-quote —
# so at 100 TB the feed ships many medium files, not one giant one;
# per-file parallelism is unchanged.)
# ---------------------------------------------------------------------------


@probe(
    "s19_multiline_csv",
    oracle="""
    WITH planted AS (
      SELECT c_mktsegment,
             c_name || ',' || chr(10) || '"' || c_mktsegment || '"'
               AS tricky,
             c_acctbal
      FROM customer)
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(length(tricky)) AS BIGINT) AS name_chars,
           CAST(count(CASE WHEN tricky LIKE '%' || chr(10) || '%'
                      THEN 1 END) AS BIGINT) AS n_multiline,
           CAST(floor(sum(c_acctbal) * 100 + 0.5) AS BIGINT) AS acctbal_cents
    FROM planted GROUP BY c_mktsegment
    """,
)
def s19_multiline_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19 — multiline-quoted CSV round-trip (block comment above):
    every customer name gets an embedded delimiter, newline, and
    quoted token planted into it, the frame round-trips through
    csv-write + multiLine csv-read, and the per-segment panel must
    equal the relational derivation of the planted strings."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    fp = source_fingerprint(sf_dir, "customer")

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "customer")
            .select(
                "c_custkey",
                F.concat(
                    F.col("c_name"),
                    F.lit(",\n\""),
                    F.col("c_mktsegment"),
                    F.lit("\""),
                ).alias("tricky"),
                "c_mktsegment",
                "c_acctbal",
            )
            .coalesce(2)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(tmp)
        )

    path = disk_fixture("multiline-csv", fp, build)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("inferSchema", "false")
        .schema("c_custkey long, tricky string, c_mktsegment string, c_acctbal double")
        .csv(path)
    )
    return back.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("tricky")).alias("name_chars"),
        F.count(F.when(F.col("tricky").contains("\n"), 1)).alias("n_multiline"),
        F.floor(F.sum("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("acctbal_cents"),
    )
