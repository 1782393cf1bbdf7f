"""Batch source/sink tests (S5/S6/K4/K5): declared-schema CSV/JSON
reads, overwrite loads, DDL-from-schema, and the Cloud-Function-shaped
load_dimension convention (schema by file stem, non-CSV rejected)."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark import schemas as sch
from realtime_financial_transactions_data_pipeline_spark.sources import batch



@pytest.fixture()
def fresh_root(tmp_path):
    return str(tmp_path / "root")


def test_load_dimension_by_stem(spark, fresh_root, tmp_path):
    csv = tmp_path / "dim_device_type.csv"
    csv.write_text("device_type_id,device_type_name\n1,mobile\n2,desktop\n")
    out = batch.load_dimension(spark, str(csv), fresh_root)
    got = spark.read.parquet(out)
    assert got.count() == 2
    # parquet reads surface every column nullable; names/types must match
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in sch.DIM_DEVICE_TYPE
    ]
    rows = {r.device_type_id: r.device_type_name for r in got.collect()}
    assert rows == {1: "mobile", 2: "desktop"}


def test_load_dimension_rejects_non_csv(spark, fresh_root):
    with pytest.raises(ValueError):
        batch.load_dimension(spark, "/tmp/whatever.json", fresh_root)
    with pytest.raises(KeyError):
        batch.load_dimension(spark, "/tmp/unknown_table.csv", fresh_root)


def test_overwrite_is_full_refresh(spark, fresh_root):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    df2 = spark.createDataFrame([(3, "c")], ["id", "v"])
    batch.overwrite_table(df1, f"{fresh_root}/t")
    batch.overwrite_table(df2, f"{fresh_root}/t")
    got = spark.read.parquet(f"{fresh_root}/t").collect()
    assert len(got) == 1 and got[0].id == 3  # WRITE_TRUNCATE semantics


def test_csv_failfast_on_schema_drift(spark, tmp_path):
    csv = tmp_path / "bad.csv"
    csv.write_text("device_type_id,device_type_name\nnot_a_number,mobile\n")
    with pytest.raises(Exception):
        batch.read_csv(spark, str(csv), sch.DIM_DEVICE_TYPE).collect()


def test_create_table_empty_with_schema(spark, fresh_root):
    batch.create_table(spark, f"{fresh_root}/empty", sch.DIM_ACCOUNT)
    got = spark.read.parquet(f"{fresh_root}/empty")
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [f.name for f in sch.DIM_ACCOUNT.fields]
    assert got.schema["account_id"].dataType == T.LongType()


def test_orc_roundtrip_partition_pruned(spark, sf_dir, tmp_path):
    """The s10 ORC read plans a PartitionFilters entry on event_type —
    non-click partition directories are pruned at file-listing time,
    never opened (same machinery as the parquet date-partition probe)."""
    from realtime_financial_transactions_data_pipeline_spark.plans import inspect
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 20 == 7)
        .select("user_id", "event_type", "value")
    )
    orc_dir = str(tmp_path / "events_orc")
    src.write.mode("overwrite").partitionBy("event_type").orc(orc_dir)
    back = spark.read.orc(orc_dir).filter(F.col("event_type") == "click")
    plan = inspect.formatted_plan(back)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan
    assert "event_type" in pf[0] and "PartitionFilters: []" not in pf[0], pf[0]
    assert back.count() > 0


def test_s13_corrupt_routing_boundaries(spark):
    """s13 boundary semantics on a crafted feed: a fully valid line
    parses; a truncated line quarantines with its raw bytes verbatim
    and ALL parsed fields null; a wrong-TYPE field (string where the
    schema wants long) also quarantines under PERMISSIVE from_json —
    type drift is corruption, not coercion."""
    from pyspark.sql import functions as F

    lines = [
        '{"c_custkey": 7, "c_mktsegment": "BUILDING"}',
        '{"c_custkey": 8, "c_mktsegment": "AUTOMOB',      # truncated
        '{"c_custkey": "x", "c_mktsegment": "MACHINERY"}',  # bad type
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    schema = "c_custkey LONG, c_mktsegment STRING, _corrupt_record STRING"
    parsed = df.select(
        F.col("value").alias("raw"),
        F.from_json(
            "value",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j"),
    ).select("raw", "j.*")
    rows = {r.raw: r for r in parsed.collect()}
    ok = rows[lines[0]]
    assert ok._corrupt_record is None and ok.c_custkey == 7
    trunc = rows[lines[1]]
    assert trunc._corrupt_record == lines[1]
    assert trunc.c_custkey is None and trunc.c_mktsegment is None
    badtype = rows[lines[2]]
    assert badtype._corrupt_record == lines[2]
    assert badtype.c_custkey is None


def test_s14_xml_reader_escaping(spark, tmp_path):
    """The XML reader round-trips entity-escaped payloads — including
    &, <, > in element text — and both attribute and child-element
    access paths."""
    from realtime_financial_transactions_data_pipeline_spark.sources.batch import (
        read_xml_records,
    )

    p = tmp_path / "recs.xml"
    p.write_text(
        '<customer key="7" acctbal="-12.5">'
        "<name>A &amp; B &lt;Ltd&gt;</name>"
        "<segment>MACHINERY</segment></customer>\n"
        '<customer key="8" acctbal="0.1">'
        "<name>plain</name><segment>AUTOMOBILE</segment></customer>\n"
    )
    rows = {
        r.c_custkey: r
        for r in read_xml_records(spark, str(p)).collect()
    }
    assert set(rows) == {7, 8}
    assert rows[7].c_name == "A & B <Ltd>"
    assert rows[7].c_acctbal == -12.5
    assert rows[8].c_acctbal == 0.1
    assert rows[8].c_mktsegment == "AUTOMOBILE"


def test_s15_variant_extraction_semantics(spark):
    """VARIANT path extraction: typed gets, array subscripts, missing
    paths null under try_variant_get, and type coercion to the
    requested target."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('{"a": 7, "b": {"c": [10, 20]}, "s": "hi"}',)], "j string"
    ).select(F.parse_json("j").alias("v"))
    row = df.select(
        F.expr("variant_get(v, '$.a', 'long')").alias("a"),
        F.expr("variant_get(v, '$.b.c[1]', 'long')").alias("c1"),
        F.expr("variant_get(v, '$.a', 'string')").alias("a_str"),
        F.expr("try_variant_get(v, '$.zzz', 'long')").alias("missing"),
        F.expr("schema_of_variant(v)").alias("sch"),
    ).collect()[0]
    assert row.a == 7 and row.c1 == 20
    assert row.a_str == "7"  # coercion to the requested type
    assert row.missing is None
    assert row.sch.startswith("OBJECT<")


def test_s17_replay_log_exactly_once_across_batches(spark, tmp_path):
    """The replay_log streaming source delivers every offset exactly
    once across multiple chunked micro-batches, with parallel input
    partitions inside each batch."""
    import ast
    import time

    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.sources.pyds import (
        register_replay_log,
    )

    n = 20
    spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).alias("user_id"),
        (F.col("id") * 10).alias("value_mills"),
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "log"))
    import glob

    (logfile,) = glob.glob(str(tmp_path / "log" / "part-*.parquet"))
    register_replay_log(spark)
    q = (
        spark.readStream.format("replay_log")
        .option("path", logfile)
        .option("chunk", 7)  # 20 rows -> 3 data batches
        .option("parts", 2)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p and p.get("sources"):
            end = p["sources"][0].get("endOffset")
            if end and ast.literal_eval(str(end)).get("row", 0) >= n:
                break
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    rows = sorted(
        r.event_id
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert rows == list(range(n))  # every offset exactly once


def test_s17_replay_log_restart_exactly_once(spark, tmp_path):
    """Checkpoint-restart correctness (review finding, reproduced
    before the fix): a fresh reader's cursor must never report a
    latest offset behind the recovered progress — stop mid-log,
    restart from the same checkpoint, and every offset still arrives
    exactly once."""
    import ast
    import glob
    import time

    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.sources.pyds import (
        register_replay_log,
    )

    n = 30
    spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).alias("user_id"),
        (F.col("id") * 10).alias("value_mills"),
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "log"))
    (logfile,) = glob.glob(str(tmp_path / "log" / "part-*.parquet"))
    register_replay_log(spark)

    def run(stop_at: int) -> None:
        q = (
            spark.readStream.format("replay_log")
            .option("path", logfile)
            .option("chunk", 10)
            .option("parts", 2)
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            p = q.lastProgress
            if p and p.get("sources"):
                end = p["sources"][0].get("endOffset")
                if end and ast.literal_eval(str(end)).get("row", 0) >= stop_at:
                    break
            time.sleep(0.05)
        q.stop()
        q.awaitTermination()

    run(20)  # stop mid-log with ~2 batches committed
    run(n)   # restart from the same checkpoint
    rows = sorted(
        r.event_id
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert rows == list(range(n))


def test_s18_envelope_parse_and_fold(spark):
    """The envelope round-trip must reconstruct exactly the relational
    ground truth at sf0.001: deletes gone, updates bumped by 555
    cents with status U, creates intact — and malformed op routing is
    impossible by construction (every envelope carries a valid op)."""
    import duckdb

    from realtime_financial_transactions_data_pipeline_spark.sources.batch import (
        s18_debezium_envelope,
    )

    sf = "/root/testdata/sf0.001"
    want = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"""WITH final AS (
                  SELECT CASE WHEN o_orderkey % 3 = 0
                              THEN CAST(round(o_totalprice*100) AS BIGINT)+555
                              ELSE CAST(round(o_totalprice*100) AS BIGINT)
                         END AS cents,
                         CASE WHEN o_orderkey % 3 = 0 THEN 'U'
                              ELSE o_orderstatus END AS status
                  FROM read_parquet('{sf}/orders.parquet')
                  WHERE o_orderkey % 5 <> 0)
                SELECT status, count(*), sum(cents)
                FROM final GROUP BY status"""
        ).fetchall()
    }
    got = {
        r.status: (r.n_rows, r.cents)
        for r in s18_debezium_envelope(spark, sf).collect()
    }
    assert got == want
    assert "U" in got  # updates actually happened


def test_s19_multiline_shreds_without_multiline_mode(spark):
    """The hazard is real: reading the same fixture WITHOUT
    multiLine=true yields a different (shredded) row count, while the
    probe's multiline read reconstructs exactly one row per customer."""
    import duckdb

    from realtime_financial_transactions_data_pipeline_spark.sources.batch import (
        s19_multiline_csv,
    )

    sf = "/root/testdata/sf0.001"
    n_cust = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf}/customer.parquet')"
    ).fetchone()[0]
    rows = s19_multiline_csv(spark, sf).collect()
    assert sum(r.n_rows for r in rows) == n_cust
    assert all(r.n_multiline == r.n_rows for r in rows)
    # negative control: the naive line-split reader sees MORE records.
    # Locate the probe's own fixture by name and source fingerprint —
    # calling disk_fixture with a different build lambda would mint a NEW
    # key and delete the real fixture (the recipe-token law), and other
    # source dirs' generations of the same name may sit beside it.
    import glob
    import os

    from realtime_financial_transactions_data_pipeline_spark import caching

    cands = [
        p
        for p in glob.glob(os.path.join(
            caching._FIXTURE_ROOT,
            f"multiline-csv-{caching.source_fingerprint(sf, 'customer')}-*",
        ))
        if os.path.exists(os.path.join(p, "_FIXTURE_OK"))
    ]
    assert cands, "probe fixture must exist after the probe ran"
    naive = (
        spark.read.option("header", "true")
        .schema("c_custkey string, tricky string, seg string, bal string")
        .csv(cands[0])
    )
    assert naive.count() > n_cust
