"""Relational probe queries: projections, filters, routing, scalar
functions, joins, dashboard aggregates, slicers, sorts, set ops, windows.

Each probe mirrors one operator row from SURVEY.md §2 (citation in the
docstring) re-expressed on the TPC-H-ish test tables, with a DuckDB
oracle. Role mapping (FIXTURES.md §B): orders/lineitem ≈ the fact table,
customer/nation/region ≈ dims, events ≈ the raw stream.

Scale notes (100 TB): every join here is either a broadcast of a true
dimension (region/nation/customer — kilobytes to megabytes regardless of
fact scale) or an equi-join on the fact's own key (l_orderkey) which
Catalyst executes as a shuffle/sort-merge join with AQE skew splitting.
Aggregates are hash-aggregates with map-side partial combine. Filters are
literal predicates on scan columns → parquet row-group pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround
from realtime_financial_transactions_data_pipeline_spark.registry import probe
from realtime_financial_transactions_data_pipeline_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: star join + slicers + multi-measure agg + order  (J1, L1-L3,
# A1/A2/A9, O1). Analytics path of SURVEY §3.3 — the dashboard's
# "revenue & volume by dimension" chart family on TPC-H roles.
# ---------------------------------------------------------------------------


@probe(
    "q1_star_revenue_by_nation",
    oracle="""
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_txns,
           round(avg(l_extendedprice), 2) AS avg_price
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND o_orderstatus IN ('O', 'F')
    GROUP BY r_name, n_name
    """,
)
def q1_star_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join fact→4 dims with date-range + equality slicers, grouped
    multi-measure agg (README.md:85-97 dashboard; data_model.png). Dims
    broadcast — at 100 TB the only shuffle is the groupBy."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("o_orderstatus").isin("O", "F")
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_txns"),
            dround(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# P1-P5 — projections / column drop / filters / validation routing
# ---------------------------------------------------------------------------


@probe(
    "p1_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed projection in declared column order (pipeline.py:106-129).
    Column pruning reaches the parquet scan (ReadSchema shows 4 cols)."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@probe(
    "p2_column_drop",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
    """,
)
def p2_column_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style column drop (record.pop('card_number'), pipeline.py:100).
    Explicit .drop so no plan rewrite can resurrect the column."""
    return _t(spark, sf_dir, "customer").drop("c_acctbal")


@probe(
    "p3_filter_eq",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    """,
)
def p3_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality filter (generate_fact_transactions_data.py:42-43 boolean
    split). Pushed to the parquet scan as PushedFilters=[EqualTo(...)]."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_totalprice")
    )


@probe(
    "p4_validation_routing",
    oracle="""
    SELECT (length(c_name) BETWEEN 13 AND 19) AS is_valid,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM customer GROUP BY 1
    """,
)
def p4_validation_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation predicate + multi-way routing (pipeline.py:74-87: PAN
    length 13..19 → valid, else dead-letter). Both branches counted in one
    pass — at scale this is a single scan, not two."""
    return (
        _t(spark, sf_dir, "customer")
        .select(F.length("c_name").between(13, 19).alias("is_valid"))
        .groupBy("is_valid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@probe(
    "p5_null_defaulting",
    oracle="""
    SELECT c_custkey,
           coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0)
             AS acctbal_or_zero
    FROM customer
    """,
)
def p5_null_defaulting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-branch defaulting (pipeline.py:101-104: missing PAN → null
    token columns, downstream coalesce)."""
    c = _t(spark, sf_dir, "customer")
    nulled = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return c.select("c_custkey", F.coalesce(nulled, F.lit(0.0)).alias("acctbal_or_zero"))


@probe(
    "p2_p5_shape_defaults",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0)
             AS acctbal_or_zero
    FROM customer
    """,
)
def p2_p5_shape_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P5 in one pass (driver-window representative of the
    fine-grained p2_column_drop / p5_null_defaulting twins): PII-style
    column drop plus null-branch defaulting on the same scan."""
    c = _t(spark, sf_dir, "customer")
    nulled = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return c.withColumn("acctbal_or_zero", F.coalesce(nulled, F.lit(0.0))).drop(
        "c_acctbal"
    )


# ---------------------------------------------------------------------------
# F1-F12, F15 — scalar function library probes
# ---------------------------------------------------------------------------


@probe(
    "f1_mask_pan",
    oracle="""
    SELECT c_custkey,
           substring(c_name, 1, 6) || '******'
             || substring(c_name, length(c_name) - 3, 4) AS masked
    FROM customer
    """,
)
def f1_mask_pan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAN masking: first-6 + '******' + last-4 (pipeline.py:89-90),
    exercised on a string column of the test data."""
    c = _t(spark, sf_dir, "customer")
    masked = F.concat(
        F.substring("c_name", 1, 6), F.lit("******"), F.substring(F.col("c_name"), -4, 4)
    )
    return c.select("c_custkey", masked.alias("masked"))


@probe(
    "f2_f6_string_funcs",
    oracle="""
    SELECT p_partkey,
           CAST(length(p_name) AS BIGINT) AS name_len,
           lower(p_brand) AS brand_lc,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           split_part(p_type, ' ', 1) AS type_head,
           substring(p_type, 1, 5) AS type_prefix,
           (p_type LIKE '%BRASS%') AS has_brass
    FROM part
    """,
)
def f2_f6_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String library: length (F2, pipeline.py:77), substring/prefix (F3,
    generate_fact_transactions_data.py:153), split (F4, :151-152),
    zero-pad (F5, pipeline.py:95), lower/contains (F6,
    generate_dim_cust_data.py:64-68)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").cast("long").alias("name_len"),
        F.lower("p_brand").alias("brand_lc"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.split("p_type", " ").getItem(0).alias("type_head"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.col("p_type").contains("BRASS").alias("has_brass"),
    )


@probe(
    "f7_timestamp_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_dt,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    """,
)
def f7_timestamp_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 timestamp formatting (txn_dt.isoformat(),
    generate_fact_transactions_data.py:209; parse pipeline.py:83)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_dt"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@probe(
    "f9_date_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INTEGER)
             AS ship_lag_days,
           strftime(DATE '2023-01-01' + INTERVAL (l_linenumber) DAY, '%Y-%m-%d') AS line_date,
           strftime(greatest(CAST(o_orderdate AS DATE), DATE '1997-01-01'), '%Y-%m-%d')
             AS open_floor
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def f9_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_id ↔ date arithmetic (F9): BASE_DATE + days offset
    (generate_fact_transactions_data.py:66-67), datediff, greatest-floor
    (generate_dim_account_data.py:152-155). BASE_DATE is 2023-01-01."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("ship_lag_days"),
        F.date_format(
            F.date_add(F.lit("2023-01-01").cast("date"), F.col("l_linenumber")), "yyyy-MM-dd"
        ).alias("line_date"),
        F.date_format(
            F.greatest(F.to_date("o_orderdate"), F.lit("1997-01-01").cast("date")), "yyyy-MM-dd"
        ).alias("open_floor"),
    )


@probe(
    "f9_f11_f12_datetime_money",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INTEGER)
             AS ship_lag_days,
           strftime(DATE '2023-01-01' + INTERVAL (l_linenumber) DAY, '%Y-%m-%d') AS line_date,
           round(l_extendedprice * (1 - l_discount), 2) AS disc_price,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def f9_f11_f12_datetime_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 date arithmetic + F11/F12 money arithmetic on ONE lineitem
    scan (driver-window representative of the f9_date_arithmetic /
    f11_f12_arithmetic_round twins)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ep, dc, tx = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("ship_lag_days"),
        F.date_format(
            F.date_add(F.lit("2023-01-01").cast("date"), F.col("l_linenumber")), "yyyy-MM-dd"
        ).alias("line_date"),
        dround(ep * (1 - dc), 2).alias("disc_price"),
        dround(ep * (1 - dc) * (1 + tx), 2).alias("charge"),
    )


@probe(
    "f10_calendar_extraction",
    oracle="""
    SELECT CAST(year(ts) AS INTEGER) AS y,
           CAST(quarter(ts) AS INTEGER) AS q,
           CAST(month(ts) AS INTEGER) AS mo,
           CAST(day(ts) AS INTEGER) AS d,
           CAST(dayofweek(ts) AS INTEGER) AS dow0,
           CAST(hour(ts) AS INTEGER) AS h,
           CAST(minute(ts) AS INTEGER) AS mi,
           CASE WHEN hour(ts) < 12 THEN 'AM' ELSE 'PM' END AS period,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY ALL
    """,
)
def f10_calendar_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_dim/time_dim attribute derivation (README.md:48-49): year,
    quarter, month, day, day-of-week, hour, minute, AM/PM period.
    dow normalized to DuckDB's 0=Sunday (Spark dayofweek is 1=Sunday)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.year("ts").alias("y"),
            F.quarter("ts").alias("q"),
            F.month("ts").alias("mo"),
            F.dayofmonth("ts").alias("d"),
            (F.dayofweek("ts") - 1).alias("dow0"),
            F.hour("ts").alias("h"),
            F.minute("ts").alias("mi"),
            F.when(F.hour("ts") < 12, "AM").otherwise("PM").alias("period"),
        )
        .groupBy("y", "q", "mo", "d", "dow0", "h", "mi", "period")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@probe(
    "f11_f12_arithmetic_round",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 2) AS disc_price,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge,
           round(l_extendedprice * l_discount, 2) AS discount_amt
    FROM lineitem
    """,
)
def f11_f12_arithmetic_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money arithmetic + round(x,2) (total = amount + tax − discount,
    generate_fact_transactions_data.py:140-143,135-143)."""
    li = _t(spark, sf_dir, "lineitem")
    ep, dc, tx = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(ep * (1 - dc), 2).alias("disc_price"),
        dround(ep * (1 - dc) * (1 + tx), 2).alias("charge"),
        dround(ep * dc, 2).alias("discount_amt"),
    )


@probe(
    "f15_risk_threshold",
    oracle="""
    SELECT (value >= 100.0) AS is_high,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 2) AS avg_value
    FROM events GROUP BY 1
    """,
)
def f15_risk_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk banding / threshold classification (risk_score ≥ 0.6 is
    'high risk': generate_fact_transactions_data.py:196-199, README.md:87)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select((F.col("value") >= 100.0).alias("is_high"), "value")
        .groupBy("is_high")
        .agg(F.count(F.lit(1)).alias("n"), dround(F.avg("value"), 2).alias("avg_value"))
    )


# ---------------------------------------------------------------------------
# J1-J5 — join family
# ---------------------------------------------------------------------------


@probe(
    "j1_left_join_dim",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers_no_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def j1_left_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer star join preserving dimension rows with no facts
    (Power BI model join semantics, README.md:38-49)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "n_customers_no_orders"
            ),
        )
    )


@probe(
    "j2_stream_static_lookup",
    oracle="""
    SELECT c_mktsegment, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def j2_stream_static_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment lookup (txn enriched from dim_accounts
    cache, generate_fact_transactions_data.py:100-105) as a broadcast
    equi-join of the event stream against a dim."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dround(F.sum("value"), 2).alias("total_value"))
    )


@probe(
    "j4_anti_join_new_rows",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j4_anti_join_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental new-rows-only anti-join (seen_customer_ids dedupe set,
    generate_dim_account_data.py:69-70,96-105)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@probe(
    "j4b_semi_join",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def j4b_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi complement of J4 (EXISTS lookup)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@probe(
    "j4_anti_semi",
    oracle="""
    SELECT c_custkey, 'anti' AS join_kind FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT c_custkey, 'semi' AS join_kind FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def j4_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 both halves in one probe (driver-window representative of the
    j4_anti_join_new_rows / j4b_semi_join twins): left_anti (new rows
    only) unioned with left_semi (EXISTS lookup), tagged."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit("anti").alias("join_kind")
    )
    semi = c.join(
        o.filter(F.col("o_orderstatus") == "F"),
        c.c_custkey == o.o_custkey,
        "left_semi",
    ).select("c_custkey", F.lit("semi").alias("join_kind"))
    return anti.unionByName(semi)


@probe(
    "j5_range_predicate_join",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_early_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
)
def j5_range_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval theta predicate riding an equi-join (txn timestamp
    within [open_date, close_date]: generate_fact_transactions_data.py:78-81,145).
    The equi-key keeps it a hash join; the BETWEEN is a post-join filter,
    so no O(n²) blow-up at scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.date_add(o.o_orderdate.cast("date"), 90).cast("timestamp"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_early_lines"))
    )


# ---------------------------------------------------------------------------
# A1-A10 — dashboard aggregate suite
# ---------------------------------------------------------------------------


@probe(
    "a1_a6_stat_cards",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_txns,
           round(sum(o_totalprice), 2) AS total_revenue,
           round(avg(o_totalprice), 2) AS avg_txn_amount,
           round(avg(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END), 4)
             AS finished_share,
           CAST(sum(CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END) AS BIGINT)
             AS high_value_count,
           round(avg(o_totalprice) / 1000, 4) AS avg_k,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_customers
    FROM orders
    """,
)
def a1_a6_stat_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six dashboard stat cards in one pass (README.md:86-87): count,
    sum, avg, conditional share (recurring %), conditional count
    (high-risk ≥ threshold), derived avg. Single hash-agg, no shuffle of
    raw rows beyond partial-agg exchange."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total_txns"),
        dround(F.sum("o_totalprice"), 2).alias("total_revenue"),
        dround(F.avg("o_totalprice"), 2).alias("avg_txn_amount"),
        dround(F.avg(F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)), 4).alias(
            "finished_share"
        ),
        F.sum(F.when(F.col("o_totalprice") >= 300000, 1).otherwise(0)).alias("high_value_count"),
        dround(F.avg("o_totalprice") / 1000, 4).alias("avg_k"),
        F.countDistinct("o_custkey").alias("n_distinct_customers"),  # A10 exact
    )


@probe(
    "a7_daily_timeseries",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           round(sum(value), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS volume
    FROM events GROUP BY 1
    """,
)
def a7_daily_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-date time-series aggregation (timeline chart,
    README.md:91): revenue + volume per day."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"))
        .agg(dround(F.sum("value"), 2).alias("revenue"), F.count(F.lit(1)).alias("volume"))
    )


@probe(
    "a8_a9_group_by_dim",
    oracle="""
    SELECT n_name AS dim_name,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS volume
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def a8_a9_group_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by-dimension multi-measure agg (volume by gateway/channel,
    revenue+volume by merchant: README.md:92-95)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("dim_name"))
        .agg(
            dround(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


@probe(
    "a10_distinct_slicer_values",
    oracle="""
    SELECT DISTINCT c_mktsegment AS segment FROM customer
    """,
)
def a10_distinct_slicer_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct slicer value lists (state/city/channel/device pickers,
    README.md:96-97)."""
    return (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"))
        .distinct()
    )


@probe(
    "a10b_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders GROUP BY o_orderstatus
    """,
)
def a10b_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting per group (A10). The approximate variant
    is probed separately (x5_approx_sketches, rows-only)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


# ---------------------------------------------------------------------------
# L1-L3 — slicer predicate composition
# ---------------------------------------------------------------------------


@probe(
    "l1_l3_slicer_stack",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-06-01' AND TIMESTAMP '1998-06-30'
      AND o_orderstatus IN ('O', 'P')
      AND o_orderpriority <> '5-LOW'
    GROUP BY 1, 2
    """,
)
def l1_l3_slicer_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-composed dashboard slicers (README.md:96-97): date-range
    BETWEEN + IN-list + inequality, then monthly rollup. All three
    predicates reach the parquet scan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderdate").between(
                F.lit("1996-06-01").cast("timestamp"), F.lit("1998-06-30").cast("timestamp")
            )
        )
        .filter(F.col("o_orderstatus").isin("O", "P"))
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("mo")
        )
        .agg(F.count(F.lit(1)).alias("n"), dround(F.sum("o_totalprice"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# O1-O3, O5 — sort / top-k / union / window
# ---------------------------------------------------------------------------


@probe(
    "o1_o2_topk",
    oracle="""
    SELECT n_name, round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    LIMIT 5
    """,
)
def o1_o2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-by measure desc + top-K (merchant bar chart / treemap,
    README.md:93-94). Spark executes as TakeOrderedAndProject — no global
    sort of the full aggregate at scale. Deterministic tiebreak on name."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dround(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
        .limit(5)
    )


@probe(
    "o3_union",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'big' AS bucket
    FROM orders WHERE o_totalprice >= 400000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'urgent' AS bucket
    FROM orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 400000
    """,
)
def o3_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two filtered branches (O3) via unionByName."""
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") >= 400000).select(
        "o_orderkey", "o_totalprice", F.lit("big").alias("bucket")
    )
    urgent = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") < 400000)
    ).select("o_orderkey", "o_totalprice", F.lit("urgent").alias("bucket"))
    return big.unionByName(urgent)


@probe(
    "o4_intersect_except",
    oracle="""
    SELECT c_custkey FROM
      (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def o4_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops beyond the reference surface (SURVEY §2.9 notes them
    absent — included for engine completeness)."""
    o = _t(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    fin = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return open_.intersect(fin).exceptAll(urgent).distinct()


@probe(
    "o5_window_rank",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    ) WHERE rn <= 2
    """,
)
def o5_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-per-group via ranking window (SURVEY §2.9 O5 extension).
    Deterministic tiebreak on o_orderkey."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )


@probe(
    "o5b_window_running",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_value,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
             AS delta_prev
    FROM events
    """,
)
def o5b_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum frame + lag delta per user session."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "user_id",
        "event_id",
        dround(F.sum("value").over(frame), 2).alias("running_value"),
        dround(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
    )


@probe(
    "pivot_status_by_segment",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS "O",
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS "F",
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS "P"
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (dashboard matrix visuals): order-status columns per
    segment. Pivot values declared explicitly so no extra distinct pass."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    pivoted = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    # Pivot yields NULL for empty cells; COUNT FILTER semantics (and the
    # oracle) want 0.
    return pivoted.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ("O", "F", "P")],
    )


@probe(
    "rollup_region_nation",
    oracle="""
    SELECT r_name, n_name,
           round(sum(c_acctbal), 2) AS total_balance,
           CAST(count(*) AS BIGINT) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (drill-down visuals)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            dround(F.sum("c_acctbal"), 2).alias("total_balance"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@probe(
    "cube_segment_status",
    oracle="""
    SELECT c_mktsegment, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)
def cube_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-subtotal-combinations via CUBE (the 2^k grouping-set lattice
    behind cross-dim dashboard matrices)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# S3/S4 — JSON parse of the stream payload (batch probe; streaming path in
# streaming/pipeline.py)
# ---------------------------------------------------------------------------


@probe(
    "s3_json_parse",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS INTEGER) AS k,
           event_type
    FROM events
    """,
)
def s3_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON message parse (json.loads, pipeline.py:71) via schema'd
    from_json on the events.props payload column."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("k"),
        "event_type",
    )


@probe(
    "s3b_json_path_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def s3b_json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless JSON-path extraction (get_json_object) — the ad-hoc
    twin of the schema'd from_json parse: pull one path out of an
    arbitrary payload without declaring the full message shape."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").cast("long").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@probe(
    "k6_cdc_latest_wins",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def k6_cdc_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (K6): collapse an event log to the
    latest row per key — the upsert-materialization every warehouse
    sink without native MERGE runs (latest-wins by event time, event_id
    as the deterministic tiebreak for same-timestamp updates). One
    shuffle keyed by user_id; the window never holds more than one
    key's rows per partition, so the shape is flat at any corpus size.
    Reference parity: the reference truncate-loads dims
    (data_generator_scripts/load_dim_tables_data.py) — this is the
    incremental twin of that load."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# K7 — MERGE-style upsert (the lakehouse mutation primitive)
# ---------------------------------------------------------------------------


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    payload_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """MERGE INTO target USING source — batch-relational form of the
    Delta/Iceberg upsert: ``source`` rows carry ``op`` ∈ {'upsert',
    'delete'}; an upsert updates the matched target row (source payload
    wins) or inserts when unmatched, a delete removes the matched row,
    and untouched target rows pass through.

    One full-outer shuffle join on the key (both sides co-partitioned;
    AQE splits skew) and a coalesce projection — no row explosion, no
    driver loop. Equivalent decomposition for engines without full-outer
    (or when the source is broadcast-small): (target anti source-keys)
    ∪ (target semi-join upserts, updated) ∪ (upserts anti target) —
    three co-partitioned joins on the same key. Source keys must be
    unique (last-writer-wins dedupe upstream, see k6)."""
    j = target.alias("t").join(source.alias("s"), on=key, how="full_outer")
    survives = F.col(f"s.{op_col}").isNull() | (F.col(f"s.{op_col}") == "upsert")
    return j.filter(survives).select(
        F.col(key),
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c)
            for c in payload_cols
        ],
    )


@probe(
    "k7_merge_upsert",
    oracle="""
    WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
    upd AS (SELECT c_custkey, 'upsert' AS op, c_name,
                   round(c_acctbal + 100, 2) AS c_acctbal
            FROM customer WHERE c_custkey % 3 = 0),
    del AS (SELECT c_custkey, 'delete' AS op, CAST(NULL AS VARCHAR) AS c_name,
                   CAST(NULL AS DOUBLE) AS c_acctbal
            FROM customer WHERE c_custkey % 3 = 1 AND c_custkey % 7 = 0),
    ins AS (SELECT c_custkey + 1000000 AS c_custkey, 'upsert' AS op,
                   'NEW-' || CAST(c_custkey AS VARCHAR) AS c_name,
                   round(c_acctbal * 2, 2) AS c_acctbal
            FROM customer WHERE c_custkey % 3 = 2 AND c_custkey % 11 = 0),
    s AS (SELECT * FROM upd UNION ALL SELECT * FROM del
          UNION ALL SELECT * FROM ins)
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           coalesce(s.c_name, t.c_name) AS c_name,
           coalesce(s.c_acctbal, t.c_acctbal) AS c_acctbal
    FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
    WHERE s.op IS NULL OR s.op = 'upsert'
    """,
)
def k7_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7: MERGE upsert against the customer snapshot — every third key
    updated (+100 balance), every 21st-ish deleted (mod-3/mod-7 slice),
    a mod-11 slice inserted under fresh keys. The driver hash certifies
    update/delete/insert/passthrough in one result."""
    c = _t(spark, sf_dir, "customer")
    target = c.select("c_custkey", "c_name", "c_acctbal")
    upd = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.lit("upsert").alias("op"),
        "c_name",
        dround(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
    )
    dele = c.filter((F.col("c_custkey") % 3 == 1) & (F.col("c_custkey") % 7 == 0)).select(
        "c_custkey",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
    )
    ins = c.filter((F.col("c_custkey") % 3 == 2) & (F.col("c_custkey") % 11 == 0)).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("upsert").alias("op"),
        F.concat(F.lit("NEW-"), F.col("c_custkey").cast("string")).alias("c_name"),
        dround(F.col("c_acctbal") * 2, 2).alias("c_acctbal"),
    )
    source = upd.unionByName(dele).unionByName(ins)
    return merge_upsert(
        target, source, key="c_custkey", payload_cols=["c_name", "c_acctbal"]
    )


@probe(
    "a15_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM events
    GROUP BY event_type, 2
    """,
)
def a15_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of `events.value` per event type (50-unit
    buckets) — the distribution panel behind every dashboard's value
    chart. One partial-aggregable groupBy on ~40 (type, bucket) keys;
    at 100 TB the map-side combine reduces each partition to those same
    few dozen rows before the single exchange."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.floor(F.col("value") / 50.0).cast("long").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("value"), 2).alias("total"),
    )


@probe(
    "o6_ntile_deciles",
    oracle="""
    WITH t AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS decile
      FROM events)
    SELECT event_type, decile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM t GROUP BY event_type, decile
    """,
)
def o6_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bands of value within each event type via ntile(10)
    (unique event_id tiebreak keeps the assignment deterministic
    across engines), then per-band count and bounds. The window
    shuffles once on event_type; a production variant over a skewed
    partition key would swap in percentile_approx band edges to avoid
    the per-partition sort."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.min("value"), 2).alias("lo"),
            dround(F.max("value"), 2).alias("hi"),
        )
    )


#: ONE SQL string, two engines: this exact text runs through
#: ``spark.sql`` AND is the DuckDB oracle. Dialect-neutral by
#: construction — ANSI joins, TIMESTAMP literals, and integer-cents
#: via floor(x + 0.5) instead of round() (the one function whose
#: double behavior differs between the engines).
_Q1_SHARED_SQL = """
    SELECT r_name, n_name,
           CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_txns
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND o_orderstatus IN ('O', 'F')
    GROUP BY r_name, n_name
"""


@probe("q1sql_shared_text", oracle=_Q1_SHARED_SQL)
def q1sql_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity, the strongest form: the flagship star query
    as ONE dialect-neutral SQL string executed verbatim by BOTH
    engines — ``spark.sql(_Q1_SHARED_SQL)`` here, the identical text
    as the DuckDB oracle. A user's ANSI dashboard query ports with
    zero rewrites; Catalyst still plans the same broadcast-star
    physical shape as the DataFrame formulation (same tables, same
    predicates)."""
    from realtime_financial_transactions_data_pipeline_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q1_SHARED_SQL)


@probe(
    "a16_dispersion_correlation",
    oracle="""
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd_value,
           round(var_samp(value), 4) AS var_value,
           round(corr(value, CAST(user_id % 97 AS DOUBLE)), 4) AS corr_vu
    FROM events
    GROUP BY event_type
    """,
)
def a16_dispersion_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per event type: sample stddev/variance
    of value and its correlation with a derived numeric (user bucket) —
    the dispersion panel of a stats dashboard. All three are
    partial-aggregable (sum/sum-of-squares/cross-product accumulators),
    so the plan is one map-side-combined groupBy on ~5 keys at any
    scale."""
    e = _t(spark, sf_dir, "events")
    vu = (F.col("user_id") % 97).cast("double")
    return e.groupBy("event_type").agg(
        dround(F.stddev_samp("value"), 4).alias("sd_value"),
        dround(F.var_samp("value"), 4).alias("var_value"),
        dround(F.corr(F.col("value"), vu), 4).alias("corr_vu"),
    )


def merge_agg_state(
    old: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Incremental view maintenance for a sum/count aggregate: fold a
    delta's partial state into the existing state by unioning the two
    state tables and re-aggregating — sums add, counts add, and any
    derived measure (avg) recomputes from the merged accumulators.
    The exchange carries only aggregate STATE rows (group cardinality),
    never the base data; this is exactly Spark's partial-aggregation
    algebra applied across time instead of across partitions."""
    return (
        old.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("sum_value").alias("sum_value"),
            F.sum("n").alias("n"),
        )
    )


def agg_state(df: DataFrame, keys: list[str]) -> DataFrame:
    """The maintained aggregate's state: additive accumulators only."""
    return df.groupBy(*keys).agg(
        F.sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )


@probe(
    "mv1_incremental_agg",
    oracle="""
    SELECT event_type,
           CAST(strftime(ts, '%Y-%m-%d') AS VARCHAR) AS day,
           round(sum(value), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) / count(*), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def mv1_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the daily
    revenue-by-type view is built from history (days < 20), then a
    late delta (days >= 20) folds in WITHOUT touching the history rows
    — only the two state tables merge. The oracle computes the view
    from scratch over everything; the hash certifies
    incremental == full recompute, the invariant that makes a 100 TB
    view maintainable by processing only each day's arrivals."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    keys = ["event_type", "day"]
    base = agg_state(e.filter(F.col("day") < "2024-01-20"), keys)
    delta = agg_state(e.filter(F.col("day") >= "2024-01-20"), keys)
    merged = merge_agg_state(base, delta, keys)
    return merged.select(
        "event_type",
        "day",
        dround(F.col("sum_value"), 2).alias("revenue"),
        "n",
        dround(F.col("sum_value") / F.col("n"), 4).alias("avg_value"),
    )


@probe(
    "mv3_aggregate_navigation",
    oracle="""
    SELECT event_type,
           CAST(strftime(ts, '%Y-%m') AS VARCHAR) AS month,
           round(sum(value), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) / count(*), 4) AS avg_value,
           round(max(value), 4) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def mv3_aggregate_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate navigation (the OLAP summary-table pattern): the
    MONTHLY report is computed from mv1's DAILY state alone — sums of
    sums, sums of counts, max of maxes, avg derived as sum/count at
    the END (the classic non-additivity trap: averaging daily averages
    would be wrong; re-aggregating the additive accumulators is not).
    The oracle computes the month directly from the fact rows, so the
    hash certifies navigation == full recompute — the invariant that
    lets a 100 TB warehouse serve month/quarter/year queries from a
    per-day state table six orders of magnitude smaller than facts."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    daily = e.groupBy("event_type", "day").agg(
        F.sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
        F.max("value").alias("max_value"),
    )
    monthly = daily.groupBy(
        "event_type", F.substring("day", 1, 7).alias("month")
    ).agg(
        F.sum("sum_value").alias("s"),
        F.sum("n").alias("n"),
        F.max("max_value").alias("mx"),
    )
    return monthly.select(
        "event_type",
        "month",
        dround(F.col("s"), 2).alias("revenue"),
        F.col("n").cast("long").alias("n"),
        dround(F.col("s") / F.col("n"), 4).alias("avg_value"),
        dround(F.col("mx"), 4).alias("max_value"),
    )


@probe(
    "q3_unshipped_orders_topk",
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(strftime(o_orderdate, '%Y-%m-%d') AS VARCHAR) AS orderdate
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_unshipped_orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — top unshipped-order revenue for one segment:
    the segment filter broadcasts through customer, the two date
    predicates push into the orders/lineitem scans, and the top-10
    compiles to TakeOrderedAndProject over the grouped revenue. The
    deterministic o_orderkey tiebreak makes the LIMIT engine-stable."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@probe(
    "q5_local_supplier_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — revenue from LOCAL supply chains (supplier and
    customer in the same nation) within one region. The
    customer-nation = supplier-nation conjunction rides the customer
    join; nation/region broadcast; the fact table again never
    shuffles before the final small groupBy."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@probe(
    "q1b_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1b_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical TPC-H Q1 pricing summary: one wide
    partial-aggregable groupBy over lineitem with the shipdate
    predicate pushed into the scan — at any scale the exchange carries
    four (returnflag, linestatus) groups of accumulators per map task,
    nothing else."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        dround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        dround(F.sum(disc), 2).alias("sum_disc_price"),
        dround(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        dround(F.avg("l_quantity"), 4).alias("avg_qty"),
        dround(F.avg("l_extendedprice"), 4).alias("avg_price"),
        dround(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@probe(
    "q18_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150)
    SELECT c_name, o_orderkey,
           CAST(strftime(o_orderdate, '%Y-%m-%d') AS VARCHAR) AS orderdate,
           round(o_totalprice, 2) AS totalprice,
           CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM orders
    JOIN big      ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON o_orderkey = lineitem.l_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders: a HAVING aggregate
    distills the qualifying order keys first (the exchange carries
    only (orderkey, partial qty)), that SMALL key set broadcasts back
    as a semi-filter, and only then do the wide joins run — the
    aggregate-then-rejoin pattern that keeps the big join's input
    pruned at any scale."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(l.alias("li"), o.o_orderkey == F.col("li.l_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("li.l_quantity").cast("long").alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            dround(F.col("o_totalprice"), 2).alias("totalprice"),
            "total_qty",
        )
    )


@probe(
    "k9_scd2_build",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_id,
             date_trunc('second', ts) AS valid_from,
             row_number() OVER (PARTITION BY user_id, date_trunc('second', ts)
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE user_id % 25 = 3),
    d AS (SELECT user_id, event_id, valid_from FROM ch WHERE rn = 1)
    SELECT user_id, event_id,
           CAST(strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS valid_from,
           CAST(strftime(coalesce(
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from),
             TIMESTAMP '9999-12-31 00:00:00'), '%Y-%m-%d %H:%M:%S') AS VARCHAR)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             IS NULL AS is_current
    FROM d
    """,
)
def k9_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a changelog: each user's change
    events become validity intervals — valid_from = change time,
    valid_to = next change (open current row = far-future sentinel),
    is_current flag. ONE window shuffle on the business key: dedupe
    same-instant changes (latest event wins) and the lead() interval
    close ride the same partitioning. The j6 as-of join is the read
    side of this table; this is the write side the reference's
    truncate-reload dims (`main.py:67-76`) would evolve into."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 3)
    d = e.select(
        "user_id", "event_id", F.date_trunc("second", "ts").alias("valid_from")
    )
    w_dedupe = Window.partitionBy("user_id", "valid_from").orderBy(
        F.col("event_id").desc()
    )
    d = (
        d.withColumn("_rn", F.row_number().over(w_dedupe))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    w = Window.partitionBy("user_id").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w)
    return d.select(
        "user_id",
        "event_id",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(
            F.coalesce(nxt, F.lit("9999-12-31 00:00:00").cast("timestamp")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@probe(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan-aggregate: every predicate
    (date range, discount band, quantity cap) reaches the parquet
    reader as a pushed filter, the projection reads three columns, and
    the result is a single accumulator row — the query whose 100 TB
    cost is exactly one pruned scan."""
    l = _t(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@probe(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — the churn report: customers who returned the
    most revenue in a quarter. Return-flag and date predicates push
    into the scans, nation broadcasts, and the top-20 is a
    TakeOrderedAndProject with the c_custkey tiebreak for engine-stable
    LIMIT semantics."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@probe(
    "q14_promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional revenue share: what fraction of a
    half-year's revenue came from one part type. The part dim
    broadcasts, the date window pushes into the lineitem scan, and the
    CASE rides the same single aggregate as the denominator — one pass,
    one broadcast join, a 1-row result at any scale."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            dround(
                100.0
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            dround(F.sum(rev), 2).alias("total_revenue"),
        )
    )


@probe(
    "q7_bilateral_trade",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, 3
    """,
)
def q7_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume: the nation dim joins in
    TWO ROLES (supplier's and customer's), the country-pair disjunction
    rides the joins, and the grouping adds a derived year. Only the
    nation role dims carry a broadcast hint — nation is a fixed 25-row
    table at every SF. Supplier and customer GROW linearly with SF, so
    they are left unhinted for AQE to pick broadcast-vs-shuffle at
    runtime (ADVICE r07 #3 — same rule as dq2's gated parents).
    lineitem⋈orders is an intrinsic shuffle join — that key shuffle IS
    Q7's cost at 100×, and no plan avoids it. The final groupBy is
    tiny (nation-pair × year)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
    )


@probe(
    "o7_rank_distributions",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             percent_rank() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS pr,
             cume_dist() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS cd
      FROM customer)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(pr), 6) AS mean_pr,
           round(max(cd), 6) AS max_cd,
           CAST(sum(CASE WHEN pr >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top_decile
    FROM r GROUP BY c_mktsegment
    """,
)
def o7_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions (percent_rank, cume_dist) per
    segment — the remaining O5-family analytics: where each customer's
    balance sits within its segment, summarized per segment. The
    c_custkey tiebreak keeps rank assignment engine-deterministic; one
    window shuffle on the segment key."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    r = c.select(
        "c_mktsegment",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.avg("pr"), 6).alias("mean_pr"),
        dround(F.max("cd"), 6).alias("max_cd"),
        F.sum((F.col("pr") >= 0.9).cast("long")).alias("n_top_decile"),
    )


# ---------------------------------------------------------------------------
# Q-suite round 8: eight more TPC-H shapes over the columns the testdata
# actually carries (no partsupp / commitdate / shipmode / phone —
# Q2/Q11/Q12/Q16/Q20/Q21 need those and are out of reach by data, not
# by engine). Together with Q1/Q3/Q5/Q6/Q7/Q10/Q14/Q18 this covers the
# remaining relational shapes: EXISTS/NOT-EXISTS decorrelation,
# correlated scalar aggregates, two-level aggregation, ties-included
# argmax, and disjunctive multi-predicate join filters.
# ---------------------------------------------------------------------------


@probe(
    "q4_late_shipment_exists",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join: count
    orders per priority having at least one line shipped more than 60
    days after the order date. The correlated inequality rides the
    semi join as a join filter (never a post-join dedup — semi joins
    emit each order once regardless of matching line count), and the
    shuffle keys on l_orderkey/o_orderkey, Q4's intrinsic cost."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@probe(
    "q8_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           round(sum(CASE WHEN sn.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region    ON cn.n_regionkey = r_regionkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: of the STANDARD-part
    revenue sold to ASIA customers, what fraction was supplied by
    NATION_3, per order year. The share's numerator is a CASE inside
    the same aggregate as its denominator (one pass, no self-join);
    nation/region are fixed-size dims and carry broadcast hints, while
    part/supplier/customer grow with SF and are left to AQE (the q7
    rule). The date window pushes into the orders scan."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            dround(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
    )


@probe(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity), 2) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type IN ('ECONOMY', 'PROMO')
    GROUP BY n_name, 2
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by supplier nation and
    year, adapted to this schema: with no partsupp table, unit cost is
    modeled as 60 % of p_retailprice (the shape under test is the
    4-table fact join + derived-measure aggregate, not the cost
    model). p_type is an IN-list pushed into the part scan; nation
    broadcasts; lineitem⋈orders is the intrinsic shuffle."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type").isin("ECONOMY", "PROMO"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dround(F.sum(profit), 2).alias("profit"))
    )


@probe(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — two-level aggregation over a FILTERED left
    outer join: how many customers placed exactly N non-low-priority
    orders, customers with none included (c_count = 0 via the outer
    null). The priority filter must ride the JOIN CONDITION, not a
    WHERE (a post-join filter would drop the no-match customers). One
    shuffle on the customer key, then a tiny re-aggregation on the
    count value."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@probe(
    "q15_top_revenue_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey),
    ranked AS (
      SELECT supplier_no, total_revenue,
             rank() OVER (ORDER BY total_revenue DESC) AS rnk
      FROM revenue)
    SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
    FROM supplier JOIN ranked ON s_suppkey = supplier_no
    WHERE rnk = 1
    """,
)
def q15_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — ties-included argmax over a derived view: the
    supplier(s) with the quarter's highest lineitem revenue. Q15's
    `= (SELECT max(...))` is expressed literally: a ONE-ROW
    ``max(total_revenue)`` aggregate broadcast back over the revenue
    view (the x13 quantile-gate pattern) and an exact equality filter —
    both branches sum the same doubles, so ties survive exactly. This
    keeps every stage fully parallel; the naive alternative
    (``rank() OVER (ORDER BY ...)`` with no partitionBy) funnels ALL
    |supplier| aggregate rows through one task, which at 100 TB
    (~10M suppliers) is the classic single-partition-window
    bottleneck. The supplier dim joins after the max gate, so only
    winners join."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    # Materialize the revenue view ONCE (lazy localCheckpoint): the max
    # branch and the filter branch then read the IDENTICAL doubles, so
    # the exact-equality gate cannot be broken by the two branches
    # merging partial float sums in different fetch orders (Catalyst
    # does not reuse this exchange — verified: 0 ReusedExchange nodes —
    # and sum() over doubles is order-sensitive at the ULP level). At
    # cluster scale use reliable checkpoint() for executor-loss safety.
    revenue = revenue.localCheckpoint(eager=False)
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    top = (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .drop("max_revenue")
    )
    return top.join(s, F.col("supplier_no") == F.col("s_suppkey")).select(
        "s_suppkey", "s_name", dround(F.col("total_revenue"), 2).alias("total_revenue")
    )


@probe(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pavg AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS q_thresh
      FROM lineitem GROUP BY l_partkey)
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pavg ON pavg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#13' AND l_quantity < q_thresh
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar aggregate decorrelated into
    a join: revenue from Brand#13 lines whose quantity sits below 20 %
    of that part's average quantity. The per-part average is ONE
    aggregate over lineitem joined back on the part key (never a
    per-row subquery); both the threshold side and the probe side
    shuffle on l_partkey, so AQE can co-partition them. The brand
    filter pushes into the part scan and prunes the probe side via the
    join."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    pavg = l.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("q_thresh")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(pavg, l.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("q_thresh"))
        .agg(dround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@probe(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs spanning both join sides: three
    brand/size/quantity bands, any of which qualifies a line. Catalyst
    extracts the common single-side implications (p_brand IN (...),
    l_quantity BETWEEN 1 AND 30) and pushes them into the respective
    scans, so the join sees pre-filtered inputs even though the full
    disjunction can only be evaluated post-join — the optimization this
    query exists to test."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#11") & sz.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#13") & sz.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#15") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@probe(
    "q22_idle_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar subquery + NOT EXISTS: above-average-
    balance customers with no order since 2000 ("churned"; in this
    data every customer has SOME order, so Q22's literal never-ordered
    predicate would certify an empty set — the date window keeps the
    anti-join population real at both test SFs, 55/646 rows). The
    schema carries no phone, so nationkey stands in for the country
    code. The global average is a 1-row aggregate broadcast by
    crossJoin; NOT EXISTS decorrelates to a LEFT ANTI join keyed on
    the customer key with the date filter pushed into the orders scan.
    No correlated per-row execution anywhere."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dround(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- TPC-H completion set (round 12): q2, q11, q12, q16, q20, q21 ----
#
# The test schema ships no partsupp table (TESTDATA.md), so the four
# partsupp-dependent shapes derive one deterministically from the
# lineitem fact: the supplier-supplies-part relation is the DISTINCT
# (l_partkey, l_suppkey) pairs that actually traded, and
# cost/availability are exact integer functions of the keys — BIGINT
# end-to-end, so the Spark and DuckDB sides agree bit-for-bit with no
# float order-sensitivity anywhere (same discipline as q9's
# p_retailprice cost model). The SHAPES under test (correlated min
# subquery, scalar-subquery HAVING, NOT-IN exclusion, nested IN
# chains, EXISTS/NOT-EXISTS self-join) are unchanged from the spec.

_PARTSUPP_SQL = """partsupp AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             1 + (l_partkey * 7 + l_suppkey * 13) % 1000 AS ps_supplycost,
             1 + (l_partkey * 31 + l_suppkey * 17) % 500 AS ps_availqty
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp relation (see block comment above). One
    shuffle (the pair-distinct); everything else is a projection."""
    pairs = (
        _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    return pairs.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        (1 + (F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 1000).alias(
            "ps_supplycost"
        ),
        (1 + (F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 500).alias(
            "ps_availqty"
        ),
    )


@probe(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    eu AS (
      SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
      FROM partsupp
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    pf AS (SELECT p_partkey, p_type FROM part
           WHERE p_size <= 10 AND p_type LIKE '%ANDARD'),
    eu2 AS (SELECT eu.*, p_type FROM eu JOIN pf ON ps_partkey = p_partkey),
    mn AS (SELECT ps_partkey AS mn_partkey, min(ps_supplycost) AS min_cost
           FROM eu2 GROUP BY ps_partkey)
    SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey, p_type,
           ps_supplycost
    FROM eu2 JOIN mn ON ps_partkey = mn_partkey AND ps_supplycost = min_cost
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated min-subquery over a 4-table dim
    chain: for each small STANDARD-type part, the European supplier(s)
    offering the minimum supply cost. The correlated
    ``= (SELECT min(...) WHERE ps_partkey = p_partkey)`` decorrelates
    into ONE groupBy over the Europe-filtered supply view joined back
    on (partkey, cost) — the cost is BIGINT so the equality gate is
    exact (no q15-style float-merge hazard). The part filter
    broadcasts into the supply view BEFORE the min aggregate (the min
    per part is independent of the part filter, so pruning first is
    semantics-preserving and drops the agg input by ~50×); nation and
    region broadcast as true dims. Reference: the reference's
    analytics layer is full BigQuery SQL (README.md:79-97), so
    full-dialect decorrelation parity is the bar."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    pf = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 10) & F.col("p_type").like("%ANDARD"))
        .select("p_partkey", "p_type")
    )
    eu2 = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(pf), ps.ps_partkey == pf.p_partkey)
        .select(
            "ps_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name", "p_type"
        )
    )
    mn = eu2.groupBy(F.col("ps_partkey").alias("mn_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        eu2.join(
            mn,
            (eu2.ps_partkey == mn.mn_partkey)
            & (eu2.ps_supplycost == mn.min_cost),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_type",
            "ps_supplycost",
        )
    )


@probe(
    "q11_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    g AS (
      SELECT ps_partkey, ps_supplycost * ps_availqty AS v
      FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7')
    SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS stock_value
    FROM g GROUP BY ps_partkey
    HAVING sum(v) * 1000 > (SELECT sum(v) FROM g)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — scalar-subquery HAVING: parts whose stock
    value at NATION_7 suppliers exceeds 1/1000 of that nation's total
    stock value. The scalar total is a ONE-ROW aggregate broadcast
    back over the per-part aggregate (never a per-group subquery);
    the threshold compare is pure BIGINT (``sum*1000 > total``, no
    division) so both engines agree exactly. Both aggregates read the
    same supply view; at cluster scale the per-part aggregate is the
    only real shuffle — the total folds map-side into one row."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    g = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
        )
    )
    tot = g.agg(F.sum("v").alias("total_v"))
    return (
        g.groupBy("ps_partkey")
        .agg(F.sum("v").alias("stock_value"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("stock_value") * 1000 > F.col("total_v"))
        .select("ps_partkey", "stock_value")
    )


@probe(
    "q12_shipclass_priority",
    oracle="""
    SELECT ship_class,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT CASE (l_partkey + l_suppkey) % 3
               WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' ELSE 'RAIL'
             END AS ship_class,
             o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1996-01-01')
    GROUP BY ship_class
    """,
)
def q12_shipclass_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — join + dual conditional aggregate: late 1995
    shipments split into high/low priority counts per ship class. The
    schema carries no l_shipmode/l_commitdate/l_receiptdate, so ship
    class derives deterministically from the part/supplier keys and
    "late" is shipped >60 days after the order date (both exact
    timestamp arithmetic in either engine, UTC-pinned). The shipdate
    window pushes into the lineitem scan; the late predicate rides the
    post-join filter; the two CASE sums fold in ONE hash aggregate
    over three groups."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    key3 = (F.col("l_partkey") + F.col("l_suppkey")) % 3
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(
            F.when(key3 == 0, "MAIL")
            .when(key3 == 1, "SHIP")
            .otherwise("RAIL")
            .alias("ship_class"),
            hi.alias("hi"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("hi"), 0).otherwise(1)).alias("low_line_count"),
        )
    )


@probe(
    "q16_supplier_part_counts",
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1,4,7,10,13,16,19,22)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — NOT-IN exclusion + count-distinct rollup:
    how many distinct non-excluded suppliers offer each qualifying
    (brand, type, size). The schema has no s_comment, so Q16's
    complaint exclusion becomes the negative-balance suppliers — the
    SHAPE (NOT IN subquery → LEFT ANTI join on a broadcast-small
    exclusion list) is identical. The part predicate trio pushes into
    the broadcast part dim; count(DISTINCT) shuffles once on the
    grouping key with partial distinct-aggregation map-side."""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@probe(
    "q20_potential_promotion",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1996-01-01'
      GROUP BY l_partkey, l_suppkey)
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        WHERE ps_partkey IN (SELECT p_partkey FROM part
                             WHERE p_name LIKE 'small%' OR p_name LIKE 'hot%')
          AND ps_availqty > 0.5 * qty)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested IN chains decorrelated to semi-joins:
    NATION_3 suppliers holding excess stock (availqty > half of what
    they shipped in 1995) of small/hot parts. The inner correlated
    ``(SELECT 0.5*sum(l_quantity) WHERE l_partkey=.. AND l_suppkey=..)``
    is ONE groupBy over the date-pruned lineitem joined on the pair
    key; both IN chains become semi-joins (part list broadcast;
    qualifying-supplier set broadcast into the final semi). l_quantity
    is integral doubles summed exactly (< 2^53), so the half-compare
    is deterministic in both engines."""
    ps = _partsupp(spark, sf_dir)
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%") | F.col("p_name").like("hot%"))
        .select("p_partkey")
    )
    qualifying = (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .join(F.broadcast(parts), ps.ps_partkey == parts.p_partkey, "left_semi")
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(qualifying), s.s_suppkey == qualifying.ps_suppkey, "left_semi"
        )
        .select("s_name", "s_acctbal")
    )


@probe(
    "q21_suppliers_kept_waiting",
    oracle="""
    WITH lo AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F')
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM lo l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5' AND l1.late
      AND EXISTS (SELECT 1 FROM lo l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lo l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
    GROUP BY s_name
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — multi-way EXISTS / NOT-EXISTS self-join,
    decorrelated: NATION_5 suppliers who were the SOLE late supplier
    on a multi-supplier finished order ("late" = shipped >60 days
    after order date; the schema has no commit/receipt dates). Both
    correlated quantifiers collapse into ONE per-order aggregate over
    the same line view — EXISTS(other supplier) ⇔ distinct-supplier
    count > 1, NOT EXISTS(other LATE supplier) ⇔ distinct-LATE-
    supplier count = 1 given l1 itself is late — so the self-join
    triple becomes a single shuffle on l_orderkey plus one join back
    (AQE co-partitions both sides on the same key; zero nested-loop
    execution). The nation filter broadcasts into the l1 side BEFORE
    the per-order join, so only NATION_5 lines carry through."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lo = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    l1 = (
        lo.filter(F.col("late"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_orderkey", "s_name")
    )
    return (
        l1.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@probe(
    "o8_grouping_sets",
    oracle="""
    SELECT c_mktsegment, o_orderstatus,
           CAST(GROUPING(c_mktsegment, o_orderstatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus),
                            (c_mktsegment), (o_orderstatus))
    """,
)
def o8_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 — explicit GROUPING SETS (the general lattice ROLLUP/CUBE are
    sugar for) with grouping_id disambiguation: (seg, status), (seg),
    (status) — NOT the full cube, so the optimizer expands exactly
    three grouping sets in one Expand + aggregate pass, and gid tells
    a NULL group value apart from a NULL data value. Both engines
    compute the same grouping bitmask over the same column order, so
    the hash certifies the lattice expansion itself."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    joined.createOrReplaceTempView("o8_joined")
    return joined.sparkSession.sql(
        """
        SELECT c_mktsegment, o_orderstatus,
               CAST(grouping_id(c_mktsegment, o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n,
               round(sum(o_totalprice) * 100) / 100 AS revenue
        FROM o8_joined
        GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus),
                                (c_mktsegment), (o_orderstatus))
        """
    )


@probe(
    "mv2_cdc_view_maintenance",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value
      FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1 AND event_type <> 'error')
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value) * 100) / 100 AS revenue
    FROM latest GROUP BY event_type
    """,
)
def mv2_cdc_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV2 — materialized-view maintenance under RETRACTIONS, the
    complement of mv1's append-only deltas: the view is an aggregate
    over the LATEST-WINS live state of a CDC log ('error' rows are
    delete tombstones), so a late change does not just add — it must
    retract the key's previous contribution (possibly from a different
    group) before adding the new one. The view is built from the
    pre-cutover snapshot, then maintained from signed (+new, -old)
    delta rows derived per changed key; the oracle aggregates the
    final live state directly, so the hash certifies
    maintained == recomputed, the invariant that lets a 100 TB view
    absorb updates/deletes by touching only changed keys. Plan shape:
    two latest-wins windows (one shuffle each on user_id), a per-key
    full-outer change join, and a groups-sized delta fold — the fact
    log is never re-aggregated."""
    from pyspark.sql import Window

    cutover = "2024-01-15"
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def winners(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type", "value")
        )

    old_w = winners(e.filter(F.col("ts") < cutover))
    new_w = winners(e)
    old_live = old_w.filter(F.col("event_type") != "error")

    # The view's base state, from the pre-cutover snapshot only.
    base = old_live.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )

    # Signed deltas for keys whose winning row changed: retract the old
    # live contribution, add the new live one. Keys with an unchanged
    # winner emit nothing — the maintenance cost is O(changed keys).
    o = old_w.select(
        "user_id",
        F.col("event_id").alias("o_id"),
        F.col("event_type").alias("o_type"),
        F.col("value").alias("o_value"),
    )
    nw = new_w.select(
        "user_id",
        F.col("event_id").alias("n_id"),
        F.col("event_type").alias("n_type"),
        F.col("value").alias("n_value"),
    )
    changed = o.join(nw, "user_id", "full_outer").filter(
        ~F.col("o_id").eqNullSafe(F.col("n_id"))
    )
    retract = changed.filter(
        F.col("o_type").isNotNull() & (F.col("o_type") != "error")
    ).select(
        F.col("o_type").alias("event_type"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("o_value")).alias("dv"),
    )
    add = changed.filter(
        F.col("n_type").isNotNull() & (F.col("n_type") != "error")
    ).select(
        F.col("n_type").alias("event_type"),
        F.lit(1).cast("long").alias("dn"),
        F.col("n_value").alias("dv"),
    )
    deltas = retract.unionByName(add).groupBy("event_type").agg(
        F.sum("dn").alias("dn"), F.sum("dv").alias("dv")
    )

    maintained = (
        base.join(deltas, "event_type", "full_outer")
        .select(
            "event_type",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (
                F.coalesce("sum_value", F.lit(0.0))
                + F.coalesce("dv", F.lit(0.0))
            ).alias("sum_value"),
        )
        .filter(F.col("n") > 0)
    )
    return maintained.select(
        "event_type", "n", dround("sum_value", 2).alias("revenue")
    )


@probe(
    "f16_iban_mod97",
    oracle="""
    WITH base AS (
      SELECT c_custkey,
             lpad(CAST(c_custkey % 10000000000 AS VARCHAR), 10, '0')
               || '30012024' AS bban
      FROM customer),
    pre AS (
      SELECT c_custkey, bban,
             list_reduce(list_transform(range(1, len(bban || 'DE00') + 1),
               i -> CAST(CASE WHEN substr(bban || 'DE00', CAST(i AS INT), 1)
                              BETWEEN '0' AND '9'
                         THEN substr(bban || 'DE00', CAST(i AS INT), 1)
                         ELSE CAST(ascii(substr(bban || 'DE00', CAST(i AS INT), 1)) - 55
                                   AS VARCHAR) END AS VARCHAR)),
               (a, c) -> a || c) AS pre_exp
      FROM base),
    chk AS (
      SELECT c_custkey, bban,
             98 - list_reduce(list_transform(range(1, len(pre_exp) + 1),
               i -> CAST(substr(pre_exp, CAST(i AS INT), 1) AS BIGINT)),
               (a, d) -> (a * 10 + d) % 97) AS check0
      FROM pre),
    ib AS (
      SELECT c_custkey,
             'DE' || lpad(CAST(CASE WHEN c_custkey % 4 = 0
                               THEN check0 + 1 ELSE check0 END AS VARCHAR), 2, '0')
                  || bban AS iban
      FROM chk),
    re AS (
      SELECT c_custkey, iban,
             substr(iban, 5) || substr(iban, 1, 4) AS rearr
      FROM ib),
    ex AS (
      SELECT c_custkey, iban,
             list_reduce(list_transform(range(1, len(rearr) + 1),
               i -> CAST(CASE WHEN substr(rearr, CAST(i AS INT), 1) BETWEEN '0' AND '9'
                         THEN substr(rearr, CAST(i AS INT), 1)
                         ELSE CAST(ascii(substr(rearr, CAST(i AS INT), 1)) - 55
                                   AS VARCHAR) END AS VARCHAR)),
               (a, c) -> a || c) AS expanded
      FROM re)
    SELECT c_custkey, iban,
           list_reduce(list_transform(range(1, len(expanded) + 1),
             i -> CAST(substr(expanded, CAST(i AS INT), 1) AS BIGINT)),
             (a, d) -> (a * 10 + d) % 97) = 1 AS valid
    FROM ex
    """,
)
def f16_iban_mod97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 — IBAN mod-97 check-digit validation (ISO 7064), the
    account-number sibling of x3l's Luhn card scrub: rearrange (move
    the country+check prefix to the tail), map letters to two-digit
    codes (A=10..Z=35), and fold the digit string through
    (acc*10 + d) % 97 — the fold never materializes the 20+-digit
    integer, so it runs in codegen'd long arithmetic at any IBAN
    length. The corpus synthesizes German IBANs with CORRECT check
    digits computed by the same fold, then corrupts every fourth
    customer's by +1 (never re-validates under mod 97); the oracle
    replays synthesis AND validation, so the hash certifies the
    letter map, the rearrangement, and the modular fold end-to-end."""

    def expand(col: str) -> F.Column:
        return F.expr(
            f"array_join(transform(sequence(1, length({col})),"
            f" i -> CASE WHEN substring({col}, i, 1) >= '0'"
            f" AND substring({col}, i, 1) <= '9'"
            f" THEN substring({col}, i, 1)"
            f" ELSE CAST(ascii(substring({col}, i, 1)) - 55 AS STRING) END), '')"
        )

    def mod97(col: str) -> F.Column:
        return F.expr(
            f"aggregate(transform(sequence(1, length({col})),"
            f" i -> CAST(substring({col}, i, 1) AS BIGINT)),"
            f" CAST(0 AS BIGINT), (a, d) -> (a * 10 + d) % 97)"
        )

    c = load_table(spark, sf_dir, "customer")
    out = (
        c.select(
            "c_custkey",
            F.concat(
                F.lpad((F.col("c_custkey") % 10000000000).cast("string"), 10, "0"),
                F.lit("30012024"),
            ).alias("bban"),
        )
        .withColumn("pre", F.concat("bban", F.lit("DE00")))
        .withColumn("pre_exp", expand("pre"))
        .withColumn("check0", F.lit(98) - mod97("pre_exp"))
        .withColumn(
            "iban",
            F.concat(
                F.lit("DE"),
                F.lpad(
                    F.when(F.col("c_custkey") % 4 == 0, F.col("check0") + 1)
                    .otherwise(F.col("check0"))
                    .cast("string"),
                    2,
                    "0",
                ),
                F.col("bban"),
            ),
        )
        .withColumn(
            "rearr",
            F.concat(F.expr("substring(iban, 5)"), F.substring("iban", 1, 4)),
        )
        .withColumn("expanded", expand("rearr"))
        .withColumn("valid", mod97("expanded") == 1)
    )
    return out.select("c_custkey", "iban", "valid")


@probe(
    "a19_basket_cooccurrence",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, p_name
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    item_n AS (SELECT p_name, count(*) AS n_item FROM items GROUP BY p_name),
    pair_n AS (
      SELECT a.p_name AS item_a, b.p_name AS item_b, count(*) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.p_name < b.p_name
      GROUP BY 1, 2)
    SELECT item_a, item_b, CAST(n_pair AS BIGINT) AS n_pair,
           round(n_pair * 1.0 / n * 1000000) / 1000000 AS support,
           round(n_pair * 1.0 / ia.n_item * 1000000) / 1000000 AS confidence,
           round(n_pair * 1.0 * n / (ia.n_item * ib.n_item) * 1000000) / 1000000
             AS lift
    FROM pair_n
    JOIN item_n ia ON ia.p_name = item_a
    JOIN item_n ib ON ib.p_name = item_b
    CROSS JOIN n_orders
    WHERE n_pair >= 20
    """,
)
def a19_basket_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 — market-basket co-occurrence: per-order item sets (orders x
    part names), within-basket pair counts, and the association-rule
    panel (support, confidence a->b, lift) for pairs above a minimum
    support count. Pairs generate INSIDE each basket via the LSH
    collect-set/explode pattern — work is Σ |basket|², never a global
    self-join — and the item/total counts broadcast back onto the
    pair relation. This is the one-level Apriori step; at 100 TB the
    basket fold is the only heavy shuffle, pair cardinality is bounded
    by item-vocabulary², and raising the support floor prunes before
    anything joins."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_name")
        .distinct()
    )
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_name")).alias("names")
    )
    pair_gen = (
        "flatten(transform(names, (a, i) -> "
        "transform(slice(names, i + 2, size(names)), b -> "
        "struct(a AS item_a, b AS item_b))))"
    )
    pair_n = (
        baskets.select(F.explode(F.expr(pair_gen)).alias("p"))
        .groupBy("p.item_a", "p.item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 20)
    )
    item_n = items.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_item"))
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    out = (
        pair_n.join(
            F.broadcast(item_n.select(F.col("p_name").alias("item_a"),
                                      F.col("n_item").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(item_n.select(F.col("p_name").alias("item_b"),
                                      F.col("n_item").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    return out.select(
        "item_a",
        "item_b",
        "n_pair",
        dround(F.col("n_pair") / F.col("n"), 6).alias("support"),
        dround(F.col("n_pair") / F.col("n_a"), 6).alias("confidence"),
        dround(
            F.col("n_pair") * F.col("n") / (F.col("n_a") * F.col("n_b")), 6
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# A20 — marketing attribution (first-touch / last-touch): credit each
# conversion to the touch that led it. The batch twin of t8's streaming
# attribution join: purchases join the user's click/view touches inside
# a 7-day lookback, two windows pick the earliest and latest touch per
# conversion (full (ts, event_id) tie-breaks), and the rollup reports
# per-model channel credit with share-of-model. The join is equi-keyed
# on user_id — per-user touch lists are bounded (~50 events/user), so
# the pair space is Σ purchases·touches per user, never users²; at
# 100 TB both sides partition on user_id and the lookback predicate
# prunes inside each key group.
# ---------------------------------------------------------------------------


@probe(
    "a20_touch_attribution",
    oracle="""
    WITH p AS (SELECT user_id, event_id AS pid, ts AS pt FROM events
               WHERE event_type = 'purchase'),
    t AS (SELECT user_id, event_type AS channel, ts AS tt, event_id
          FROM events WHERE event_type IN ('click', 'view')),
    j AS (SELECT p.pid, t.channel, t.tt, t.event_id
          FROM p JOIN t ON p.user_id = t.user_id
           AND t.tt <= p.pt AND t.tt >= p.pt - INTERVAL 7 DAY),
    f AS (SELECT pid, channel, row_number() OVER (PARTITION BY pid
            ORDER BY tt, event_id) AS rn FROM j),
    l AS (SELECT pid, channel, row_number() OVER (PARTITION BY pid
            ORDER BY tt DESC, event_id DESC) AS rn FROM j),
    u AS (SELECT 'first_touch' AS model, channel FROM f WHERE rn = 1
          UNION ALL
          SELECT 'last_touch', channel FROM l WHERE rn = 1)
    SELECT model, channel, CAST(count(*) AS BIGINT) AS n_conversions,
           round(count(*) / CAST(sum(count(*))
                 OVER (PARTITION BY model) AS DOUBLE), 4) AS share
    FROM u GROUP BY 1, 2
    """,
)
def a20_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 — first- and last-touch conversion attribution (block
    comment above): per purchase, the earliest and the latest
    click/view touch by the same user within a 7-day lookback; per
    (model, channel), conversion counts and the model's credit share.
    Fully deterministic ((ts, event_id) tie-breaks), so the oracle
    replays the lookback join, both windows, and the share division."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pt")
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("tt"),
        "event_id",
    )
    j = p.join(t, "user_id").filter(
        (F.col("tt") <= F.col("pt"))
        & (F.col("tt") >= F.col("pt") - F.expr("INTERVAL 7 DAYS"))
    )
    wf = Window.partitionBy("pid").orderBy(F.asc("tt"), F.asc("event_id"))
    wl = Window.partitionBy("pid").orderBy(F.desc("tt"), F.desc("event_id"))
    first = (
        j.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select(F.lit("first_touch").alias("model"), "channel")
    )
    last = (
        j.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select(F.lit("last_touch").alias("model"), "channel")
    )
    counts = (
        first.unionAll(last)
        .groupBy("model", "channel")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )
    wm = Window.partitionBy("model")
    return counts.select(
        "model",
        "channel",
        "n_conversions",
        dround(
            F.col("n_conversions")
            / F.sum("n_conversions").over(wm).cast("double"),
            4,
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# O9 — WEIGHTED median: the robust central-tendency statistic percentile
# functions don't give you (each row counts by its weight — "median
# price per UNIT SOLD", not per line item). Construction: collapse to
# per-(group, value) weight sums, one cumulative-weight window per
# group, pick the smallest value whose cumulative weight reaches half
# the total (the lower weighted median). All comparisons are on exact
# integer-valued weight sums (TPC-H quantities are whole numbers), and
# the output value is carried verbatim — no float arithmetic anywhere,
# so the hash is engine-exact by construction.
# ---------------------------------------------------------------------------


@probe(
    "o9_weighted_median",
    oracle="""
    WITH per AS (SELECT l_returnflag, l_extendedprice AS v,
                        sum(l_quantity) AS w
                 FROM lineitem GROUP BY 1, 2),
    tot AS (SELECT l_returnflag, sum(w) AS tw,
                   CAST(count(*) AS BIGINT) AS n_values
            FROM per GROUP BY 1),
    cum AS (SELECT per.*, sum(w) OVER (PARTITION BY l_returnflag
                                       ORDER BY v
                                       ROWS UNBOUNDED PRECEDING) AS cw
            FROM per)
    SELECT cum.l_returnflag,
           min(v) AS weighted_median,
           CAST(min(tot.tw) AS BIGINT) AS total_weight,
           min(tot.n_values) AS n_values
    FROM cum JOIN tot USING (l_returnflag)
    WHERE 2 * cw >= tot.tw
    GROUP BY cum.l_returnflag
    """,
)
def o9_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 — quantity-weighted median extended price per return flag
    (block comment above): the lower weighted median via one
    per-group cumulative-weight window over the collapsed
    (group, value) relation — never a per-row sort of the raw fact.
    The oracle states the identical construction; both engines compare
    exact integer-valued weight sums, and the median value itself is
    selected, not computed."""
    from pyspark.sql import Window

    per = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", F.col("l_extendedprice").alias("v"))
        .agg(F.sum("l_quantity").alias("w"))
    )
    tot = per.groupBy("l_returnflag").agg(
        F.sum("w").alias("tw"), F.count(F.lit(1)).alias("n_values")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per.withColumn("cw", F.sum("w").over(wcum))
    return (
        cum.join(tot, "l_returnflag")
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").alias("weighted_median"),
            F.min("tw").cast("long").alias("total_weight"),
            F.min("n_values").alias("n_values"),
        )
    )


# ---------------------------------------------------------------------------
# A23 — revenue concentration panel: Gini coefficient + top-decile
# share of per-customer revenue, by region — the inequality statistics
# behind "how concentrated is our revenue" dashboards. All sums run on
# EXACT INTEGER CENTS (the a11 idiom: round(price*100)::long — TPC-H
# prices carry two decimals, so the cast is exact), the rank-weighted
# Gini numerator Σ i·xᵢ is a bigint, and only the two final ratios are
# floating (rounded to 6). Ranks come from a per-region window over
# the customer-revenue relation (customers-per-region sized, not
# fact-sized); ties break by customer key, so both engines rank
# identically.
# ---------------------------------------------------------------------------


@probe(
    "a23_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, c.c_custkey,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2),
    ranked AS (SELECT region, cents,
                      row_number() OVER (PARTITION BY region
                                         ORDER BY cents, c_custkey) AS i,
                      count(*) OVER (PARTITION BY region) AS n,
                      sum(cents) OVER (PARTITION BY region) AS s
               FROM rev),
    g AS (SELECT region, max(n) AS n_customers, max(s) AS total_cents,
                 sum(i * cents) AS num
          FROM ranked GROUP BY region),
    topd AS (SELECT region, sum(cents) AS top_cents
             FROM ranked
             WHERE i > n - CAST(ceil(n / 10.0) AS BIGINT)
             GROUP BY region)
    SELECT g.region,
           CAST(n_customers AS BIGINT) AS n_customers,
           -- window sum over BIGINT types as HUGEINT in DuckDB; the
           -- Spark side is a long. The driver's hasher is numeric-type-
           -- tagged, so without this cast the values hash differently
           -- even when identical (the round-15 a23 red).
           CAST(total_cents AS BIGINT) AS total_cents,
           round(2.0 * num / (n_customers * CAST(total_cents AS DOUBLE))
                 - (n_customers + 1.0) / n_customers, 6) AS gini,
           round(topd.top_cents / CAST(total_cents AS DOUBLE), 6)
             AS top_decile_share
    FROM g JOIN topd USING (region)
    """,
)
def a23_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 — per-region Gini coefficient and top-decile revenue share
    over per-customer order totals (block comment above). Gini from
    the rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n on ascending-ranked
    exact cents; the top decile is the highest ceil(n/10) customers.
    The oracle replays ranks, integer sums, and both ratios."""
    from pyspark.sql import Window

    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            )
        )
    )
    wr = Window.partitionBy("region").orderBy("cents", "c_custkey")
    wall = Window.partitionBy("region")
    ranked = (
        rev.withColumn("i", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("s", F.sum("cents").over(wall))
    )
    g = ranked.groupBy("region").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.max("s").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).alias("num"),
    )
    topd = (
        ranked.filter(
            F.col("i") > F.col("n") - F.ceil(F.col("n") / 10.0).cast("long")
        )
        .groupBy("region")
        .agg(F.sum("cents").alias("top_cents"))
    )
    return g.join(topd, "region").select(
        "region",
        "n_customers",
        "total_cents",
        dround(
            2.0 * F.col("num") / (F.col("n_customers") * F.col("total_cents").cast("double"))
            - (F.col("n_customers") + 1.0) / F.col("n_customers"),
            6,
        ).alias("gini"),
        dround(
            F.col("top_cents") / F.col("total_cents").cast("double"), 6
        ).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# A25 — price-volume-mix bridge: decompose the month-over-month
# revenue change per brand into a volume effect (quantity change at
# old unit price) and a price effect (unit-price change at new
# quantity) — the waterfall chart every finance review opens with.
# The Laspeyres/Paasche split used here is an exact identity:
# (q₂−q₁)·p₁ + (p₂−p₁)·q₂ = r₂−r₁ with p = r/q. Revenue accumulates
# as exact deci-mills bigints (extprice and discount both carry two
# decimals, so price·(1−disc) has exactly four), quantities as exact
# bigints; only the two per-brand unit-price ratios and effect
# products are floating. ONE scan with conditional aggregation — both
# months come out of a single partial-aggregable groupBy, no join, no
# window; at 100 TB the month predicate prunes partitions and the
# brand dimension broadcasts.
# ---------------------------------------------------------------------------

_A25_M1 = ("1995-03-01", "1995-04-01")
_A25_M2 = ("1995-04-01", "1995-05-01")


@probe(
    "a25_price_volume_mix",
    oracle=f"""
    WITH li AS (
      SELECT p.p_brand,
             l.l_shipdate >= DATE '{_A25_M2[0]}' AS in_m2,
             CAST(l.l_quantity AS BIGINT) AS qty,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS rev_dm
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= DATE '{_A25_M1[0]}'
        AND l.l_shipdate < DATE '{_A25_M2[1]}'),
    agg AS (
      SELECT p_brand,
             CAST(coalesce(sum(qty) FILTER (WHERE NOT in_m2), 0) AS BIGINT)
               AS qty_m1,
             CAST(coalesce(sum(rev_dm) FILTER (WHERE NOT in_m2), 0) AS BIGINT)
               AS rev_m1_dm,
             CAST(coalesce(sum(qty) FILTER (WHERE in_m2), 0) AS BIGINT)
               AS qty_m2,
             CAST(coalesce(sum(rev_dm) FILTER (WHERE in_m2), 0) AS BIGINT)
               AS rev_m2_dm
      FROM li GROUP BY p_brand
      HAVING sum(qty) FILTER (WHERE NOT in_m2) > 0
         AND sum(qty) FILTER (WHERE in_m2) > 0)
    SELECT p_brand, qty_m1, rev_m1_dm, qty_m2, rev_m2_dm,
           rev_m2_dm - rev_m1_dm AS delta_dm,
           round((qty_m2 - qty_m1)
                 * (rev_m1_dm / CAST(qty_m1 AS DOUBLE)), 4)
             AS volume_effect_dm,
           round((rev_m2_dm / CAST(qty_m2 AS DOUBLE)
                  - rev_m1_dm / CAST(qty_m1 AS DOUBLE)) * qty_m2, 4)
             AS price_effect_dm
    FROM agg
    """,
)
def a25_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25 — per-brand revenue bridge between two adjacent ship months
    (block comment above): exact-integer month totals from one
    conditional aggregation, then the volume/price split whose two
    terms reconstruct the exact delta by construction. Brands active
    in both months only (a unit price needs a nonzero quantity). The
    oracle replays the deci-mills rounding, both FILTER aggregates,
    and the effect arithmetic."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_A25_M1[0]))
        & (F.col("l_shipdate") < F.lit(_A25_M2[1]))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    in_m2 = F.col("l_shipdate") >= F.lit(_A25_M2[0])
    rev_dm = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    qty = F.col("l_quantity").cast("long")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("p_brand", in_m2.alias("in_m2"), qty.alias("qty"),
                rev_dm.alias("rev_dm"))
        .groupBy("p_brand")
        .agg(
            F.coalesce(
                F.sum(F.when(~F.col("in_m2"), F.col("qty"))), F.lit(0)
            ).alias("qty_m1"),
            F.coalesce(
                F.sum(F.when(~F.col("in_m2"), F.col("rev_dm"))), F.lit(0)
            ).alias("rev_m1_dm"),
            F.coalesce(
                F.sum(F.when(F.col("in_m2"), F.col("qty"))), F.lit(0)
            ).alias("qty_m2"),
            F.coalesce(
                F.sum(F.when(F.col("in_m2"), F.col("rev_dm"))), F.lit(0)
            ).alias("rev_m2_dm"),
        )
        .filter((F.col("qty_m1") > 0) & (F.col("qty_m2") > 0))
    )
    p1 = F.col("rev_m1_dm") / F.col("qty_m1").cast("double")
    p2 = F.col("rev_m2_dm") / F.col("qty_m2").cast("double")
    return agg.select(
        "p_brand",
        "qty_m1",
        "rev_m1_dm",
        "qty_m2",
        "rev_m2_dm",
        (F.col("rev_m2_dm") - F.col("rev_m1_dm")).alias("delta_dm"),
        dround((F.col("qty_m2") - F.col("qty_m1")) * p1, 4).alias(
            "volume_effect_dm"
        ),
        dround((p2 - p1) * F.col("qty_m2"), 4).alias("price_effect_dm"),
    )


# ---------------------------------------------------------------------------
# F17 — card-brand classification + Luhn round-trip: the dimension the
# reference's PAN pipeline implies but never materializes (its
# dashboards slice by gateway; a real card pipeline slices by brand,
# derived from BIN ranges). The probe SYNTHESIZES a deterministic
# multi-brand card population (prefix by customer-key residue, body
# from the zero-padded key, check digit computed by the actual Luhn
# fold), classifies it with the published BIN ladder — including
# Mastercard's 2221-2720 four-digit range, the case a lazy two-digit
# classifier gets wrong — and re-validates every full PAN with the
# complementary Luhn fold. Both folds are integer arithmetic inside
# one codegen'd aggregate; DuckDB replays generation, classification,
# and validation, so the hash certifies the check-digit math from both
# directions. Scan-shaped: zero joins, zero shuffles before the
# probe's own output.
# ---------------------------------------------------------------------------

#: (selector residue, prefix, total PAN length, brand) — one row per
#: synthesized brand family; '99' exercises the unknown fallback.
_F17_FAMILIES = (
    (0, "4", 16, "visa"),
    (1, "52", 16, "mastercard"),
    (2, "2345", 16, "mastercard"),  # the 2221-2720 range, not 51-55
    (3, "34", 15, "amex"),
    (4, "6011", 16, "discover"),
    (5, "99", 16, "unknown"),
)


def _luhn_sum_spark(col: str, double_when: str) -> str:
    """Σ over digits of ``col`` taken right-to-left (i = 1-based
    position from the right), doubling (with 9-subtraction) where
    ``double_when`` holds — the Luhn kernel as one aggregate fold."""
    d = f"CAST(substring({col}, length({col}) - i + 1, 1) AS INT)"
    return (
        f"aggregate(transform(sequence(1, length({col})), i -> "
        f"IF({double_when}, IF(2 * {d} > 9, 2 * {d} - 9, 2 * {d}), {d})), "
        f"0, (a, x) -> a + x)"
    )


def _luhn_sum_sql(col: str, double_when: str) -> str:
    d = f"CAST(substr({col}, len({col}) - i + 1, 1) AS INT)"
    return (
        f"list_sum(list_transform(range(1, len({col}) + 1), i -> "
        f"CASE WHEN {double_when} THEN "
        f"CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END "
        f"ELSE {d} END))"
    )


def _f17_oracle() -> str:
    pref = " ".join(
        f"WHEN {r} THEN '{p}'" for r, p, _, _ in _F17_FAMILIES
    )
    blen = " ".join(
        f"WHEN {r} THEN {ln - 1}" for r, p, ln, _ in _F17_FAMILIES
    )
    gen_sum = _luhn_sum_sql("body", "i % 2 = 1")
    val_sum = _luhn_sum_sql("pan", "i % 2 = 0")
    return f"""
    WITH base AS (
      SELECT c_custkey,
             CASE c_custkey % 6 {pref} END AS prefix,
             CASE c_custkey % 6 {blen} END AS body_len
      FROM customer),
    bodied AS (
      SELECT c_custkey,
             prefix || lpad(CAST(c_custkey AS VARCHAR),
                            CAST(body_len - len(prefix) AS INTEGER),
                            '0') AS body
      FROM base),
    panned AS (
      SELECT c_custkey, body,
             body || CAST((10 - ({gen_sum}) % 10) % 10 AS VARCHAR) AS pan
      FROM bodied)
    SELECT c_custkey, pan,
           CAST(len(pan) AS BIGINT) AS pan_len,
           CASE
             WHEN substr(pan, 1, 1) = '4' AND len(pan) = 16 THEN 'visa'
             WHEN CAST(substr(pan, 1, 2) AS INT) BETWEEN 51 AND 55
                  AND len(pan) = 16 THEN 'mastercard'
             WHEN CAST(substr(pan, 1, 4) AS INT) BETWEEN 2221 AND 2720
                  AND len(pan) = 16 THEN 'mastercard'
             WHEN substr(pan, 1, 2) IN ('34', '37') AND len(pan) = 15
               THEN 'amex'
             WHEN substr(pan, 1, 4) = '6011' AND len(pan) = 16
               THEN 'discover'
             ELSE 'unknown' END AS brand,
           ({val_sum}) % 10 = 0 AS luhn_valid
    FROM panned
    """


@probe("f17_card_brand_luhn", oracle=_f17_oracle())
def f17_card_brand_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 — synthesize, classify, and re-validate a deterministic
    multi-brand card population (block comment above). luhn_valid must
    be TRUE on every row — the generation fold (double odd
    positions-from-right of the body) and the validation fold (double
    even positions of the full PAN) are complementary, so a one-digit
    slip in either direction flips the column and fails the hash."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    sel = F.col("c_custkey") % 6
    prefix = None
    blen = None
    for r, p, ln, _ in _F17_FAMILIES:
        prefix = (F.when if prefix is None else prefix.when)(sel == r, F.lit(p))
        blen = (F.when if blen is None else blen.when)(sel == r, F.lit(ln - 1))
    bodied = c.select(
        "c_custkey",
        F.concat(
            prefix,
            F.lpad(
                F.col("c_custkey").cast("string"),
                (blen - F.length(prefix)).cast("int"),
                "0",
            ),
        ).alias("body"),
    )
    gen_sum = _luhn_sum_spark("body", "i % 2 = 1")
    panned = bodied.select(
        "c_custkey",
        F.concat(
            F.col("body"),
            ((10 - F.expr(gen_sum) % 10) % 10).cast("string"),
        ).alias("pan"),
    )
    p1 = F.substring("pan", 1, 1)
    p2 = F.substring("pan", 1, 2).cast("int")
    p4 = F.substring("pan", 1, 4).cast("int")
    ln = F.length("pan")
    brand = (
        F.when((p1 == "4") & (ln == 16), "visa")
        .when(p2.between(51, 55) & (ln == 16), "mastercard")
        .when(p4.between(2221, 2720) & (ln == 16), "mastercard")
        .when(F.substring("pan", 1, 2).isin("34", "37") & (ln == 15), "amex")
        .when((F.substring("pan", 1, 4) == "6011") & (ln == 16), "discover")
        .otherwise("unknown")
    )
    val_sum = _luhn_sum_spark("pan", "i % 2 = 0")
    return panned.select(
        "c_custkey",
        "pan",
        ln.cast("long").alias("pan_len"),
        brand.alias("brand"),
        (F.expr(val_sum) % 10 == 0).alias("luhn_valid"),
    )


# ---------------------------------------------------------------------------
# S15 — VARIANT ingestion (Spark 4's semi-structured type): the modern
# successor to S3's from_json-with-declared-schema — parse once into
# the binary VARIANT encoding, extract typed paths lazily with
# variant_get, no upfront schema. The probe builds a nested JSON
# document from each event row (object + sub-object + array), parses
# it to VARIANT, extracts every shape of path (top-level long, nested
# long, array subscript string, and a MISSING path certifying
# null-not-error semantics), and aggregates. The oracle recomputes the
# extracted values from the raw columns — so the hash certifies the
# whole JSON→VARIANT→path-extraction round-trip — and pins Spark's
# inferred variant schema string as a literal. At 100 TB: VARIANT
# shredding is scan-shaped columnar work; one groupBy exchange.
# ---------------------------------------------------------------------------

_S15_SCHEMA_LIT = (
    "OBJECT<event_id: BIGINT, m: OBJECT<et: STRING, vm: BIGINT>,"
    " tags: ARRAY<STRING>>"
)


@probe(
    "s15_variant_shred",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             AS sum_value_mills,
           CAST(count(*) AS BIGINT) AS n_missing_null,
           '{_S15_SCHEMA_LIT}' AS variant_schema
    FROM events GROUP BY event_type
    """,
)
def s15_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 — events → nested JSON → VARIANT → typed path extraction
    (block comment above). `n_missing_null` counts rows where the
    deliberately-absent path `$.m.nope` extracted to NULL — it must
    equal `n_events`, so a variant_get that errored or fabricated a
    value breaks the hash; `variant_schema` pins schema_of_variant's
    inference on every row via min() (all rows share one shape)."""
    from realtime_financial_transactions_data_pipeline_spark.tables import widen_scan

    # widen_scan (r18): to_json → parse_json → variant_get per row is
    # the probe's dominant compute; the single-file scan ran it on one
    # task.
    e = widen_scan(load_table(spark, sf_dir, "events")).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 1000, 0).cast("long").alias("vm"),
    )
    doc = F.to_json(
        F.struct(
            F.col("event_id"),
            F.struct(F.col("event_type").alias("et"), F.col("vm")).alias("m"),
            F.array(F.col("event_type"), F.lit("x")).alias("tags"),
        )
    )
    v = e.select(F.parse_json(doc).alias("v"))
    shredded = v.select(
        F.expr("variant_get(v, '$.event_id', 'long')").alias("event_id"),
        F.expr("variant_get(v, '$.m.et', 'string')").alias("event_type"),
        F.expr("variant_get(v, '$.m.vm', 'long')").alias("vm"),
        F.expr("variant_get(v, '$.tags[1]', 'string')").alias("tag1"),
        F.expr("try_variant_get(v, '$.m.nope', 'string')").alias("missing"),
        F.expr("schema_of_variant(v)").alias("vschema"),
    )
    # tag1 must be the literal 'x' on every row — fold it into the
    # missing-null certification so a subscript error surfaces.
    return shredded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum("vm").alias("sum_value_mills"),
        F.count(
            F.when(F.col("missing").isNull() & (F.col("tag1") == "x"), 1)
        ).alias("n_missing_null"),
        F.min("vschema").alias("variant_schema"),
    )


# ---------------------------------------------------------------------------
# SQL1 — SQL scripting (Spark 4's BEGIN/END procedural dialect): the
# orchestration surface that replaces driver-side Python glue for
# multi-statement SQL procedures — variables, WHILE/IF control flow,
# scalar-subquery assignment — all executing INSIDE the SQL layer.
# The probe runs a data-driven binary search: the smallest integer
# threshold T with fewer than N events above it, each iteration a real
# aggregate over the events view (~8 probes of the table instead of a
# 200-candidate scan). The oracle finds the same T by brute force, so
# the hash certifies the loop's convergence, the scalar-subquery
# assignments, and the IF branching. At 100 TB each iteration is one
# scan-shaped aggregate; the script itself is driver-side control flow
# exactly like a Python loop, minus the round-trip out of SQL.
# ---------------------------------------------------------------------------

#: the target is DATA-RELATIVE — "fewer than a tenth of the events
#: above the threshold" — so the bracket [0, 200] stays satisfiable at
#: every SF (the value tail above 200 is ~1.75 % of rows, scale-
#: invariant; a fixed absolute N was unsatisfiable at sf0.1 and the
#: script silently violated its own contract — caught in review).
_SQL1_DIV = 10


@probe(
    "sql1_scripting_threshold_search",
    oracle=f"""
    WITH n AS (SELECT count(*) // {_SQL1_DIV} AS lim FROM events),
    cand AS (SELECT range AS t FROM range(0, 201)),
    cnt AS (SELECT t,
                   (SELECT count(*) FROM events WHERE value > t) AS c
            FROM cand),
    best AS (SELECT min(t) AS threshold FROM cnt, n WHERE c < lim)
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST((SELECT count(*) FROM events
                 WHERE value > (SELECT threshold FROM best)) AS BIGINT)
             AS n_above
    FROM best
    """,
)
def sql1_scripting_threshold_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL1 — binary-search the integer threshold inside a SQL script
    (block comment above). The script brackets [0, 200], halves via
    DIV, assigns the per-iteration count from a scalar subquery, and
    branches with IF/ELSE; the final SELECT returns the converged
    threshold plus the certifying count at that threshold."""
    load_table(spark, sf_dir, "events").select("value").createOrReplaceTempView(
        "ev_sql1"
    )
    return spark.sql(f"""
    BEGIN
      DECLARE lo BIGINT = 0;
      DECLARE hi BIGINT = 200;
      DECLARE mid BIGINT = 0;
      DECLARE c BIGINT = 0;
      DECLARE lim BIGINT = 0;
      SET lim = (SELECT count(*) DIV {_SQL1_DIV} FROM ev_sql1);
      WHILE lo < hi DO
        SET mid = (lo + hi) DIV 2;
        SET c = (SELECT count(*) FROM ev_sql1 WHERE value > mid);
        IF c < lim THEN
          SET hi = mid;
        ELSE
          SET lo = mid + 1;
        END IF;
      END WHILE;
      SELECT lo AS threshold,
             (SELECT count(*) FROM ev_sql1 WHERE value > lo) AS n_above;
    END
    """)


# ---------------------------------------------------------------------------
# MV4 — Declarative Pipelines (Spark 4.1 `pyspark.pipelines`) executed
# by the repo's local interpreter (`plans/declarative.py`): a medallion
# bronze → silver → gold pipeline DECLARED with the official
# @materialized_view decorators — in deliberately non-topological
# order, so the hash also certifies the executor's static dependency
# resolution — and materialized to parquet-backed views. The gold
# oracle recomputes from the raw table, certifying the whole chain.
# This is the mv1/mv2 lineage taken to its modern endpoint: the
# pipeline is a declared GRAPH, not orchestration code.
# ---------------------------------------------------------------------------


@probe(
    "mv4_declarative_pipeline",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_mills
    FROM events
    WHERE user_id % 10 = 5 AND event_type <> 'error' AND value >= 0
    GROUP BY 1, 2
    """,
)
def mv4_declarative_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV4 — the official pipelines decorators under the local
    executor (block comment above): gold declared FIRST, silver
    filters the quality gate, bronze ingests the slice. The executor's
    static dependency scan topologically orders the out-of-order
    declarations BEFORE anything runs (r17: the old fixed-point retry
    leaked an expected TABLE_OR_VIEW_NOT_FOUND stack trace into the
    listener bus on every invocation), so the hash still certifies
    declaration-order independence, now with a clean log."""
    from pyspark import pipelines as dp

    from realtime_financial_transactions_data_pipeline_spark.plans.declarative import (
        run_pipeline,
    )
    from realtime_financial_transactions_data_pipeline_spark.registry import (
        pin_result,
        probe_scratch,
    )
    from realtime_financial_transactions_data_pipeline_spark.session import child_session

    # The pipeline's temp views live on a child session, so none of them
    # outlives the call's scratch root in the caller's session catalog.
    child = child_session(spark, {})

    def define() -> None:
        @dp.materialized_view(name="gold_daily_panel")
        def gold():
            return (
                child.table("silver_events")
                .groupBy(
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "event_type",
                )
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum("value_mills").alias("value_mills"),
                )
            )

        @dp.materialized_view(name="silver_events")
        def silver():
            return (
                child.table("bronze_events")
                .filter((F.col("event_type") != "error") & (F.col("value") >= 0))
                .select(
                    F.col("ts").cast("date").alias("day"),
                    "event_type",
                    F.round(F.col("value") * 1000, 0)
                    .cast("long")
                    .alias("value_mills"),
                )
            )

        @dp.materialized_view(name="bronze_events")
        def bronze():
            return load_table(child, sf_dir, "events").filter(
                F.col("user_id") % 10 == 5
            )

    with probe_scratch() as root:
        return pin_result(run_pipeline(child, define, root)["gold_daily_panel"])


# ---------------------------------------------------------------------------
# Q1P — the flagship in SQL PIPE SYNTAX (Spark 4's |> operator
# chain): the same star join as q1/q1sql written as a linear dataflow
# — FROM |> JOIN×4 |> WHERE |> AGGREGATE ... GROUP BY — the form that
# reads like the DataFrame chain while staying pure SQL. Catalyst
# plans the identical broadcast-star shape (pipe stages are sugar over
# the same logical operators), and the oracle is q1's relational text,
# so the hash certifies the dialect translation end to end.
# ---------------------------------------------------------------------------


@probe(
    "q1p_pipe_syntax",
    oracle="""
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_txns,
           round(avg(l_extendedprice), 2) AS avg_price
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND o_orderstatus IN ('O', 'F')
    GROUP BY r_name, n_name
    """,
)
def q1p_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1P — q1 as a pipe-syntax chain (block comment above)."""
    from realtime_financial_transactions_data_pipeline_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
    FROM lineitem
    |> JOIN orders   ON l_orderkey = o_orderkey
    |> JOIN customer ON o_custkey = c_custkey
    |> JOIN nation   ON c_nationkey = n_nationkey
    |> JOIN region   ON n_regionkey = r_regionkey
    |> WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate <  TIMESTAMP '1998-01-01'
         AND o_orderstatus IN ('O', 'F')
    |> AGGREGATE round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS revenue,
                 count(*) AS n_txns,
                 round(avg(l_extendedprice), 2) AS avg_price
       GROUP BY r_name, n_name
    |> SELECT r_name, n_name, revenue, n_txns, avg_price
    """)


# ---------------------------------------------------------------------------
# F18 — collation-aware grouping (Spark 4 collated strings): the
# engine-level answer to case-divergent dimension values (the
# "BUILDING/Building/building are one segment" cleanup every BI team
# hand-rolls with lower()). The probe synthesizes a deterministically
# mixed-cased segment column, groups it under UTF8_LCASE collation —
# the fold happens in the grouping machinery, not via per-row
# normalization — and emits lower(key) as the deterministic
# representative. The oracle folds with lower(), so the hash certifies
# the collation's equivalence classes match the classic rewrite.
# ---------------------------------------------------------------------------


@probe(
    "f18_collation_groupby",
    oracle="""
    WITH mixed AS (
      SELECT CASE c_custkey % 3
               WHEN 0 THEN c_mktsegment
               WHEN 1 THEN lower(c_mktsegment)
               ELSE substr(c_mktsegment, 1, 1)
                    || lower(substr(c_mktsegment, 2))
             END AS seg,
             c_acctbal
      FROM customer)
    SELECT lower(seg) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT seg) AS BIGINT) AS n_case_variants,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM mixed GROUP BY lower(seg)
    """,
)
def f18_collation_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 — group mixed-case segments under UTF8_LCASE (block comment
    above): `n_case_variants` = 3 per segment proves the input really
    was case-divergent AND that the collated grouping folded the
    variants the binary grouping would split."""
    c = load_table(spark, sf_dir, "customer")
    mixed = c.select(
        F.expr(
            "CASE c_custkey % 3"
            " WHEN 0 THEN c_mktsegment"
            " WHEN 1 THEN lower(c_mktsegment)"
            " ELSE concat(substr(c_mktsegment, 1, 1),"
            "             lower(substr(c_mktsegment, 2))) END"
        ).alias("seg"),
        "c_acctbal",
    )
    return (
        mixed.withColumn(
            "seg_ci", F.expr("seg COLLATE UTF8_LCASE")
        )
        .groupBy("seg_ci")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct(F.expr("seg COLLATE UTF8_BINARY")).alias(
                "n_case_variants"
            ),
            F.sum(
                F.round(F.col("c_acctbal") * 100, 0).cast("long")
            ).alias("acctbal_cents"),
        )
        .select(
            F.lower("seg_ci").alias("segment"),
            "n_customers",
            "n_case_variants",
            "acctbal_cents",
        )
    )


# ---------------------------------------------------------------------------
# O10 — RANGE-frame trailing windows: the event-time sibling of o5b's
# ROWS frame — "this event's trailing-24h total for its user" needs a
# frame bounded by a TIME interval, not a row count (under bursty
# activity the row frame is simply wrong). Spark expresses it as
# rangeBetween over a numeric event-time (epoch seconds); DuckDB
# replays with RANGE BETWEEN INTERVAL. Exact-mills sums inside the
# frame keep every value integer, so the hash is bit-deterministic.
# One shuffle (user partition), one sort — the standard window
# economics at any scale.
# ---------------------------------------------------------------------------


@probe(
    "o10_range_frame_trailing",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_24h,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) OVER w AS BIGINT)
             AS mills_24h
    FROM events
    WHERE user_id % 20 = 11
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
    """,
)
def o10_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 — per-event trailing-24h count and exact-mills total per
    user via a RANGE frame (block comment above). Ties in event time
    are handled identically by construction: a RANGE frame includes
    ALL peers of the current ordering value on both engines, so no
    tiebreak column is needed."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 20 == 11)
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("long").alias("epoch_s"),
            F.round(F.col("value") * 1000, 0).cast("long").alias("vm"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-24 * 3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.sum("vm").over(w).alias("mills_24h"),
    )


# ---------------------------------------------------------------------------
# O11 — gaps and islands (consecutive-period streaks)
# ---------------------------------------------------------------------------
# The classic tabulation the reference's dashboard family implies but
# never names: "how many CONSECUTIVE months has this customer ordered?"
# (reference pipeline.py:214-220 loads the per-customer fact the
# BigQuery dashboard slices by month). The canonical SQL solution —
# month_id - row_number() is constant within a run of consecutive
# months — needs exactly one window pass and two aggregations, all
# keyed by customer, so at 100 TB it shuffles once on o_custkey and
# every partial aggregate map-side-combines. No self-join, no recursive
# CTE, no per-customer loop.


@probe(
    "o11_gaps_islands",
    oracle="""
    WITH m AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mid
      FROM orders),
    isl AS (
      SELECT o_custkey, mid,
             mid - row_number() OVER (PARTITION BY o_custkey ORDER BY mid)
               AS grp
      FROM m),
    streaks AS (
      SELECT o_custkey, grp, count(*) AS len
      FROM isl GROUP BY o_custkey, grp)
    SELECT o_custkey AS custkey,
           CAST(sum(len) AS BIGINT) AS active_months,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY o_custkey
    """,
)
def o11_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 — per-customer activity streaks over calendar months
    (gaps-and-islands): distinct active months, number of maximal
    consecutive-month runs, and the longest run. Islands via the
    row_number subtraction trick (block comment above); month ids are
    year*12+month so consecutiveness survives year boundaries."""
    from pyspark.sql import Window

    m = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("mid"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("mid")
    streaks = (
        m.withColumn("grp", F.col("mid") - F.row_number().over(w))
        .groupBy("o_custkey", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return (
        streaks.groupBy("o_custkey")
        .agg(
            F.sum("len").alias("active_months"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "active_months",
            "n_streaks",
            "longest_streak",
        )
    )


# ---------------------------------------------------------------------------
# A28 — event-path transition matrix
# ---------------------------------------------------------------------------


@probe(
    "a28_path_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    t AS (
      SELECT src, dst, count(*) AS n_transitions
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           round(CAST(n_transitions AS DOUBLE)
                 / sum(n_transitions) OVER (PARTITION BY src), 4) AS p_transition
    FROM t
    """,
)
def a28_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 — first-order Markov transition matrix over each user's
    event sequence: for every (current event_type -> next event_type)
    pair, the transition count and the row-normalized probability.
    The user-journey analytic behind funnel design (a12 checks ONE
    declared path; this surfaces all of them). Sequencing is one
    lead() window per user (ties broken by event_id, matching the
    oracle's ORDER BY ts, event_id); the count is a map-side-combined
    groupBy on the (src, dst) pair — at 100 TB the sequence pass
    shuffles once on user_id and the matrix aggregation shuffles only
    |event_type|² pair rows. Normalization partitions by src over the
    already-tiny matrix."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    t = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_transitions"))
    w_src = Window.partitionBy("src")
    return t.select(
        "src",
        "dst",
        "n_transitions",
        dround(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_src),
            4,
        ).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# SQL2 — recursive CTE (Spark 4's WITH RECURSIVE), shared-text: the
# iterative per-customer walk that sql1 does with scripting and the
# graph family does with driver loops, expressed as ONE recursive SQL
# statement both engines run verbatim. The walk is a UNIQUE-PATH
# recursion — each step extends (custkey, rank) to (custkey, rank+1),
# so row multiplicity never grows (Spark's recursive UNION is
# UNION ALL-only; a multi-path propagation would blow up) — and the
# depth is bounded by max orders per customer (25 on this corpus,
# under Spark's default 100-level recursion limit). At 100 TB the
# recursion plans like the hand-written loop: one equi-join per level
# keyed (custkey, rank), partial-aggregated at the end.
# ---------------------------------------------------------------------------

#: Stop extending a customer's walk once cumulative spend reaches this
#: many cents (~4 orders at the corpus mean) — some customers reach it,
#: customers with few/cheap orders exhaust their history instead.
_SQL2_STOP_CENTS = 100_000_000

_SQL2_SHARED_SQL = f"""
    WITH RECURSIVE seq AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rk,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    walk AS (
      SELECT o_custkey, rk, cents AS cum_cents
      FROM seq WHERE rk = 1
      UNION ALL
      SELECT s.o_custkey, s.rk, w.cum_cents + s.cents
      FROM walk w JOIN seq s
        ON s.o_custkey = w.o_custkey AND s.rk = w.rk + 1
      WHERE w.cum_cents < {_SQL2_STOP_CENTS}
    )
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders_walked,
           CAST(max(cum_cents) AS BIGINT) AS cum_cents_at_stop,
           CAST(CASE WHEN max(cum_cents) >= {_SQL2_STOP_CENTS}
                     THEN 1 ELSE 0 END AS BIGINT) AS reached
    FROM walk GROUP BY o_custkey
"""


@probe("sql2_recursive_cte", oracle=_SQL2_SHARED_SQL)
def sql2_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL2 — data-driven recursion via Spark 4's WITH RECURSIVE
    (block comment above): per customer, walk orders in date order
    accumulating exact cents until the stop threshold, and report how
    many orders the walk consumed, the cumulative spend where it
    stopped, and whether the threshold was reached. One dialect-
    neutral SQL string runs verbatim on BOTH engines (the q1sql
    discipline: floor(x*100 + 0.5) cents, ANSI text).

    Shuffle bound (the suite's largest, 43 MB at sf0.1 — smoked at 10x,
    PLANS.md): each recursion level extends only UNIQUE (customer,
    prefix) paths — the anchor is one row per customer and every step
    consumes the customer's next order by date — so total shuffled
    volume is Σ_c min(orders_c, stop_c) ≤ |orders|, linear in input
    (measured 10.2x shuffle at 10x); multiplicity cannot grow because
    no level ever joins a path to more than one successor order."""
    from realtime_financial_transactions_data_pipeline_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL2_SHARED_SQL)


# ---------------------------------------------------------------------------
# SQL3 — LATERAL correlated subquery (shared-text): per-group top-K
# expressed the way analysts write it — a correlated LATERAL derived
# table instead of a window + filter. Catalyst decorrelates it into
# the same join+window shape (DecorrelateInnerQuery), so the SQL
# surface costs nothing physical; the probe pins that the SURFACE
# parses and returns identical rows on both engines from one string.
# ---------------------------------------------------------------------------

_SQL3_SHARED_SQL = """
    SELECT n_name, t.c_custkey AS custkey,
           CAST(floor(t.c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
    FROM nation,
    LATERAL (
      SELECT c_custkey, c_acctbal
      FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) AS t
"""


@probe("sql3_lateral_topk", oracle=_SQL3_SHARED_SQL)
def sql3_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL3 — top-2 customers by balance per nation via a correlated
    LATERAL subquery (block comment above), one dialect-neutral string
    run verbatim by both engines. Ties broken by c_custkey so the
    LIMIT is deterministic."""
    from realtime_financial_transactions_data_pipeline_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL3_SHARED_SQL)


# ---------------------------------------------------------------------------
# O12 — bag-semantics set operations (EXCEPT ALL / INTERSECT ALL): o4
# covers the DISTINCT variants; the ALL variants are different
# operators with different physics — Spark plans them as aggregated
# count-difference replications (no distinct collapse), and they are
# what reconciliation actually needs (a row appearing 3 times in the
# ledger and twice in the replica must surface ONCE, not vanish).
# ---------------------------------------------------------------------------

_O12_SHARED_SQL = """
    WITH a AS (SELECT o_custkey, o_orderstatus FROM orders
               WHERE o_orderkey % 3 <> 0),
    b AS (SELECT o_custkey, o_orderstatus FROM orders
          WHERE o_orderkey % 2 <> 0),
    ex AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
    ic AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    SELECT 'except_all' AS op, o_custkey, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n
    FROM ex GROUP BY 2, 3
    UNION ALL
    SELECT 'intersect_all' AS op, o_custkey, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n
    FROM ic GROUP BY 2, 3
"""


@probe("o12_set_ops_all", oracle=_O12_SHARED_SQL)
def o12_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 — EXCEPT ALL and INTERSECT ALL between two overlapping
    order slices, multiplicities preserved (block comment above),
    grouped for a stable panel. Shared text: the identical string is
    the DuckDB oracle."""
    from realtime_financial_transactions_data_pipeline_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_O12_SHARED_SQL)


# ---------------------------------------------------------------------------
# O13 — UNPIVOT / melt, the inverse of the pivot this engine has had
# since round 2: wide measure columns fold into (variable, value)
# rows. The reference's dashboard tables are wide by construction
# (A1-A6 stat cards); melt is how a generic charting layer consumes
# them. Spark's Unpivot is a logical operator (Expand), zero shuffle —
# the one exchange below belongs to the demonstration rollup.
# ---------------------------------------------------------------------------


@probe(
    "o13_unpivot_melt",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT)
               AS revenue_cents
      FROM orders GROUP BY o_orderpriority),
    melted AS (
      SELECT o_orderpriority, 'n_orders' AS measure, n_orders AS value
      FROM wide
      UNION ALL
      SELECT o_orderpriority, 'n_customers', n_customers FROM wide
      UNION ALL
      SELECT o_orderpriority, 'revenue_cents', revenue_cents FROM wide)
    SELECT o_orderpriority, measure, CAST(value AS BIGINT) AS value
    FROM melted
    """,
)
def o13_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 — melt a wide per-priority stat card into tidy
    (dimension, measure, value) rows via DataFrame.unpivot (block
    comment above). The oracle builds the same tidy relation as a
    manual UNION ALL — engine-shape-independent semantics."""
    wide = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("revenue_cents"),
        )
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "n_customers", "revenue_cents"],
        variableColumnName="measure",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# A30 — A/B assignment + sample-ratio-mismatch audit: deterministic
# 50/50 hash assignment of users to arms (the counter-based md5
# uniform x8 established — engine-portable, shuffle-free, stable
# across reruns and backfills), then the chi-square SRM test every
# experimentation platform runs before trusting a readout (an SRM is
# the canonical sign of broken exposure logging). One distinct-user
# shuffle, one 2-row aggregate; the statistic is plain arithmetic on
# the counts, so the oracle replays it exactly.
# ---------------------------------------------------------------------------

_A30_SEED = 1337
#: chi-square critical value, df=1, alpha=0.05
_A30_CHI2_CRIT = 3.841


@probe(
    "a30_ab_assignment_srm",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT user_id,
             CASE WHEN (('0x' || substr(md5('{_A30_SEED}-' ||
                         CAST(user_id AS VARCHAR)), 1, 8))::UINTEGER
                        / 4294967296.0) < 0.5
                  THEN 'treatment' ELSE 'control' END AS arm
      FROM u),
    c AS (SELECT
            count(CASE WHEN arm = 'treatment' THEN 1 END) AS n_t,
            count(CASE WHEN arm = 'control' THEN 1 END) AS n_c
          FROM arms)
    SELECT CAST(n_t AS BIGINT) AS n_treatment,
           CAST(n_c AS BIGINT) AS n_control,
           round(power(n_t - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0)
                 + power(n_c - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0),
                 4) AS chi2,
           CAST(CASE WHEN
                power(n_t - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0)
                + power(n_c - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0)
                > {_A30_CHI2_CRIT} THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM c
    """,
)
def a30_ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30 — deterministic A/B arm assignment with the
    sample-ratio-mismatch chi-square audit (block comment above).
    Assignment is the portable md5 uniform, so the identical users
    land in the identical arms on both engines and across reruns."""
    u = load_table(spark, sf_dir, "events").select("user_id").distinct()
    uniform = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{_A30_SEED}-"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    arms = u.select(
        F.when(uniform < 0.5, F.lit("treatment"))
        .otherwise(F.lit("control"))
        .alias("arm")
    )
    c = arms.agg(
        F.count(F.when(F.col("arm") == "treatment", 1)).alias("n_t"),
        F.count(F.when(F.col("arm") == "control", 1)).alias("n_c"),
    )
    half = (F.col("n_t") + F.col("n_c")) / F.lit(2.0)
    chi2 = (
        F.pow(F.col("n_t") - half, 2) / half
        + F.pow(F.col("n_c") - half, 2) / half
    )
    return c.select(
        F.col("n_t").alias("n_treatment"),
        F.col("n_c").alias("n_control"),
        dround(chi2, 4).alias("chi2"),
        F.when(chi2 > _A30_CHI2_CRIT, 1).otherwise(0).cast("long").alias(
            "srm_flag"
        ),
    )


# ---------------------------------------------------------------------------
# API1 — pandas API on Spark (pyspark.pandas): the migration surface
# for the largest population of potential users — pandas code runs
# against the cluster by changing an import. The probe drives a real
# ps chain (read_parquet → assign → groupby/agg → reset_index →
# to_spark) and hash-checks it against plain SQL: the pandas facade
# must produce EXACTLY the relational answer, not a lookalike.
# ---------------------------------------------------------------------------


@probe(
    "api1_pandas_on_spark",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY 1, 2
    """,
)
def api1_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API1 — a pandas-dialect rollup via pyspark.pandas (block
    comment above). The ps frame's groupby/agg runs on the same
    engine (one hash-aggregate exchange — to_spark exposes the plan),
    so the facade costs API familiarity, not physics."""
    import pyspark.pandas as ps

    psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
    out = (
        psdf.groupby(["o_orderstatus", "o_orderpriority"])
        .agg(n_orders=("o_orderkey", "count"), revenue=("o_totalprice", "sum"))
        .reset_index()
    )
    sdf = out.to_spark()
    return sdf.select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.floor(F.col("revenue") * 100 + F.lit(0.5))
        .cast("long")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# API2 — Python user-defined TABLE function (Spark 4 `@udtf`),
# arrow-optimized: the API seam for row→rows expansion logic that is
# genuinely imperative (state machines, schedule generators, protocol
# parsers) yet must ride the SQL planner as a LATERAL table factor.
# The demonstration is a financial one the reference's domain implies:
# an amortization-schedule generator — each order's total splits into
# `months` integer-cent installments (remainder on the first) — run as
# `orders, LATERAL amortize(cents, months)` and rolled up per
# installment number. Scale posture: ArrowEvalPythonUDTF evaluates
# per-partition in Arrow batches (embarrassingly parallel, no shuffle
# until the panel aggregate), and `useArrow=True` is what keeps the
# no-BatchEvalPython tripwire green — the pickled row-at-a-time UDTF
# path is exactly what this probe exists to NOT use. The oracle
# replays the schedule arithmetic with generate-series + integer
# division, so the hash certifies the UDTF's Python arithmetic
# row-for-row.
# ---------------------------------------------------------------------------


@probe(
    "api2_python_udtf",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             3 + (o_orderkey // 100) % 10 AS months
      FROM orders WHERE o_orderkey % 100 = 0),
    inst AS (
      SELECT cents, months, unnest(range(1, months + 1)) AS installment
      FROM o),
    amt AS (
      SELECT installment,
             CASE WHEN installment = 1
                  THEN cents // months + (cents - (cents // months) * months)
                  ELSE cents // months END AS amount_cents
      FROM inst)
    SELECT CAST(installment AS INTEGER) AS installment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(amount_cents) AS BIGINT) AS amount_cents
    FROM amt GROUP BY installment
    """,
)
def api2_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API2 — arrow-optimized Python UDTF as a LATERAL table factor
    (block comment above): every 100th order amortizes into
    3 + (orderkey/100)%10 integer-cent installments, first installment
    carrying the remainder, per-installment panel. Mass conservation
    (Σ installments = Σ totals) is implied by the hash."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="installment int, amount_cents bigint", useArrow=True
    )
    class Amortize:
        def eval(self, cents: int, months: int):
            base = cents // months
            rem = cents - base * months
            for i in range(1, months + 1):
                yield i, base + (rem if i == 1 else 0)

    spark.udtf.register("api2_amortize", Amortize)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("api2_orders")
    return spark.sql(
        """
        SELECT t.installment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(t.amount_cents) AS BIGINT) AS amount_cents
        FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                     CAST(3 + CAST(o_orderkey / 100 AS BIGINT) % 10 AS INT)
                       AS months
              FROM api2_orders WHERE o_orderkey % 100 = 0) s,
             LATERAL api2_amortize(s.cents, s.months) t
        GROUP BY t.installment
        """
    )


# ---------------------------------------------------------------------------
# A31 — fulfillment-latency distribution: order date → line-item ship
# date lag, profiled per order priority. The reference's order
# lifecycle implies exactly this dashboard ("how fast do URGENT
# orders actually ship?"); engines disagree on interpolated
# percentile definitions, so the quantiles here are EXACT DISCRETE
# ones pinned to one law both engines express identically: the
# ceil(q*n)-th smallest lag via a per-group rank window. One join
# (lineitem ⋈ orders on the key — broadcastable dim side at this
# grain), one priority-keyed window over day-integers.
# ---------------------------------------------------------------------------


@probe(
    "a31_fulfillment_latency",
    oracle="""
    WITH lag AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    ranked AS (
      SELECT priority, lag_days,
             row_number() OVER (PARTITION BY priority
                                ORDER BY lag_days, lag_days) AS rn,
             count(*) OVER (PARTITION BY priority) AS n
      FROM lag)
    SELECT priority,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(lag_days) AS BIGINT) AS min_days,
           CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN lag_days END) AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN lag_days END) AS BIGINT) AS p95_days,
           CAST(max(lag_days) AS BIGINT) AS max_days
    FROM ranked GROUP BY priority
    """,
)
def a31_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31 — ship-lag percentiles per order priority (block comment
    above): exact discrete p50/p95 as the ceil(q*n)-th smallest lag,
    the one quantile law both engines express identically (row_number
    over the integer lag — ties are interchangeable, any tie-order
    yields the same ranked VALUE)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lag_days"),
    )
    w = Window.partitionBy("priority").orderBy("lag_days")
    wn = Window.partitionBy("priority")
    ranked = lag.select(
        "priority",
        "lag_days",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("priority").agg(
        F.max("n").alias("n_lines"),
        F.min("lag_days").alias("min_days"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"),
                F.col("lag_days"),
            )
        ).alias("p50_days"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("n")).cast("long"),
                F.col("lag_days"),
            )
        ).alias("p95_days"),
        F.max("lag_days").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# F19 — 4-4-5 fiscal calendar + year-over-year alignment: retail/
# finance reporting doesn't run on calendar months — it runs on 13
# four-week periods (the 4-4-5 family's week-aligned variant), so
# "this period vs the same period last year" compares equal trading-
# day windows. The mapping is pure day arithmetic off a fixed fiscal
# epoch (no calendar dim needed): fiscal_day = days since epoch,
# fiscal_year = fiscal_day // 364, period = (fiscal_day % 364) // 28.
# YoY then aligns on (period) across two adjacent fiscal years — an
# equi-join of two 13-row aggregates. Every engine expresses integer
# day arithmetic identically, so the whole law is hash-checkable.
# ---------------------------------------------------------------------------

#: Fiscal epoch: 1995-01-30, a Monday — fiscal years are exactly 52
#: weeks (364 days) from here, so periods stay week-aligned forever
#: (real 4-4-5 calendars insert a 53rd week every ~5 years; the probe
#: uses the pure-364 variant to keep the law closed-form).
_F19_EPOCH = "1995-01-30"


@probe(
    "f19_fiscal_445_yoy",
    oracle=f"""
    WITH f AS (
      SELECT date_diff('day', DATE '{_F19_EPOCH}',
                       CAST(o_orderdate AS DATE)) AS fd,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '{_F19_EPOCH}'),
    tagged AS (
      SELECT fd // 364 AS fy, (fd % 364) // 28 AS period, cents FROM f),
    agg AS (
      SELECT fy, period,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM tagged GROUP BY fy, period)
    SELECT CAST(cur.fy AS BIGINT) AS fiscal_year,
           CAST(cur.period AS BIGINT) AS period,
           cur.n_orders, cur.revenue_cents,
           CAST(coalesce(prior.revenue_cents, 0) AS BIGINT)
             AS prior_year_cents,
           CAST(cur.revenue_cents - coalesce(prior.revenue_cents, 0)
                AS BIGINT) AS yoy_delta_cents
    FROM agg cur LEFT JOIN agg prior
      ON prior.fy = cur.fy - 1 AND prior.period = cur.period
    """,
)
def f19_fiscal_445_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 — revenue by 4-4-5 fiscal period with year-over-year
    alignment (block comment above): 13 week-aligned periods per
    364-day fiscal year, each period joined to the SAME period one
    fiscal year back. The YoY join runs over the 13-rows-per-year
    aggregate — metadata-sized at any fact scale."""
    f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_F19_EPOCH).cast("timestamp"))
        .select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(_F19_EPOCH).cast("date")
            ).alias("fd"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    tagged = f.select(
        F.floor(F.col("fd") / 364).cast("long").alias("fy"),
        F.floor(F.pmod(F.col("fd"), 364) / 28).cast("long").alias("period"),
        "cents",
    )
    agg = tagged.groupBy("fy", "period").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )
    cur = agg.alias("cur")
    prior = agg.select(
        (F.col("fy") + 1).alias("pfy"),
        F.col("period").alias("pperiod"),
        F.col("revenue_cents").alias("prior_rev"),
    ).alias("prior")
    return (
        cur.join(
            prior,
            (F.col("cur.fy") == F.col("prior.pfy"))
            & (F.col("cur.period") == F.col("prior.pperiod")),
            "left",
        )
        .select(
            F.col("cur.fy").alias("fiscal_year"),
            F.col("cur.period").alias("period"),
            F.col("cur.n_orders").alias("n_orders"),
            F.col("cur.revenue_cents").alias("revenue_cents"),
            F.coalesce(F.col("prior_rev"), F.lit(0))
            .cast("long")
            .alias("prior_year_cents"),
            (F.col("cur.revenue_cents") - F.coalesce(F.col("prior_rev"), F.lit(0)))
            .cast("long")
            .alias("yoy_delta_cents"),
        )
    )


# ---------------------------------------------------------------------------
# O14 — rolling DISTINCT count per entity (trailing distinct parts per
# supplier over its last 20 shipments): the third mechanism in the
# rolling-distinct family — a18 fans (day, user) pairs across a
# calendar spine (global grain), x5d unions HLL sketches
# (approximate), and THIS one keeps the exact set in window state:
# Spark has no DISTINCT windowed aggregate, so the idiom is
# size(collect_set(...)) OVER the frame — exact, per-entity, with
# state bounded by frame length x value width (fine at 20; a 10^6-row
# frame wants the HLL variant instead). The oracle runs DuckDB's
# native count(DISTINCT) OVER the identical frame — two different
# engine mechanisms, one law.
# ---------------------------------------------------------------------------


@probe(
    "o14_rolling_distinct",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(count(DISTINCT l_partkey) OVER w AS BIGINT)
             AS distinct_parts_20
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def o14_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14 — exact trailing-20-shipment distinct part count per
    supplier (block comment above). The frame's order is totalized by
    (shipdate, orderkey, linenumber), so both engines walk identical
    windows."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-19, 0)
    )
    return load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.size(F.collect_set("l_partkey").over(w))
        .cast("long")
        .alias("distinct_parts_20"),
    )


# ---------------------------------------------------------------------------
# A32 — backlog aging waterfall: the accounts-receivable-style panel
# every operations dashboard carries — open (non-filled) orders as of a
# fixed snapshot date, bucketed by age into 0-30 / 31-60 / 61-90 / 90+
# days, per region, with order counts and EXACT INTEGER CENTS per
# bucket (the a11 idiom). One conditional-aggregation pass: the age
# CASE is a scan-level projection, the four buckets come out of a
# single partial-aggregable groupBy (no per-bucket scans, no pivot
# shuffle), and the customer→nation→region dims broadcast. At 100 TB
# the o_orderdate < snapshot predicate is a pushed scan filter and the
# fact shuffles once on ~5 region keys.
# ---------------------------------------------------------------------------

_A32_ASOF = "1997-01-01"


def _a32_bucket_sql(lo: int, hi: int | None) -> str:
    cond = f"age >= {lo}" + (f" AND age <= {hi}" if hi is not None else "")
    return cond


@probe(
    "a32_backlog_aging",
    oracle=f"""
    WITH open_o AS (
      SELECT r.r_name AS region,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       DATE '{_A32_ASOF}') AS age,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE o.o_orderstatus <> 'F'
        AND CAST(o.o_orderdate AS DATE) < DATE '{_A32_ASOF}')
    SELECT region,
           CAST(count(*) FILTER (WHERE {_a32_bucket_sql(0, 30)}) AS BIGINT)
             AS n_0_30,
           CAST(coalesce(sum(cents) FILTER (WHERE {_a32_bucket_sql(0, 30)}), 0)
                AS BIGINT) AS cents_0_30,
           CAST(count(*) FILTER (WHERE {_a32_bucket_sql(31, 60)}) AS BIGINT)
             AS n_31_60,
           CAST(coalesce(sum(cents) FILTER (WHERE {_a32_bucket_sql(31, 60)}), 0)
                AS BIGINT) AS cents_31_60,
           CAST(count(*) FILTER (WHERE {_a32_bucket_sql(61, 90)}) AS BIGINT)
             AS n_61_90,
           CAST(coalesce(sum(cents) FILTER (WHERE {_a32_bucket_sql(61, 90)}), 0)
                AS BIGINT) AS cents_61_90,
           CAST(count(*) FILTER (WHERE age > 90) AS BIGINT) AS n_90_plus,
           CAST(coalesce(sum(cents) FILTER (WHERE age > 90), 0) AS BIGINT)
             AS cents_90_plus,
           CAST(count(*) AS BIGINT) AS n_open,
           CAST(sum(cents) AS BIGINT) AS cents_open
    FROM open_o GROUP BY region
    """,
)
def a32_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32 — open-order backlog aging as of {_A32_ASOF} (block comment
    above): age buckets 0-30/31-60/61-90/90+ days per region, order
    counts and exact cents per bucket from ONE conditional aggregation.
    The oracle replays the age arithmetic, the bucket edges, and every
    integer sum."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    asof = F.to_date(F.lit(_A32_ASOF))
    base = (
        o.filter(
            (F.col("o_orderstatus") != "F")
            & (F.to_date("o_orderdate") < asof)
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.datediff(asof, F.to_date("o_orderdate")).alias("age"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
                "cents"
            ),
        )
    )

    def _bucket(lo: int, hi: int | None) -> F.Column:
        cond = F.col("age") >= lo
        if hi is not None:
            cond = cond & (F.col("age") <= hi)
        return cond

    def _n(cond: F.Column) -> F.Column:
        return F.count(F.when(cond, F.lit(1))).cast("long")

    def _cents(cond: F.Column) -> F.Column:
        return F.coalesce(
            F.sum(F.when(cond, F.col("cents"))), F.lit(0)
        ).cast("long")

    return base.groupBy("region").agg(
        _n(_bucket(0, 30)).alias("n_0_30"),
        _cents(_bucket(0, 30)).alias("cents_0_30"),
        _n(_bucket(31, 60)).alias("n_31_60"),
        _cents(_bucket(31, 60)).alias("cents_31_60"),
        _n(_bucket(61, 90)).alias("n_61_90"),
        _cents(_bucket(61, 90)).alias("cents_61_90"),
        _n(F.col("age") > 90).alias("n_90_plus"),
        _cents(F.col("age") > 90).alias("cents_90_plus"),
        F.count(F.lit(1)).alias("n_open"),
        F.sum("cents").cast("long").alias("cents_open"),
    )


# ---------------------------------------------------------------------------
# F20 — SQL-defined scalar UDFs (Spark 4 CREATE FUNCTION … RETURN): the
# API surface that lets a platform ship reusable business logic (risk
# bands, fee schedules) WITHOUT Python UDFs — the definition is SQL, so
# Catalyst inlines the body at plan time and the hot path stays inside
# WholeStageCodegen (no BatchEvalPython node ever exists; the
# registry-wide tripwire in tests/test_plans.py certifies that for this
# probe like every other). The probe declares a banding UDF plus a
# second UDF COMPOSED from the first (composition is where SQL UDFs
# earn their keep over copy-pasted CASE), applies them over customer
# balances, and rolls up a per-(segment, band) panel in exact integer
# cents. The oracle inlines the same bodies by hand — certifying that
# definition-site SQL and call-site expansion agree.
# ---------------------------------------------------------------------------


@probe(
    "f20_sql_udf",
    oracle="""
    WITH banded AS (
      SELECT c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'negative'
                  WHEN c_acctbal < 5000 THEN 'low'
                  ELSE 'high' END AS band,
             (CASE WHEN c_acctbal < 0 THEN 'negative'
                   WHEN c_acctbal < 5000 THEN 'low'
                   ELSE 'high' END) = 'high' AS is_high,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer)
    SELECT c_mktsegment, band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS balance_cents,
           CAST(count(*) FILTER (WHERE is_high) AS BIGINT) AS n_high
    FROM banded GROUP BY 1, 2
    """,
)
def f20_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 — SQL scalar UDFs, declared then composed (block comment
    above): acct_band(bal) bands balances, f20_is_high(bal) is defined
    IN TERMS OF acct_band, and the panel groups customers by
    (segment, band) with exact-cents mass. The oracle hand-inlines both
    bodies, so the hash certifies Catalyst's definition expansion."""
    from realtime_financial_transactions_data_pipeline_spark.tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION f20_acct_band(bal DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN bal < 0 THEN 'negative' "
        "WHEN bal < 5000 THEN 'low' ELSE 'high' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION f20_is_high(bal DOUBLE) "
        "RETURNS BOOLEAN RETURN f20_acct_band(bal) = 'high'"
    )
    return spark.sql(
        """
        SELECT c_mktsegment, f20_acct_band(c_acctbal) AS band,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS balance_cents,
               CAST(count_if(f20_is_high(c_acctbal)) AS BIGINT) AS n_high
        FROM customer GROUP BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# A33 — ABC (Pareto) classification: rank parts by revenue, walk the
# cumulative revenue share, and band A (first 80 %), B (to 95 %), C
# (rest) — the inventory-management classic behind every "20 % of SKUs
# drive 80 % of revenue" slide. This is a GLOBAL rank + running-sum
# over the per-part rollup — exactly the shape the r16
# de-SinglePartition work exists for — so it rides the x27 two-phase
# pattern: range-partition on (cents desc, partkey), ONE bounded
# #partitions-row collect feeding both prefix maps (rank offsets,
# cumsum offsets) and the grand total, in-partition windows keyed by
# _pid. Class edges compare cum against exact integer thresholds
# floor(total·80/100) / floor(total·95/100) precomputed driver-side
# from the already-collected Python-int total — equivalent to the
# cross-product form cum·100 <= total·80 (cum is integral) but immune
# to int64 overflow once total deci-mills exceeds ~9.2e16 (~1000× the
# sf0.1 base; the DuckDB oracle widens to HUGEINT so the cross-product
# stays exact THERE, and small-scale oracle runs could never catch a
# Spark-side wrap — ADVICE r16). No float touches the banding. At
# 100 TB the part
# dimension is hundreds of millions of rows — the naive
# `sum(...) OVER (ORDER BY ...)` would one-task it; this never builds
# a partition beyond 1/32 of the relation (global-window tripwire
# covers the probe like every other).
# ---------------------------------------------------------------------------


@probe(
    "a33_abc_classification",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS partkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS dmills
      FROM lineitem GROUP BY 1),
    t AS (SELECT sum(dmills) AS total FROM pr),
    r AS (SELECT partkey, dmills,
                 sum(dmills) OVER (ORDER BY dmills DESC, partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
          FROM pr),
    c AS (SELECT partkey, dmills,
                 CASE WHEN cum * 100 <= total * 80 THEN 'A'
                      WHEN cum * 100 <= total * 95 THEN 'B'
                      ELSE 'C' END AS abc
          FROM r, t)
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(dmills) AS BIGINT) AS revenue_dmills,
           CAST(sum(partkey) AS BIGINT) AS part_checksum,
           round(sum(dmills) / (SELECT CAST(total AS DOUBLE) FROM t), 6)
             AS revenue_share
    FROM c GROUP BY abc
    """,
)
def a33_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33 — Pareto/ABC banding of parts by revenue (block comment
    above): per-part exact deci-mills, global revenue-desc running
    share via the two-phase range-partitioned cumsum (no
    SinglePartition window), integer cross-product class edges at
    80 %/95 %, per-class panel with a part-key checksum pinning exact
    membership. The oracle is the naive global-window SQL."""
    from pyspark.sql import Window

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        pinned_range_layout,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000,
                0,
            ).cast("long")
        ).alias("dmills")
    )
    order = [F.col("dmills").desc(), F.col("partkey")]
    parted = pinned_range_layout(pr, order, 32)
    stats = sorted(
        parted.groupBy("_pid")
        .agg(F.sum("dmills").alias("s"))
        .collect(),
        key=lambda r: r._pid,
    )
    cum_off, total = {}, 0
    for row in stats:
        cum_off[row._pid] = total
        total += row.s
    cum_map = F.expr(
        "map(" + ",".join(f"{p}, {o}L" for p, o in cum_off.items()) + ")"
    )
    w = Window.partitionBy("_pid").orderBy(*order)
    cum = parted.select(
        "partkey",
        "dmills",
        (
            F.element_at(cum_map, F.col("_pid"))
            + F.sum("dmills").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cum"),
    )
    # Exact integer thresholds (Python-int arithmetic, never wraps):
    # cum <= floor(total*k/100)  <=>  cum*100 <= total*k  for integral
    # cum — same banding, no int64 overflow at 1000x sf0.1 scale.
    thr_a, thr_b = total * 80 // 100, total * 95 // 100
    abc = cum.select(
        "partkey",
        "dmills",
        F.when(F.col("cum") <= F.lit(thr_a), F.lit("A"))
        .when(F.col("cum") <= F.lit(thr_b), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    return abc.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("dmills").cast("long").alias("revenue_dmills"),
        F.sum("partkey").cast("long").alias("part_checksum"),
        dround(F.sum("dmills") / F.lit(float(total)), 6).alias(
            "revenue_share"
        ),
    )


# ---------------------------------------------------------------------------
# A34 — market-basket association rules (support / confidence / lift —
# the Agrawal-Srikant frequent-itemset mechanics behind every
# "customers who bought X also bought Y" panel, at the pairwise level
# that needs no candidate lattice). Basket = order, item = part BRAND
# (the part dimension is broadcast; raw partkeys co-occur ~once each
# at any scale, brands give statistically meaningful co-occurrence).
# Scale shape: the directed pair relation comes from a SELF-EQUI-JOIN
# on the basket key — pairs per basket are bounded by basket size
# (TPC-H ≤ 7 lines), so the join output is O(baskets · b²) with tiny
# b, never item² — then two broadcast joins attach the item margins
# and the scalar basket count. All statistics derive from exact
# integer counts; the only doubles are the final three ratios
# (identical IEEE division in both engines), so the lift-ordered
# top-20 cut is deterministic.
# ---------------------------------------------------------------------------

_A34_MINSUP = 50  # minimum pair support (basket count)


@probe(
    "a34_association_rules",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
    ic AS (SELECT item, count(*) AS item_cnt FROM b GROUP BY item),
    pc AS (
      SELECT a.item AS antecedent, c.item AS consequent,
             count(*) AS pair_cnt
      FROM b a JOIN b c ON a.basket = c.basket AND a.item <> c.item
      GROUP BY 1, 2),
    r AS (
      SELECT antecedent, consequent, pair_cnt,
             ia.item_cnt AS ant_cnt, ic2.item_cnt AS cons_cnt, n.n_baskets
      FROM pc
      JOIN ic ia ON ia.item = pc.antecedent
      JOIN ic ic2 ON ic2.item = pc.consequent
      CROSS JOIN n
      WHERE pair_cnt >= {_A34_MINSUP})
    SELECT antecedent, consequent,
           CAST(pair_cnt AS BIGINT) AS pair_cnt,
           round(pair_cnt / CAST(n_baskets AS DOUBLE), 6) AS support,
           round(pair_cnt / CAST(ant_cnt AS DOUBLE), 6) AS confidence,
           round(pair_cnt * CAST(n_baskets AS DOUBLE)
                 / (ant_cnt * CAST(cons_cnt AS DOUBLE)), 4) AS lift
    FROM r
    ORDER BY lift DESC, antecedent, consequent LIMIT 20
    """,
)
def a34_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34 — pairwise association rules over order baskets of part
    brands (block comment above): directed pair counts from the
    basket-key self-join, broadcast margins, exact-integer support
    filter, lift-ranked top-20 with full deterministic tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Deliberately NOT persisted although four branches consume it
    # (r17 optimization note): the subtree is one broadcast join + a
    # distinct — cheap and fully codegen'd — and caching it was
    # MEASURED 4x slower (3.8 -> 14.7 s min at sf0.1: building the
    # compressed columnar cache plus four decompressing
    # InMemoryTableScans costs far more than three recomputes).
    b = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n = b.select(F.countDistinct("basket").alias("n_baskets"))
    ic = b.groupBy("item").agg(F.count(F.lit(1)).alias("item_cnt"))
    a = b.select(F.col("basket"), F.col("item").alias("antecedent"))
    c = b.select(F.col("basket"), F.col("item").alias("consequent"))
    pc = (
        a.join(c, "basket")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= _A34_MINSUP)
    )
    r = (
        pc.join(
            F.broadcast(ic.select(F.col("item").alias("antecedent"),
                                  F.col("item_cnt").alias("ant_cnt"))),
            "antecedent",
        )
        .join(
            F.broadcast(ic.select(F.col("item").alias("consequent"),
                                  F.col("item_cnt").alias("cons_cnt"))),
            "consequent",
        )
        .crossJoin(F.broadcast(n))
    )
    return (
        r.select(
            "antecedent",
            "consequent",
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            dround(F.col("pair_cnt") / F.col("n_baskets").cast("double"), 6).alias("support"),
            dround(F.col("pair_cnt") / F.col("ant_cnt").cast("double"), 6).alias("confidence"),
            dround(
                F.col("pair_cnt") * F.col("n_baskets").cast("double")
                / (F.col("ant_cnt") * F.col("cons_cnt").cast("double")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# SQL4 — parameterized SQL (Spark 3.4+/4 named parameter markers:
# `spark.sql(text, args={...})`): the API seam that kills string
# interpolation in production SQL — parameters bind as typed literals
# at PARSE time (never string-spliced, so a value can't change query
# structure: the injection-safety and plan-cache story), and the same
# text re-runs under different bindings. The probe runs ONE template —
# the revenue-by-status panel windowed on [:lo, :hi) with a minimum
# order total :floor — under two different binding sets and returns
# both panels tagged by run, so the hash certifies (a) marker binding
# of dates, numerics, and a string, (b) re-execution of identical text
# with different args, (c) agreement with the literal-SQL oracle.
# Catalyst folds bound parameters to literals before optimization, so
# pushdown/pruning behave exactly as with inline constants.
# ---------------------------------------------------------------------------

_SQL4_RUNS = {
    "fy95_big": {"lo": "1995-01-01", "hi": "1996-01-01", "floor": 150000.0},
    "fy97_all": {"lo": "1997-01-01", "hi": "1998-01-01", "floor": 0.0},
}


@probe(
    "sql4_parameterized_query",
    oracle="""
    WITH runs AS (
      SELECT 'fy95_big' AS run, DATE '1995-01-01' AS lo,
             DATE '1996-01-01' AS hi, 150000.0 AS flr
      UNION ALL
      SELECT 'fy97_all', DATE '1997-01-01', DATE '1998-01-01', 0.0)
    SELECT r.run, o.o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(floor(sum(o.o_totalprice) * 100 + 0.5) AS BIGINT)
             AS revenue_cents
    FROM runs r JOIN orders o
      ON o.o_orderdate >= r.lo AND o.o_orderdate < r.hi
         AND o.o_totalprice >= r.flr
    GROUP BY 1, 2
    """,
)
def sql4_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL4 — one parameterized template executed under two binding
    sets (block comment above); the union of the tagged panels must
    match the literal-SQL oracle."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sql4_orders")
    template = """
        SELECT :run AS run, o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT)
                 AS revenue_cents
        FROM sql4_orders
        WHERE o_orderdate >= CAST(:lo AS DATE)
          AND o_orderdate < CAST(:hi AS DATE)
          AND o_totalprice >= :floor
        GROUP BY o_orderstatus
    """
    out = None
    for run, args in _SQL4_RUNS.items():
        part = spark.sql(template, args={"run": run, **args})
        out = part if out is None else out.unionByName(part)
    return out
