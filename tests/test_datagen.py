"""Data-generator tests (F13/F14, FIXTURES §A): distribution invariants
of the seeded generator, surrogate-id collision freedom, star-schema
materialization + the dashboard suite on the reference's own schema."""

from __future__ import annotations


from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.sources import datagen



def test_weighted_choice_respects_weights(spark):
    """F13: the when-chain over one *materialized* uniform draw
    reproduces the declared mix to within sampling error (n=50k ⇒ ±2%).
    The draw must come through _with_draws — a raw F.rand() Column would
    put desynchronized Rand instances in each branch (see _with_draws)."""
    drawn = datagen._with_draws(spark.range(0, 50_000, 1, 8), {"_u": 1})
    df = drawn.select(
        datagen.weighted_choice(
            F.col("_u"), [("a", 0.2), ("b", 0.7), ("c", 1.0)]
        ).alias("v")
    )
    mix = {r.v: r.n / 50_000 for r in df.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(mix["a"] - 0.2) < 0.02
    assert abs(mix["b"] - 0.5) < 0.02
    assert abs(mix["c"] - 0.3) < 0.02


def test_surrogate_ids_unique_and_stable(spark):
    """F14: sha2-truncated ids collide never (at this scale) and are
    identical across invocations (re-run stability)."""
    a = datagen.gen_fact_transactions(spark, 5000).select("transaction_id")
    assert a.distinct().count() == 5000
    b = datagen.gen_fact_transactions(spark, 5000).select("transaction_id")
    assert a.exceptAll(b).count() == 0


def test_fact_invariants(spark):
    """Generator bands from the reference: total = amount+tax-discount;
    risk high-band ≈ 20%; recurring ≈ 20% and always OPG; card columns
    null exactly off card channels (pipeline.py:101-104 shape)."""
    fact = datagen.gen_fact_transactions(spark, 50_000).cache()
    bad_total = fact.filter(
        F.abs(F.col("total_amount") - (F.col("amount") + F.col("tax_amount") - F.col("discount_amount"))) > 0.011
    ).count()
    assert bad_total == 0
    n = fact.count()
    high = fact.filter(F.col("risk_score") >= 0.6).count() / n
    assert abs(high - 0.2) < 0.02
    rec = fact.filter("is_recurring").cache()
    assert abs(rec.count() / n - 0.2) < 0.02
    assert rec.filter(F.col("transaction_channel") != "Online Payment Gateway").count() == 0
    assert (
        fact.filter(
            F.col("transaction_channel").isin("POS", "Online Payment Gateway")
            & F.col("card_token").isNull()
        ).count()
        == 0
    )
    assert (
        fact.filter(
            ~F.col("transaction_channel").isin("POS", "Online Payment Gateway")
            & F.col("card_token").isNotNull()
        ).count()
        == 0
    )
    fact.unpersist()
    rec.unpersist()


def test_dim_account_close_after_open(spark):
    acc = datagen.gen_dim_account(spark, 500)
    closed = acc.filter(F.col("close_date_id").isNotNull())
    assert closed.filter(F.col("close_date_id") <= F.col("open_date_id")).count() == 0
    assert acc.filter(
        (F.col("account_status") == "Closed") & F.col("close_date_id").isNull()
    ).count() == 0


def test_time_dim_shape(spark):
    td = datagen.gen_time_dim(spark)
    assert td.count() == 86400
    row = td.filter(F.col("time_id") == 13 * 3600 + 30 * 60 + 15).collect()[0]
    assert (row.hour, row.minute, row.second, row.period) == (13, 30, 15, "PM")


def test_generated_dashboard_charts_probe(spark):
    """a8b probe semantics: all 28 generated states appear, slicers
    contain the output (volume can't exceed the unsliced fact), and avg
    risk stays within the generator's [0, 1] band."""
    out = datagen.a8b_generated_dashboard_charts(spark, "").collect()
    assert len(out) == 28  # dim_customer generates state_0..state_27
    assert sum(r.volume for r in out) <= 50_000
    assert all(0.0 <= r.avg_risk <= 1.0 for r in out)


def test_star_schema_write_and_dashboard(spark, tmp_path):
    """Materialize the star schema (fact partitioned by date) and run a
    dashboard-style slice: join fact→date_dim, filter a date range,
    group by channel — the reference's analytics path on its own schema."""
    root = str(tmp_path / "star")
    datagen.write_star_schema(spark, root, n_fact=5000)
    fact = spark.read.parquet(f"{root}/fact_transactions")
    chan = spark.read.parquet(f"{root}/dim_transaction_channel")
    out = (
        fact.filter(F.col("transaction_date").between("2023-06-01", "2024-05-31"))
        .join(
            F.broadcast(chan),
            fact.transaction_channel == chan.transaction_channel_name,
        )
        .groupBy("transaction_channel_name")
        .agg(F.sum("total_amount").alias("revenue"), F.count(F.lit(1)).alias("volume"))
    )
    rows = out.collect()
    assert len(rows) == 4
    assert all(r.revenue > 0 and r.volume > 0 for r in rows)
    # partition pruning: the date filter must prune fact partitions
    pruned = fact.filter(F.col("transaction_date") == "2023-06-15")
    assert pruned.count() > 0
