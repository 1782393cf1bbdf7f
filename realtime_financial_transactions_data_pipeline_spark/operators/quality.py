"""Declarative data-quality expectations — the Delta Live Tables /
Great Expectations pattern, generalizing the reference's binary
validation routing (P4, `dataflow_pipeline/pipeline.py:108-139`: one
hard-coded predicate, two branches) into a rule SET with per-rule
accounting.

One pass produces three things from a dict of named boolean rules:

* **metrics** — per-rule pass/fail counts via conditional aggregation
  (one `agg` of `sum(when(...))` pairs → long form through a 1-row
  explode, the same shape as the profiler). No shuffle beyond the
  single global aggregate; every term is partial-aggregable.
* **valid rows** — `filter(AND of all rules)`: stays a scan-level
  predicate, pushes down like any other filter.
* **quarantine rows** — the complement, annotated with a
  `failed_rules` array naming exactly which expectations each row
  violated (the triage column a dead-letter consumer needs) — built
  from the same rule expressions with `array_compact`, all codegen.

At 100 TB: rules are ordinary boolean columns, so the whole gate is
scan + filter + one global agg; nothing is per-rule passes. The
valid/quarantine split reuses the P4/K2 dual-sink routing downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.registry import (
    pin_result,
    probe,
    probe_scratch,
)
from realtime_financial_transactions_data_pipeline_spark.tables import load_table


def expectation_metrics(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Per-rule accounting in ONE aggregate: (rule_name, n_pass,
    n_fail, fail_pct). A null rule result counts as a failure (the
    conservative gate — unknown is not valid)."""
    aggs = []
    for name, cond in rules.items():
        ok = F.coalesce(cond.cast("boolean"), F.lit(False))
        aggs += [
            F.sum(ok.cast("long")).alias(f"p_{name}"),
            F.sum((~ok).cast("long")).alias(f"f_{name}"),
        ]
    onerow = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(name).alias("rule_name"),
            F.col(f"p_{name}").alias("n_pass"),
            F.col(f"f_{name}").alias("n_fail"),
        )
        for name in rules
    ]
    return onerow.select(F.explode(F.array(*structs)).alias("m")).select("m.*")


def split_by_expectations(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): valid rows satisfy every rule; quarantine
    rows carry a `failed_rules` array naming each violated rule in
    declaration order. Null rule results quarantine."""
    oks = {
        name: F.coalesce(cond.cast("boolean"), F.lit(False))
        for name, cond in rules.items()
    }
    all_ok = F.lit(True)
    for ok in oks.values():
        all_ok = all_ok & ok
    valid = df.filter(all_ok)
    failed = F.array_compact(
        F.array(
            *[F.when(~ok, F.lit(name)) for name, ok in oks.items()]
        )
    )
    quarantine = df.filter(~all_ok).withColumn("failed_rules", failed)
    return valid, quarantine


def event_rules() -> dict[str, Column]:
    """The probe's rule set over `events` — shared by the probe and its
    tests so the two can't drift."""
    return {
        "value_non_negative": F.col("value") >= 0,
        "user_id_present": F.col("user_id").isNotNull(),
        "known_event_type": F.col("event_type").isin(
            "click", "view", "purchase", "signup"
        ),
        "ts_in_2024": F.year("ts") == 2024,
    }


@probe(
    "dq1_expectation_metrics",
    oracle="""
    SELECT 'value_non_negative' AS rule_name,
           CAST(sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
    FROM events
    UNION ALL
    SELECT 'user_id_present',
           CAST(sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'known_event_type',
           CAST(sum(CASE WHEN event_type IN ('click','view','purchase','signup')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN event_type IN ('click','view','purchase','signup')
                         THEN 0 ELSE 1 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'ts_in_2024',
           CAST(sum(CASE WHEN EXTRACT(year FROM ts) = 2024 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN EXTRACT(year FROM ts) = 2024 THEN 0 ELSE 1 END) AS BIGINT)
    FROM events
    """,
)
def dq1_expectation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite accounting over `events`: four declarative
    rules, per-rule pass/fail counts from one scan + one aggregate
    (the oracle needs four scans)."""
    e = load_table(spark, sf_dir, "events")
    return expectation_metrics(e, event_rules())


def referential_audit(
    facts: dict[str, tuple[DataFrame, str, DataFrame, str]],
    broadcast_parents: frozenset[str] | set[str] = frozenset(),
) -> DataFrame:
    """Star-schema referential-integrity audit: for each named FK edge
    (child_df, fk_col, parent_df, pk_col), report child row count,
    distinct FK values, and orphan rows (FKs with no parent). Orphans
    come from a left_anti join; the broadcast hint is applied ONLY for
    edges named in ``broadcast_parents`` (known-small dimension
    parents) — a fact-sized parent key set (e.g. every distinct
    o_orderkey under lineitem->orders) must shuffle-anti-join instead,
    or it OOMs the executors at scale; unhinted edges are left to AQE.
    Each edge costs one pass over the child; counts are
    partial-aggregable."""
    results = None
    for name, (child, fk, parent, pk) in facts.items():
        keys = parent.select(F.col(pk).alias(fk)).distinct()
        if name in broadcast_parents:
            keys = F.broadcast(keys)
        orphans = child.join(keys, fk, "left_anti")
        row = child.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(fk).alias("n_fk_values"),
        ).crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
        results = row if results is None else results.unionByName(row)
    return results.select("fk", "n_rows", "n_fk_values", "n_orphans")


@probe(
    "dq2_referential_audit",
    oracle="""
    SELECT 'orders->customer' AS fk,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT count(DISTINCT o_custkey) FROM orders) AS BIGINT) AS n_fk_values,
           CAST((SELECT count(*) FROM orders o LEFT JOIN customer c
                 ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS BIGINT)
             AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
                 ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(DISTINCT c_nationkey) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer c LEFT JOIN nation n
                 ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'supplier->nation',
           CAST((SELECT count(*) FROM supplier) AS BIGINT),
           CAST((SELECT count(DISTINCT s_nationkey) FROM supplier) AS BIGINT),
           CAST((SELECT count(*) FROM supplier s LEFT JOIN nation n
                 ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'nation->region',
           CAST((SELECT count(*) FROM nation) AS BIGINT),
           CAST((SELECT count(DISTINCT n_regionkey) FROM nation) AS BIGINT),
           CAST((SELECT count(*) FROM nation n LEFT JOIN region r
                 ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL) AS BIGINT)
    """,
)
def dq2_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the whole star schema: every
    FK edge's row count, distinct-key count, and orphan count. On sound
    data orphans are zero — the probe's value is the accounting columns
    proving each edge was actually checked (counts differ per edge), and
    at 100 TB each edge stays one broadcast anti-join pass over its
    child table."""
    t = lambda n: load_table(spark, sf_dir, n)  # noqa: E731
    edges = {
        "orders->customer": (t("orders"), "o_custkey", t("customer"), "c_custkey"),
        "lineitem->orders": (t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
        "customer->nation": (t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
        "supplier->nation": (t("supplier"), "s_nationkey", t("nation"), "n_nationkey"),
        "nation->region": (t("nation"), "n_regionkey", t("region"), "r_regionkey"),
    }
    # lineitem->orders is deliberately NOT hinted: orders' key set is
    # fact-sized, so that edge shuffle-anti-joins (AQE may still pick
    # broadcast at tiny SF, but never by our forced hint).
    dims = {"orders->customer", "customer->nation",
            "supplier->nation", "nation->region"}
    return referential_audit(edges, broadcast_parents=dims)


# ---------------------------------------------------------------------------
# DQ3 — distribution-drift audit (population stability index). The
# production check that catches silent upstream changes the row-level
# expectations (dq1) can't: every row individually valid, but the
# DISTRIBUTION shifted. PSI per bin = (share_b - share_a) ·
# ln(share_b / share_a); the industry rule of thumb flags a column at
# Σ PSI > 0.1 (monitor) / > 0.25 (act).
# ---------------------------------------------------------------------------


def psi_drift(
    old: DataFrame, new: DataFrame, bin_col: Column, n_rows_hint: str = "bin"
) -> DataFrame:
    """Per-bin PSI between two snapshots over a shared binning
    expression: one aggregate per side (map-side combined), a 1-row
    broadcast total per side, and a full-outer bin join — bins are
    bounded by the binning law, so everything after the two scans is
    metadata-sized. Laplace-style +1 smoothing keeps empty bins finite
    (and is replayed identically by the oracle)."""
    a = old.groupBy(bin_col.alias(n_rows_hint)).agg(
        F.count(F.lit(1)).alias("n_old")
    )
    b = new.groupBy(bin_col.alias(n_rows_hint)).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    joined = (
        a.join(b, n_rows_hint, "full_outer")
        .na.fill({"n_old": 0, "n_new": 0})
        .crossJoin(
            F.broadcast(
                a.agg(F.sum("n_old").alias("_ta")).crossJoin(
                    b.agg(F.sum("n_new").alias("_tb"))
                )
            )
        )
    )
    # +1 smoothing on counts (not shares): deterministic, engine-portable.
    sa = (F.col("n_old") + 1).cast("double") / (F.col("_ta") + 1)
    sb = (F.col("n_new") + 1).cast("double") / (F.col("_tb") + 1)
    return joined.select(
        n_rows_hint,
        "n_old",
        "n_new",
        sa.alias("_sa"),
        sb.alias("_sb"),
        ((sb - sa) * F.log(sb / sa)).alias("_psi"),
    )


_DQ3_BINS = 10  # value in [0, 100): decile-width fixed bins


@probe(
    "dq3_psi_drift",
    oracle=f"""
    WITH e AS (
      SELECT CAST(floor(value / {_DQ3_BINS}) AS BIGINT) AS bin,
             event_id % 2 = 0 AS is_old
      FROM events WHERE value >= 0 AND value < 100),
    a AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_old FROM e WHERE is_old GROUP BY bin),
    b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_new FROM e WHERE NOT is_old GROUP BY bin),
    t AS (SELECT (SELECT sum(n_old) FROM a) AS ta, (SELECT sum(n_new) FROM b) AS tb),
    j AS (
      SELECT COALESCE(a.bin, b.bin) AS bin,
             COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
      FROM a FULL OUTER JOIN b ON a.bin = b.bin),
    s AS (
      SELECT bin, n_old, n_new,
             CAST(n_old + 1 AS DOUBLE) / (ta + 1) AS sa,
             CAST(n_new + 1 AS DOUBLE) / (tb + 1) AS sb
      FROM j, t)
    SELECT bin, n_old, n_new,
           round(sa * 1000000) / 1000000 AS share_old,
           round(sb * 1000000) / 1000000 AS share_new,
           round((sb - sa) * ln(sb / sa) * 1000000) / 1000000 AS psi_term
    FROM s
    """,
)
def dq3_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3 — PSI drift between the even-event_id half of `events`
    (snapshot A) and the odd half (snapshot B), binned by fixed
    decile-width value buckets (fixed bins, not data-derived
    quantiles, so the binning law is engine-portable). Emits per-bin
    counts, smoothed shares, and the PSI term, all dround-ed so the
    hash certifies the drift arithmetic — ln is IEEE libm in both
    engines and the 1e-6 rounding absorbs any last-ulp disagreement.
    At 100 TB: two map-side-combined aggregates + a bins-sized join —
    the corpus is scanned once per side and never shuffled."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )

    e = load_table(spark, sf_dir, "events").filter(
        (F.col("value") >= 0) & (F.col("value") < 100)
    )
    old = e.filter(F.col("event_id") % 2 == 0)
    new = e.filter(F.col("event_id") % 2 != 0)
    drift = psi_drift(
        old, new, F.floor(F.col("value") / _DQ3_BINS).cast("long"), "bin"
    )
    return drift.select(
        "bin",
        "n_old",
        "n_new",
        dround("_sa", 6).alias("share_old"),
        dround("_sb", 6).alias("share_new"),
        dround("_psi", 6).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# DQ4 — schema-drift audit: the catalog-side complement of the data-
# side PSI drift (dq3) and the read-side evolution merge (s9). Given
# two generations of a dataset, report per column: membership in each
# generation, the drift class (added / removed / stable), the declared
# type on each side, and the DATA impact under an evolution-merged read
# (how many live rows actually carry the column vs read it as null) —
# the accounting a schema-registry gate or a migration runbook needs
# before flipping consumers to the merged view.
# ---------------------------------------------------------------------------


def schema_drift_report(
    spark: SparkSession, gen0_dir: str, gen1_dir: str
) -> DataFrame:
    """Diff two parquet generations' schemas (footer metadata — no data
    read) and account the merged read's per-column presence. The
    column-level diff is metadata-sized driver work by nature (a schema
    is not a dataset); the row accounting is ONE conditional aggregate
    over the mergeSchema scan."""
    s0 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(gen0_dir).schema.fields}
    s1 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(gen1_dir).schema.fields}
    cols = sorted(set(s0) | set(s1))

    def _status(c: str) -> str:
        if c in s0 and c in s1:
            return "stable" if s0[c] == s1[c] else "type_changed"
        return "added" if c in s1 else "removed"

    meta = spark.createDataFrame(
        [(c, c in s0, c in s1, _status(c), s0.get(c), s1.get(c)) for c in cols],
        "column string, in_gen0 boolean, in_gen1 boolean, status string,"
        " type_gen0 string, type_gen1 string",
    )
    # Positional aliases (_nn_<i>) + backticked source refs: a column
    # named "user.name" (pandas/JSON-flattening schemas — exactly what a
    # drift auditor sees) must count as a top-level column, not resolve
    # as struct-field access.
    try:
        merged = spark.read.option("mergeSchema", "true").parquet(gen0_dir, gen1_dir)
        counts = merged.agg(
            F.count(F.lit(1)).alias("_total"),
            *[F.count(F.col(f"`{c}`")).alias(f"_nn_{i}") for i, c in enumerate(cols)],
        )
    except Exception:  # noqa: BLE001 — incompatible type drift
        # Spark refuses to merge footers when a column's type changed
        # incompatibly (e.g. int→string) — exactly the drift class this
        # audit exists to surface. Fall back to per-generation scans:
        # a column is "present" in a merged-view row iff its source
        # generation declares it AND the value is non-null, so summing
        # the two generations' non-null counts (0 where undeclared)
        # reproduces the merged accounting without the merged read.
        def _gen_counts(d: str, s: dict) -> DataFrame:
            df = spark.read.parquet(d)
            return df.agg(
                F.count(F.lit(1)).alias("_total"),
                *[
                    (
                        F.count(F.col(f"`{c}`")) if c in s else F.lit(0).cast("long")
                    ).alias(f"_nn_{i}")
                    for i, c in enumerate(cols)
                ],
            )
        both = _gen_counts(gen0_dir, s0).unionAll(_gen_counts(gen1_dir, s1))
        counts = both.agg(
            F.sum("_total").alias("_total"),
            *[F.sum(f"_nn_{i}").alias(f"_nn_{i}") for i in range(len(cols))],
        )
    long = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"_nn_{i}").alias("n_rows_present"),
                        (F.col("_total") - F.col(f"_nn_{i}")).alias("n_rows_missing"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("r")
    ).select("r.*")
    return meta.join(F.broadcast(long), "column")


@probe(
    "dq4_schema_drift",
    oracle="""
    WITH g0 AS (SELECT n_nationkey FROM nation WHERE n_nationkey % 2 = 0),
         g1 AS (SELECT n_nationkey FROM nation WHERE n_nationkey % 2 = 1),
         tot AS (SELECT (SELECT count(*) FROM g0) + (SELECT count(*) FROM g1)
                   AS total, (SELECT count(*) FROM g1) AS n1)
    SELECT * FROM (
      SELECT 'n_nationkey' AS "column", TRUE AS in_gen0, TRUE AS in_gen1,
             'stable' AS status, 'int' AS type_gen0, 'int' AS type_gen1,
             CAST(total AS BIGINT) AS n_rows_present,
             CAST(0 AS BIGINT) AS n_rows_missing FROM tot
      UNION ALL
      SELECT 'n_name', TRUE, TRUE, 'stable', 'string', 'string',
             CAST(total AS BIGINT), CAST(0 AS BIGINT) FROM tot
      UNION ALL
      SELECT 'n_regionkey', FALSE, TRUE, 'added', NULL, 'int',
             CAST(n1 AS BIGINT), CAST(total - n1 AS BIGINT) FROM tot)
    """,
)
def dq4_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4 — schema-drift audit over the s9-style two-generation nation
    layout (gen0 written before ``n_regionkey`` existed over the even
    keys, gen1 after over the odd keys). The probe derives the report
    from the REAL parquet footers and a REAL mergeSchema scan; the
    oracle recomputes the expectation from the base table — which
    columns each generation declares is fixed by the build, while the
    row accounting (how many merged rows carry the added column vs
    null) is data-derived. Generalizes to any two generation dirs via
    :func:`schema_drift_report`."""
    from realtime_financial_transactions_data_pipeline_spark.sources.batch import (
        write_nation_generations,
    )

    with probe_scratch() as root:
        write_nation_generations(spark, sf_dir, root)
        return pin_result(schema_drift_report(spark, f"{root}/gen=0", f"{root}/gen=1"))


# ---------------------------------------------------------------------------
# dq5 — freshness / completeness SLA audit: the table-health questions
# a platform team asks of every ingested feed — when did data last
# arrive per key, what is the largest arrival gap, and what fraction of
# the expected cadence is actually covered. Pure date/int arithmetic
# over a per-(key, day) rollup: the audit scans the fact table ONCE
# into a metadata-sized daily frame, then a lag window per key finds
# gaps — at 100 TB the rollup is the only data-sized pass and it is a
# map-side-combinable count.
# ---------------------------------------------------------------------------

_DQ5_MAX_GAP_DAYS = 2


@probe(
    "dq5_freshness_audit",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2),
    g AS (SELECT event_type, day, n,
                 lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev
          FROM daily),
    a AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_active_days,
                 CAST(sum(n) AS BIGINT) AS n_rows,
                 CAST(strftime(min(day), '%Y-%m-%d') AS VARCHAR) AS first_day,
                 CAST(strftime(max(day), '%Y-%m-%d') AS VARCHAR) AS last_day,
                 CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
                   AS span_days,
                 CAST(coalesce(max(date_diff('day', prev, day)), 0) AS BIGINT)
                   AS max_gap_days
          FROM g GROUP BY 1)
    SELECT event_type, n_active_days, n_rows, first_day, last_day, span_days,
           max_gap_days,
           round(n_active_days / CAST(span_days AS DOUBLE), 4) AS completeness,
           max_gap_days <= {_DQ5_MAX_GAP_DAYS} AS freshness_ok
    FROM a
    """,
)
def dq5_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq5 — per-event-type freshness/completeness SLA card (block
    comment above): active-day count, row count, first/last arrival
    day, calendar span, largest day gap between consecutive arrivals,
    active-day coverage of the span, and the <= {_DQ5_MAX_GAP_DAYS}-day
    freshness verdict. Integer/date arithmetic end-to-end."""
    from pyspark.sql import Window

    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    g = daily.withColumn("prev", F.lag("day").over(w)).withColumn(
        "gap", F.datediff(F.col("day"), F.col("prev"))
    )
    a = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_active_days"),
        F.sum("n").cast("long").alias("n_rows"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        (F.datediff(F.max("day"), F.min("day")) + 1)
        .cast("long")
        .alias("span_days"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap_days"),
    )
    return a.select(
        "event_type",
        "n_active_days",
        "n_rows",
        "first_day",
        "last_day",
        "span_days",
        "max_gap_days",
        dround(
            F.col("n_active_days") / F.col("span_days").cast("double"), 4
        ).alias("completeness"),
        (F.col("max_gap_days") <= _DQ5_MAX_GAP_DAYS).alias("freshness_ok"),
    )


# ---------------------------------------------------------------------------
# dq6 — functional-dependency audit: does determinant → dependent hold?
# The profiling question behind key discovery, denormalization checks,
# and silent-corruption alarms (a dependency that held for years
# breaking is usually an upstream join gone wrong). One groupBy per
# candidate FD, each partial-aggregable; nothing row-wise.
# ---------------------------------------------------------------------------


@probe(
    "dq6_functional_dependency_audit",
    oracle="""
    WITH fds AS (
      SELECT 'o_custkey->custkey_bucket' AS fd,
             CAST(o_custkey AS VARCHAR) AS det,
             CAST(o_custkey % 5 AS VARCHAR) AS dep
      FROM orders
      UNION ALL
      SELECT 'c_nationkey->c_mktsegment',
             CAST(c_nationkey AS VARCHAR), c_mktsegment
      FROM customer
      UNION ALL
      SELECT 'o_custkey->o_orderpriority',
             CAST(o_custkey AS VARCHAR), o_orderpriority
      FROM orders),
    per_key AS (
      SELECT fd, det, count(DISTINCT dep) AS nd FROM fds GROUP BY 1, 2)
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT)
             AS n_violating_keys,
           CAST(max(nd) AS BIGINT) AS max_distinct_dependents,
           count(*) FILTER (WHERE nd > 1) = 0 AS holds
    FROM per_key GROUP BY fd
    """,
)
def dq6_functional_dependency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dq6 — audit three candidate functional dependencies: a
    derived-bucket dependency `o_custkey → o_custkey % 5` that holds by
    construction over MULTI-row determinant groups (~10 orders per
    customer — the non-trivial shape; a unique-key FD would hold
    vacuously), plus two that genuinely fail
    (`nationkey → mktsegment`, `custkey → orderpriority`), pinning the
    violation arithmetic on both sides of the boundary. Per FD: key
    count, violating-key count (determinants with >1 distinct
    dependent), worst fan-out, and the holds flag. Each audit is one
    groupBy + one global agg — both partial-aggregable, so at 100 TB
    this is three scan-shaped passes (or one, if the optimizer shares
    the customer scan) with no row-wise machinery."""

    def _audit(df: DataFrame, det: Column, dep: Column, name: str) -> DataFrame:
        per_key = df.select(det.alias("det"), dep.alias("dep")).groupBy(
            "det"
        ).agg(F.countDistinct("dep").alias("nd"))
        return per_key.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_keys"),
            F.count(F.when(F.col("nd") > 1, F.lit(1))).alias(
                "n_violating_keys"
            ),
            F.max("nd").alias("max_distinct_dependents"),
        ).withColumn("holds", F.col("n_violating_keys") == 0)

    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        _audit(o, F.col("o_custkey"), F.col("o_custkey") % 5,
               "o_custkey->custkey_bucket")
        .unionByName(
            _audit(c, F.col("c_nationkey"), F.col("c_mktsegment"),
                   "c_nationkey->c_mktsegment")
        )
        .unionByName(
            _audit(o, F.col("o_custkey"), F.col("o_orderpriority"),
                   "o_custkey->o_orderpriority")
        )
    )


# ---------------------------------------------------------------------------
# dq7 — Benford first-digit audit: the classic forensic-accounting
# screen for fabricated or truncated financial amounts (Nigrini's
# digit-frequency test — exactly the alarm a transaction-pipeline
# owner wants on a new upstream feed). The first significant digit is
# extracted on the EXACT integer-cents route (substr of the bigint's
# decimal string — no log10 on doubles, whose edge behavior at powers
# of ten differs per libm), the nine Benford probabilities bind as
# shortest-roundtrip double literals identical in both engines, and
# every χ² term is computed per digit from exact bigint counts, so the
# whole panel is bit-deterministic. One scan per measure + one 18-group
# aggregate; partial-aggregable, scan-shaped at 100 TB.
# ---------------------------------------------------------------------------

#: digit -> log10(1 + 1/d), shortest-roundtrip literals (both engines
#: parse these to the identical IEEE double).
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}


def _dq7_oracle() -> str:
    case = " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items())
    return f"""
    WITH src AS (
      SELECT 'o_totalprice' AS measure,
             CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
      UNION ALL
      SELECT 'l_extendedprice',
             CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INT)
      FROM lineitem),
    counts AS (SELECT measure, digit, count(*) AS n_obs
               FROM src GROUP BY 1, 2),
    tot AS (SELECT measure, CAST(sum(n_obs) AS BIGINT) AS n_total
            FROM counts GROUP BY 1),
    j AS (SELECT c.measure, c.digit, c.n_obs, t.n_total,
                 CAST(CASE c.digit {case} END AS DOUBLE) AS p
          FROM counts c JOIN tot t USING (measure))
    SELECT measure, digit,
           CAST(n_obs AS BIGINT) AS n_obs,
           CAST(n_total AS BIGINT) AS n_total,
           p AS benford_p,
           round(n_total * p, 4) AS expected_n,
           round(n_obs * 1.0 / n_total, 6) AS obs_share,
           round((n_obs - n_total * p) * (n_obs - n_total * p)
                 / (n_total * p), 6) AS chi2_term
    FROM j
    """


@probe("dq7_benford_audit", oracle=_dq7_oracle())
def dq7_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq7 — Benford's-law conformance of the two price measures
    (orders.o_totalprice, lineitem.l_extendedprice): per first digit,
    the observed count, Benford expectation n·log10(1+1/d), observed
    share, and the χ² contribution (block comment above for the
    exact-arithmetic discipline). TPC-H prices are sums of uniform
    part costs — NOT Benford-distributed — so the χ² terms are large
    and the probe certifies the arithmetic on a failing screen, the
    shape a real alarm fires on."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )

    def digits(df: DataFrame, col: str, label: str) -> DataFrame:
        cents = F.round(F.col(col) * 100, 0).cast("long")
        return df.select(
            F.lit(label).alias("measure"),
            F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"),
        )

    src = digits(
        load_table(spark, sf_dir, "orders"), "o_totalprice", "o_totalprice"
    ).unionByName(
        digits(
            load_table(spark, sf_dir, "lineitem"),
            "l_extendedprice",
            "l_extendedprice",
        )
    )
    from pyspark.sql import Window

    counts = src.groupBy("measure", "digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    # n_total via a window over the 18-row aggregate — NOT a re-agg
    # from source joined back, which would scan each table twice
    # (exact bigint sum, so the window is deterministic).
    tot = F.sum("n_obs").over(Window.partitionBy("measure"))
    p = F.col("digit")
    pexpr = None
    for d, lit in _BENFORD_P.items():
        pexpr = (F.when if pexpr is None else pexpr.when)(p == d, F.lit(float(lit)))
    j = counts.withColumn("n_total", tot).withColumn("p", pexpr)
    nt = F.col("n_total").cast("double")
    dev = F.col("n_obs") - nt * F.col("p")
    return j.select(
        "measure",
        "digit",
        "n_obs",
        "n_total",
        F.col("p").alias("benford_p"),
        dround(nt * F.col("p"), 4).alias("expected_n"),
        dround(F.col("n_obs") / nt, 6).alias("obs_share"),
        dround(dev * dev / (nt * F.col("p")), 6).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# dq8 — fact-vs-derived reconciliation: does the order header's total
# equal the total recomputed from its lines (the TPC-H invariant
# o_totalprice = Σ extprice·(1+tax)·(1−disc))? The canonical
# finance-pipeline audit — a header/detail divergence is how silent
# partial loads and double-applied discounts surface. All comparison
# arithmetic is EXACT integer micros (price/tax/discount each carry
# two decimals, so the per-line product has six), so match/mismatch
# classification is bit-deterministic; tolerance is ±1 cent. On this
# synthetic corpus the headers are independent draws and NOTHING
# reconciles — the audit correctly reports that (the reconciling side
# of the boundary is unit-pinned on a planted fixture). One lineitem
# rollup + one orders join, both partial-aggregable/equi-keyed.
# ---------------------------------------------------------------------------

#: |header − Σlines| tolerance, in micros (= 1 cent).
_DQ8_TOL_MICROS = 10_000


@probe(
    "dq8_order_reconciliation",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_extendedprice * (1 + l_tax)
                                 * (1 - l_discount) * 1000000) AS BIGINT))
                  AS BIGINT) AS line_micros,
             count(*) AS n_lines
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderstatus,
             CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
               AS header_micros,
             li.line_micros, li.n_lines
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(n_lines) AS BIGINT) AS n_with_lines,
           CAST(count(*) FILTER (WHERE n_lines IS NULL) AS BIGINT)
             AS n_orphan_headers,
           CAST(count(*) FILTER (
                  WHERE abs(header_micros - line_micros)
                        <= {_DQ8_TOL_MICROS}) AS BIGINT) AS n_reconciled,
           CAST(count(*) FILTER (
                  WHERE abs(header_micros - line_micros)
                        > {_DQ8_TOL_MICROS}) AS BIGINT) AS n_mismatched,
           CAST(coalesce(max(abs(header_micros - line_micros)), 0)
                AS BIGINT) AS max_abs_diff_micros
    FROM j GROUP BY o_orderstatus
    """,
)
def dq8_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq8 — header/detail reconciliation panel per order status
    (block comment above): orphan headers, within-tolerance matches,
    mismatches, and the worst divergence, all from exact-micros
    integer arithmetic the oracle replays term for term."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 + F.col("l_tax"))
                    * (1 - F.col("l_discount"))
                    * 1000000,
                    0,
                ).cast("long")
            ).alias("line_micros"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") * 10000).alias(
            "header_micros"
        ),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    diff = F.abs(F.col("header_micros") - F.col("line_micros"))
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("n_lines").alias("n_with_lines"),
        F.count(F.when(F.col("n_lines").isNull(), 1)).alias(
            "n_orphan_headers"
        ),
        F.count(F.when(diff <= _DQ8_TOL_MICROS, 1)).alias("n_reconciled"),
        F.count(F.when(diff > _DQ8_TOL_MICROS, 1)).alias("n_mismatched"),
        F.coalesce(F.max(diff), F.lit(0)).cast("long").alias(
            "max_abs_diff_micros"
        ),
    )


# ---------------------------------------------------------------------------
# dq9 — observed metrics (the Observation API): data-quality counters
# collected ON the production query's own pass — no second scan, no
# race with late mutations — the mechanism a write job uses to gate
# publication ("abort unless rowcount/null-rate in band") without
# paying an audit query. The probe attaches an Observation to a
# filtered projection, drives it with the actual write-shaped action,
# asserts IN-PROBE that the observed counters equal an independent
# recomputation, and returns the observed metrics as the result — so
# the hash certifies the observation machinery itself against the
# DuckDB oracle. At 100 TB observe() is free: metrics accumulate in
# the same tasks that do the work.
# ---------------------------------------------------------------------------


@probe(
    "dq9_observed_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE value < 0) AS BIGINT) AS n_negative,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_mills
    FROM events WHERE event_type = 'purchase'
    """,
)
def dq9_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq9 — Observation-collected counters on the query's own pass
    (block comment above): rowcount, negative-value count, distinct
    users, exact value mills — verified against an independent
    recompute, then returned as the hash-checked result."""
    from pyspark.sql import Observation

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "value",
            F.round(F.col("value") * 1000, 0).cast("long").alias("vm"),
        )
    )
    obs = Observation("dq9")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.sum("vm").alias("value_mills"),
    )
    # the "production action": a write-shaped full pass
    observed.write.mode("overwrite").format("noop").save()
    got = obs.get
    # independent recompute — any divergence is an observation bug
    exact = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("vm").alias("value_mills"),
    ).collect()[0]
    if (
        got["n_rows"] != exact["n_rows"]
        or got["n_negative"] != exact["n_negative"]
        or got["value_mills"] != exact["value_mills"]
    ):
        raise RuntimeError(
            f"observed metrics diverge from recompute: {got} vs {exact}"
        )
    return spark.createDataFrame(
        [
            (
                got["n_rows"],
                got["n_negative"],
                exact["n_users"],
                got["value_mills"],
            )
        ],
        "n_rows long, n_negative long, n_users long, value_mills long",
    )


# ---------------------------------------------------------------------------
# DQ11 — exact two-sample Kolmogorov–Smirnov drift (dq3's PSI is the
# binned drift detector; KS is the EXACT, bin-free one: sup |F1 − F2|
# over the pooled empirical CDFs). The textbook computation is a
# global-sort cumulative window — a SinglePartition collapse at
# corpus scale — so this uses the scale_stable_row_ids two-phase
# pattern instead: range-repartition the pooled values (equal keys
# land in one partition, so tie peers never straddle a boundary), pin
# the layout with ONE localCheckpoint, take bounded per-partition
# sample counts (one row per partition), prefix-sum them driver-side
# into per-sample offsets, and evaluate both ECDFs with per-partition
# RANGE windows (peers at equal v included — the ECDF's right-
# continuous law, identical on both engines). The supremum is a plain
# max aggregate.
# ---------------------------------------------------------------------------

#: KS critical coefficient at alpha = 0.05 (two-sided): c(α) = 1.358.
_DQ11_C_ALPHA = 1.358


def ks_two_sample(pooled: DataFrame, n_parts: int = 32) -> DataFrame:
    """Exact KS D over a (v: long, s: 1|2) pooled frame, distributed
    (block comment above). Returns one row: n1, n2, ks_d, drift_flag."""
    from pyspark.sql import Window

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        pid_offset_map_expr,
        pinned_range_layout,
    )

    parted = pinned_range_layout(pooled, "v", n_parts)
    per_sample = pid_offset_map_expr(parted, group_col="s")
    (o1, n1), (o2, n2) = per_sample[1], per_sample[2]
    w = (
        Window.partitionBy("_pid")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    c1 = (
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).over(w)
        + F.element_at(o1, F.col("_pid"))
    ).cast("double") / F.lit(float(n1))
    c2 = (
        F.sum(F.when(F.col("s") == 2, 1).otherwise(0)).over(w)
        + F.element_at(o2, F.col("_pid"))
    ).cast("double") / F.lit(float(n2))
    crit = _DQ11_C_ALPHA * ((n1 + n2) / (n1 * n2)) ** 0.5
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    return parted.select(F.abs(c1 - c2).alias("d")).agg(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        dround(F.max("d"), 4).alias("ks_d"),
        F.when(F.max("d") > crit, 1).otherwise(0).cast("long").alias(
            "drift_flag"
        ),
    )


@probe(
    "dq11_ks_drift",
    oracle=f"""
    WITH p AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 2 END AS s
      FROM orders WHERE year(o_orderdate) IN (1996, 1997)),
    n AS (SELECT count(CASE WHEN s = 1 THEN 1 END) AS n1,
                 count(CASE WHEN s = 2 THEN 1 END) AS n2 FROM p),
    c AS (
      SELECT
        sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) OVER w AS c1,
        sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) OVER w AS c2
      FROM p
      WINDOW w AS (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW))
    SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
           round(max(abs(c1 / CAST(n.n1 AS DOUBLE)
                         - c2 / CAST(n.n2 AS DOUBLE))), 4) AS ks_d,
           CAST(CASE WHEN max(abs(c1 / CAST(n.n1 AS DOUBLE)
                                  - c2 / CAST(n.n2 AS DOUBLE)))
                     > {_DQ11_C_ALPHA} * sqrt((n.n1 + n.n2)
                                              / (CAST(n.n1 AS DOUBLE) * n.n2))
                THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
    FROM c, n GROUP BY n.n1, n.n2
    """,
)
def dq11_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ11 — exact two-sample KS between the 1996 and 1997 order-
    value distributions (block comment above): D, sample sizes, and
    the alpha = 0.05 decision. The oracle is the textbook global
    window; the implementation is the distributed two-phase ECDF —
    same numbers, no SinglePartition."""
    pooled = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .select(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
            F.when(F.year("o_orderdate") == 1996, 1).otherwise(2).alias("s"),
        )
    )
    return ks_two_sample(pooled)
