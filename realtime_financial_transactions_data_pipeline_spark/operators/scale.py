"""Scale-path storage and join strategies (SURVEY §4 "physical
execution for 100 TB"): date-partitioned layout, bucketed co-located
joins, and skew salting.

These are the knobs the DataFrame API doesn't apply automatically:

- **Bucketing** pre-shuffles a table once at write time
  (``bucketBy(n, key)``); two tables bucketed the same way join with
  ZERO exchange — at 100 TB that's the difference between re-shuffling
  the fact table on every query and never shuffling it again. AQE can't
  do this (it's a storage-layout decision).
- **Salting** splits a hot key across ``salt_factor`` sub-keys —
  the skew fix when one merchant/gateway dominates (the reference's
  dashboard shows the top gateway at ~2bn of 5.87bn revenue, so a
  gateway-keyed shuffle WILL skew). AQE's skew-join splitting handles
  sort-merge skew at runtime; explicit salting is for aggregations and
  for joins AQE can't split (e.g. bucketed or broadcast-ineligible
  paths).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround
from realtime_financial_transactions_data_pipeline_spark.registry import (
    pin_result,
    probe,
    probe_scratch,
)
from realtime_financial_transactions_data_pipeline_spark.session import child_session
from realtime_financial_transactions_data_pipeline_spark.tables import load_table

#: Bucket count for co-located fact/dim joins. Matched on both sides of
#: a join, and sized so one bucket of 100 TB fact data (~100 GB with
#: 1024 buckets) splits into sane tasks.
DEFAULT_BUCKETS = 16


def write_bucketed(
    df: DataFrame, table_name: str, key: str, n_buckets: int = DEFAULT_BUCKETS
) -> None:
    """Persist ``df`` bucketed + sorted by ``key``. Subsequent equi-joins
    or aggregations on ``key`` between tables bucketed with the same
    ``n_buckets`` need no Exchange (verified in tests/test_scale.py)."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — reads align
    bucket-for-bucket, so the plan is exchange-free."""
    return spark.table(left_table).join(spark.table(right_table), key)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_factor: int = 8,
) -> DataFrame:
    """Skew-proof equi-join: the fact side gets a random salt in
    [0, salt_factor); the dim side is exploded ``salt_factor``× so every
    (key, salt) pair still matches. A key holding N% of all rows now
    spreads over ``salt_factor`` partitions. Dim grows by the factor —
    use for genuinely small-but-unbroadcastable dims or pre-aggregation
    fan-out, and keep AQE skew-join on for the sort-merge paths."""
    salted_fact = fact.withColumn("_salt", (F.rand(7) * salt_factor).cast("int"))
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_factor)]))
    )
    return salted_fact.join(salted_dim, [key, "_salt"]).drop("_salt")


def salted_groupby_count(df: DataFrame, key: str, salt_factor: int = 8) -> DataFrame:
    """Two-phase skew-proof aggregation: partial count per (key, salt),
    then final sum per key. The first shuffle spreads a hot key over
    ``salt_factor`` reducers; the second handles only
    #distinct-keys × salt_factor rows. (Spark's hash aggregate already
    does map-side partials — explicit salting matters when a single
    reducer key still overflows, i.e. extreme skew.)"""
    return (
        df.withColumn("_salt", (F.rand(7) * salt_factor).cast("int"))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
        .groupBy(key)
        .agg(F.sum("_partial").alias("n"))
    )


# ---------------------------------------------------------------------------
# Date-partitioned storage layout (the fact-table layout at 100 TB)
# ---------------------------------------------------------------------------


def write_date_partitioned(
    df: DataFrame, path: str, date_col: str = "event_date"
) -> None:
    """Persist the fact table hive-partitioned by calendar date — the
    standard layout for an append-only transaction stream (the
    reference's BigQuery fact table is date-partitioned implicitly by
    ingestion; here the partition column is explicit). Every
    date-sliced dashboard query (L1) then PRUNES: a 30-day window over
    3 years of data reads ~3% of the files, before any filter runs.

    The repartition on the partition column makes each task own whole
    partitions, so a day writes one file instead of
    one-per-shuffle-task — the small-files guard that matters when 3
    years × 32k tasks would otherwise litter the table."""
    df.repartition(date_col).write.mode("overwrite").partitionBy(date_col).parquet(path)


def read_pruned(
    spark: SparkSession, path: str, start: str, end: str, date_col: str = "event_date"
) -> DataFrame:
    """Scan a date-partitioned table with a BETWEEN partition predicate.
    The filter lands in the scan's PartitionFilters (asserted in
    tests/test_scale.py) — non-matching partitions are never opened."""
    return spark.read.parquet(path).filter(F.col(date_col).between(start, end))


def current_table_path(root: str) -> str:
    """Resolve the live generation of a pointer-managed table: ``root``
    holds generation directories (``gen=N``) plus a one-line ``CURRENT``
    pointer file. Readers follow the pointer; writers publish a new
    generation and then flip the pointer with a single atomic rename —
    the manifest pattern object stores require (directory rename is not
    atomic on S3/GCS, but a small-object PUT/replace is)."""
    with open(os.path.join(root, "CURRENT")) as fh:
        return os.path.join(root, fh.read().strip())


def compact_table(spark: SparkSession, root: str, target_files: int = 8) -> int:
    """Small-files compaction — the maintenance pass every streaming
    sink needs: micro-batches leave one file per trigger per partition,
    and a year of 1-minute triggers is half a million tiny files whose
    open/list overhead dominates scan time.

    Crash-safe protocol (every instant has a complete readable table):

    1. read the live generation via the ``CURRENT`` pointer;
    2. write the compacted copy to a NEW generation directory;
    3. verify the copy's row count against the source;
    4. flip ``CURRENT`` via write-temp + ``os.replace`` (atomic on
       POSIX; on an object store this is the single manifest PUT);
    5. only then delete the old generation.

    A crash before step 4 leaves the old generation live and a garbage
    directory to sweep; a crash after 4 leaves the new generation live.
    At no point is the table absent or partially swapped — unlike a
    naive rename-out/rename-in, which has a window with NO live data.
    Returns the row count (tests/test_scale.py kills the process midway
    and asserts a complete table survives)."""
    import shutil

    vacuum_generations(root, keep_last=0)
    src = current_table_path(root)
    gen = int(os.path.basename(src).split("=")[1])
    df = spark.read.parquet(src)
    n_rows = df.count()
    new = os.path.join(root, f"gen={gen + 1}")
    shutil.rmtree(new, ignore_errors=True)
    df.repartition(target_files).write.mode("overwrite").parquet(new)
    n_new = spark.read.parquet(new).count()
    if n_new != n_rows:
        raise RuntimeError(f"compaction row drift: {n_rows} -> {n_new}")
    tmp = os.path.join(root, "CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"gen={gen + 1}\n")
    os.replace(tmp, os.path.join(root, "CURRENT"))  # the atomic commit
    shutil.rmtree(src)
    return n_rows


def init_pointer_table(df: DataFrame, root: str) -> str:
    """Materialize ``df`` as generation 0 of a pointer-managed table."""
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    gen0 = os.path.join(root, "gen=0")
    df.write.mode("overwrite").parquet(gen0)
    tmp = os.path.join(root, "CURRENT.tmp")
    os.makedirs(root, exist_ok=True)
    with open(tmp, "w") as fh:
        fh.write("gen=0\n")
    os.replace(tmp, os.path.join(root, "CURRENT"))
    return gen0


@probe(
    "scale_salted_agg",
    oracle="""
    SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'hot_gateway'
                ELSE 'gw_' || CAST(l_orderkey % 97 AS VARCHAR) END AS gateway,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1
    """,
)
def scale_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-toolkit demonstration on a deliberately hot key: a derived
    `gateway` dimension where one value owns ~1/3 of all lineitem rows
    (mirroring the reference dashboard's top-gateway revenue share —
    README.md:91 "Volume by Payment Gateway"). :func:`salted_groupby_count`
    spreads that hot key over 8 reducers via a two-phase (key, salt) →
    key aggregation; the salt is provably result-invariant, so the plain
    GROUP BY oracle hash-checks it."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("hot_gateway"))
        .otherwise(
            F.concat(F.lit("gw_"), (F.col("l_orderkey") % 97).cast("string"))
        )
        .alias("gateway")
    )
    return salted_groupby_count(li, "gateway")


@probe(
    "l1b_partition_pruned_slice",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
           CAST(count(*) AS BIGINT) AS volume,
           round(sum(value), 2) AS revenue
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-19'
    GROUP BY 1
    """,
)
def l1b_partition_pruned_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned layout end-to-end: land `events` partitioned by
    event_date, then answer a 10-day dashboard slice from the pruned
    scan. Results match querying the unpartitioned table; the plan
    differs — the BETWEEN becomes a PartitionFilter instead of a row
    predicate."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    with probe_scratch() as root:
        write_date_partitioned(e, root)
        sliced = read_pruned(spark, root, "2024-01-10", "2024-01-19")
        # Partition-column type inference reads the hive value back as DATE;
        # cast after the (already-pruned) scan to match the oracle's string.
        sliced = sliced.withColumn("event_date", F.col("event_date").cast("string"))
        return pin_result(
            sliced.groupBy("event_date").agg(
                F.count(F.lit(1)).alias("volume"),
                dround(F.sum("value"), 2).alias("revenue"),
            )
        )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout — the multi-column clustering primitive behind
# Delta OPTIMIZE ZORDER / Iceberg sort orders. Interleaving the bits of
# two dimension keys gives a single sort key under which ranges of BOTH
# dimensions are spatially clustered, so per-file min/max statistics
# prune selective predicates on EITHER column. All bit-spreading is JVM
# shiftleft/and/or expression chains — codegen'd, shuffle-free.
# ---------------------------------------------------------------------------


def _spread_bits(col: F.Column) -> F.Column:
    """Spread the low 16 bits of ``col`` so bit i lands at position 2i
    (the classic Morton magic-number ladder). The input is masked to
    its low 16 bits first, so values >= 2^16 (or negative twos-
    complement longs) use exactly those bits instead of corrupting the
    interleave via the ladder's unmasked first shift."""
    c = col.cast("long").bitwiseAND(F.lit(0xFFFF))
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x33333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x55555555))
    return c


def zorder_key(x: F.Column, y: F.Column) -> F.Column:
    """Morton code of two non-negative ints (low 16 bits each): x in
    even bit positions, y in odd."""
    return _spread_bits(x).bitwiseOR(F.shiftleft(_spread_bits(y), 1))


def zorder_layout_stats(
    df: DataFrame, x_col: str, y_col: str, bucket_bits: int = 14
) -> DataFrame:
    """Assign each row its Morton bucket (z >> bucket_bits — a prefix
    range, so bucketing needs NO sort or shuffle beyond the final
    stats groupBy) and report per-bucket min/max of both dimensions.

    The per-bucket ranges are the file-level min/max statistics a
    z-ordered table would publish: narrow on BOTH x and y, which is
    the whole point — a predicate on either column prunes most
    buckets. At cluster scale the layout write is
    ``repartitionByRange(z)`` + sortWithinPartitions(z); the stats
    query here is the verifiable core."""
    z = zorder_key(F.col(x_col), F.col(y_col))
    return (
        df.withColumn("_z", z)
        .withColumn("zbucket", F.shiftright("_z", bucket_bits))
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(x_col).alias("x_min"),
            F.max(x_col).alias("x_max"),
            F.min(y_col).alias("y_min"),
            F.max(y_col).alias("y_max"),
        )
    )


@probe(
    "scale_zorder_layout",
    oracle="""
    WITH d AS (
      SELECT user_id % 1024 AS x, CAST(floor(value) AS BIGINT) % 1024 AS y
      FROM events WHERE value >= 0),
    sx AS (
      SELECT x, y,
             ((x | (x << 8)) & 16711935) AS x1,
             ((y | (y << 8)) & 16711935) AS y1
      FROM d),
    s2 AS (
      SELECT x, y,
             ((x1 | (x1 << 4)) & 252645135) AS x2,
             ((y1 | (y1 << 4)) & 252645135) AS y2
      FROM sx),
    s3 AS (
      SELECT x, y,
             ((x2 | (x2 << 2)) & 858993459) AS x3,
             ((y2 | (y2 << 2)) & 858993459) AS y3
      FROM s2),
    s4 AS (
      SELECT x, y,
             ((x3 | (x3 << 1)) & 1431655765) AS xs,
             ((y3 | (y3 << 1)) & 1431655765) AS ys
      FROM s3),
    z AS (SELECT x, y, (xs | (ys << 1)) >> 14 AS zbucket FROM s4)
    SELECT zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY zbucket
    """,
)
def scale_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order `events` on (user_id bucket, value bucket) and emit the
    per-z-bucket min/max statistics. The oracle replays the Morton
    magic-number ladder in SQL, certifying the bit interleave exactly;
    the narrow per-bucket ranges on BOTH dimensions (asserted in
    tests/test_scale.py) are what make z-order prune two-column
    predicates where a lexicographic sort prunes only the leading one."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value") >= 0)
    d = e.select(
        (F.col("user_id") % 1024).alias("x"),
        (F.floor("value").cast("long") % 1024).alias("y"),
    )
    return zorder_layout_stats(d, "x", "y")


# ---------------------------------------------------------------------------
# Snapshot retention + time travel — the Delta/Iceberg "VERSION AS OF"
# read on the same pointer-generation layout. `compact_table` deletes
# its source (maintenance mode); `publish_generation` RETAINS prior
# generations, so any of them can be read back until `vacuum_generations`
# reclaims them. CURRENT stays the single atomic commit point.
# ---------------------------------------------------------------------------


def publish_generation(df: DataFrame, root: str) -> int:
    """Write ``df`` as the next generation and flip ``CURRENT``
    atomically, KEEPING prior generations readable (time travel).
    Returns the new generation number."""
    cur = os.path.basename(current_table_path(root))
    gen = int(cur.split("=")[1]) + 1
    new = os.path.join(root, f"gen={gen}")
    df.write.mode("overwrite").parquet(new)
    tmp = os.path.join(root, "CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"gen={gen}\n")
    os.replace(tmp, os.path.join(root, "CURRENT"))
    return gen


def read_generation(spark: SparkSession, root: str, gen: int | None = None) -> DataFrame:
    """Read a table AS OF a generation (default: the live one). Raises
    if that generation was vacuumed — time travel has a retention
    horizon, exactly like Delta's."""
    path = (
        current_table_path(root)
        if gen is None
        else os.path.join(root, f"gen={gen}")
    )
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"generation {os.path.basename(path)} not present under {root} "
            "(vacuumed or never written)"
        )
    return spark.read.parquet(path)


def vacuum_generations(root: str, keep_last: int = 2) -> list[str]:
    """Drop all but the newest ``keep_last`` generations (never the
    live one). Returns swept directory names. ``keep_last=0`` keeps only
    the live one: ``compact_table`` runs that first, to sweep the
    complete-but-unreferenced generations crashed compactions leave."""
    import shutil

    live = os.path.basename(current_table_path(root))
    gens = sorted(
        (n for n in os.listdir(root) if n.startswith("gen=")),
        key=lambda n: int(n.split("=")[1]),
    )
    keep = set(gens[max(len(gens) - keep_last, 0):]) | {live}
    swept = []
    for name in gens:
        if name not in keep:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            swept.append(name)
    return swept


@probe(
    "scale_time_travel",
    oracle="""
    SELECT 0 AS gen,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    UNION ALL
    SELECT 1,
           CAST(count(*) AS BIGINT),
           round(sum(CASE WHEN c_custkey % 5 = 0
                          THEN c_acctbal + 100 ELSE c_acctbal END), 2)
    FROM customer WHERE c_custkey % 7 <> 3
    """,
)
def scale_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over retained generations: land `customer` as gen 0,
    publish an updated gen 1 (credit +100 to every 5th key, delete
    every 7th-mod-3 key), then aggregate BOTH versions via
    ``read_generation`` — the VERSION-AS-OF read. The oracle recomputes
    each version's aggregate from the source table, certifying old
    snapshots stay intact and exact after the pointer moved on."""
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v1 = base.filter(F.col("c_custkey") % 7 != 3).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 100
        ).otherwise(F.col("c_acctbal")),
    )

    def snap(root: str, gen: int) -> DataFrame:
        return read_generation(spark, root, gen).agg(
            F.lit(gen).alias("gen"),
            F.count(F.lit(1)).alias("n_rows"),
            dround(F.sum("c_acctbal"), 2).alias("total_bal"),
        ).select("gen", "n_rows", "total_bal")

    with probe_scratch() as root:
        init_pointer_table(base, root)
        publish_generation(v1, root)
        return pin_result(snap(root, 0).unionByName(snap(root, 1)))


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
) -> None:
    """The z-order WRITE path: compute the Morton key, range-partition
    on it (one exchange — Spark samples the keys for even cut points),
    sort within each partition, and write one file per partition. The
    parquet footers then carry narrow min/max for BOTH dimensions, so
    any stats-aware reader (Spark, DuckDB, Trino) skips most files for
    a selective predicate on either column — verified against the
    actual footers in tests/test_scale.py."""
    z = zorder_key(F.col(x_col), F.col(y_col))
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# K11 — write-audit-publish (the Iceberg WAP pattern): a batch lands in
# a STAGED generation, the expectation suite audits the staged files
# as written, and only a passing audit flips the table pointer — a
# failing batch leaves the live table untouched (gate, not filter:
# WAP rejects the whole commit rather than silently dropping rows).
# Composes the pointer-managed generation store (above) with the
# dq1 expectation machinery (operators/quality.py).
# ---------------------------------------------------------------------------


def write_audit_publish(
    spark: SparkSession,
    batch: DataFrame,
    root: str,
    rules,
    max_fail_pct: float = 5.0,
) -> tuple[bool, float]:
    """Stage ``batch`` as an unreferenced candidate generation, audit
    the STAGED files (what would become live, not the pre-write frame),
    and flip the pointer only if every expectation's fail percentage is
    within ``max_fail_pct``. Returns (published, worst_fail_pct). A
    rejected candidate directory is swept; the CURRENT pointer is
    untouched on any failure path."""
    import shutil

    from realtime_financial_transactions_data_pipeline_spark.operators.quality import (
        expectation_metrics,
    )

    live = spark.read.parquet(current_table_path(root))
    cand = live.unionByName(batch)
    cur_gen = int(os.path.basename(current_table_path(root)).split("=")[1])
    staged = os.path.join(root, f"staged={cur_gen + 1}")
    shutil.rmtree(staged, ignore_errors=True)
    cand.write.mode("overwrite").parquet(staged)
    audited = spark.read.parquet(staged)
    # Coalesce to 0.0: an empty rule set (or a zero-row staged table)
    # yields a NULL max, which must read as "no expectation failed",
    # not a TypeError at the publish gate.
    worst = (
        expectation_metrics(audited, rules(audited))
        .agg(
            F.coalesce(
                F.max(
                    100.0 * F.col("n_fail") / (F.col("n_pass") + F.col("n_fail"))
                ),
                F.lit(0.0),
            ).alias("w")
        )
        .first()
        .w
    )
    if worst > max_fail_pct:
        shutil.rmtree(staged, ignore_errors=True)
        return False, float(worst)
    gen = cur_gen + 1
    os.replace(staged, os.path.join(root, f"gen={gen}"))
    tmp = os.path.join(root, "CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"gen={gen}\n")
    os.replace(tmp, os.path.join(root, "CURRENT"))
    return True, float(worst)


@probe(
    "k11_write_audit_publish",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           FALSE AS attempt_a_published, TRUE AS attempt_b_published
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03'
    GROUP BY event_type
    """,
)
def k11_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 — WAP end-to-end: gen 0 = day-1 events; attempt A appends
    day-2 events with every 7th event's value NULLED (the value
    expectation fails at ~14 % > the 5 % gate) — the pointer must NOT
    move; attempt B appends the clean day-2 batch — audit passes, gen 1
    publishes. The probe returns the LIVE table's per-type counts plus
    both audit outcomes, so a silently-published bad batch, a wrongly
    rejected good batch, or a pointer left mid-flip each break the
    hash against the oracle's day-1+day-2 recount."""
    e = load_table(spark, sf_dir, "events")
    day1 = e.filter(F.to_date("ts") == "2024-01-01")
    day2 = e.filter(F.to_date("ts") == "2024-01-02")

    def rules(df: DataFrame):
        return {
            "value_not_null": F.col("value").isNotNull(),
            "user_not_null": F.col("user_id").isNotNull(),
        }

    bad = day2.withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")),
    )
    with probe_scratch() as root:
        init_pointer_table(day1, root)
        a_pub, _ = write_audit_publish(spark, bad, root, rules)
        b_pub, _ = write_audit_publish(spark, day2, root, rules)
        live = spark.read.parquet(current_table_path(root))
        return pin_result(
            live.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("attempt_a_published", F.lit(a_pub))
            .withColumn("attempt_b_published", F.lit(b_pub))
        )


# ---------------------------------------------------------------------------
# Managed-table sink seam (VERDICT r11 "what's missing" #2): the
# reference streams into a managed table (BigQuery with insertId
# dedupe); a Spark deployment expects format("delta")/("iceberg") to
# work. No lakehouse package ships in this container, so the seam is a
# FACTORY — the same honest-stub discipline as the kafka reader and
# the codec libs: the delta branch builds the real write and fails
# loudly at execution if the package is absent (never a silent
# fallback), the generation branch is the hash-verified pointer layout
# (publish_generation / read_generation / time travel / vacuum) that
# provides the same atomic-visibility semantics from plain parquet.
# ---------------------------------------------------------------------------


def managed_table_format(spark: SparkSession) -> str:
    """'delta' when delta-spark is importable AND its Spark extension
    is on the session, else 'generation'. Pure probe, no side effects —
    unit-tested both ways (tests/test_scale.py: a sentinel test fails
    with wiring instructions the day a lakehouse package appears)."""
    import importlib.util as _ilu

    if _ilu.find_spec("delta") is None:
        return "generation"
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "delta" if "DeltaSparkSessionExtension" in ext else "generation"


def managed_write(df: DataFrame, root: str, fmt: str = "auto") -> str:
    """Write ``df`` as the new visible version of the managed table at
    ``root`` (atomic flip, prior versions retained). Returns the path
    readers should treat as the table root."""
    fmt = managed_table_format(df.sparkSession) if fmt == "auto" else fmt
    if fmt == "delta":
        # Real plan, loud failure: without the package this raises
        # DATA_SOURCE_NOT_FOUND at execution — never a silent fallback.
        df.write.format("delta").mode("overwrite").save(root)
        return root
    if fmt != "generation":
        raise ValueError(f"unknown managed-table format {fmt!r}")
    if os.path.exists(os.path.join(root, "CURRENT")):
        publish_generation(df, root)
    elif not os.path.exists(root) or not os.listdir(root):
        # Fresh init ONLY into an empty/absent root: a non-empty dir
        # without a CURRENT pointer is someone else's data (plain
        # parquet, a delta log, ...) — init_pointer_table rmtree's the
        # root, so silently "initializing" there would destroy it. The
        # format-migration case must be explicit, not an accident.
        init_pointer_table(df, root)
    else:
        raise ValueError(
            f"{root} is non-empty but has no CURRENT pointer — refusing to "
            "initialize a generation table over existing data; point at an "
            "empty root or migrate explicitly via init_pointer_table"
        )
    return root


def managed_read(
    spark: SparkSession, root: str, fmt: str = "auto", version: int | None = None
) -> DataFrame:
    """Read the managed table (optionally AS OF ``version`` — Delta's
    versionAsOf / the generation layout's gen number)."""
    fmt = managed_table_format(spark) if fmt == "auto" else fmt
    if fmt == "delta":
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        return reader.load(root)
    return read_generation(spark, root, gen=version)


# ---------------------------------------------------------------------------
# scale_compaction_plan — the small-files problem's planning half: given
# a file manifest (partition key, file, bytes), assign files to
# bin-packed compaction groups of ~target bytes via a cumulative-sum
# window per partition — the deterministic planner behind lakehouse
# OPTIMIZE / rewriteDataFiles. The plan runs over METADATA (one row per
# file — millions of rows at 100 TB, never the data), one window per
# partition key; executing a group is then an independent
# read-coalesce-write task. The manifest here is synthesized from the
# events table (one "file" per (event_type, day), bytes = rows × 64)
# so the whole plan — manifest build, cumulative sum, group assignment,
# per-group rollup — replays in DuckDB.
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 16_384  # bytes per compaction group (probe scale)


@probe(
    "scale_compaction_plan",
    oracle=f"""
    WITH manifest AS (
      SELECT event_type, CAST(strftime(ts, '%Y-%m-%d') AS VARCHAR) AS day,
             CAST(count(*) * 64 AS BIGINT) AS bytes
      FROM events GROUP BY 1, 2),
    rawg AS (
      SELECT event_type, day, bytes,
             CAST(floor((sum(bytes) OVER (PARTITION BY event_type
                                          ORDER BY day
                                          ROWS UNBOUNDED PRECEDING) - bytes)
                        / {_COMPACT_TARGET}) AS BIGINT) AS raw_group
      FROM manifest),
    planned AS (
      SELECT event_type, day, bytes,
             CAST(dense_rank() OVER (PARTITION BY event_type
                                     ORDER BY raw_group) - 1 AS BIGINT)
               AS group_id
      FROM rawg)
    SELECT event_type, group_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS group_bytes,
           min(day) AS first_day, max(day) AS last_day
    FROM planned GROUP BY 1, 2
    """,
)
def scale_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction groups per partition key (block comment above): a
    file joins the group its FIRST byte lands in (floor((cum−bytes)/
    target)), DENSIFIED with a dense_rank over the floor value so
    group ids are contiguous from 0 even when one oversized file (>
    2× target) makes the raw floor skip integers (ADVICE r13 — the
    contiguity invariant test_compaction_plan_invariants pins was
    scale-fragile without the densify). Groups remain contiguous day
    ranges of ≥ target bytes (the last group may be short). Output is
    the per-group rollup the executor would fan out over — n_files,
    bytes, day span. Integer arithmetic end-to-end: the hash certifies
    the cumulative window, the bucketing, and the rollup."""
    from pyspark.sql import Window

    manifest = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .groupBy("event_type", "day")
        .agg((F.count(F.lit(1)) * 64).cast("long").alias("bytes"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wd = Window.partitionBy("event_type").orderBy("raw_group")
    planned = manifest.withColumn(
        "raw_group",
        F.floor((F.sum("bytes").over(w) - F.col("bytes")) / _COMPACT_TARGET).cast(
            "long"
        ),
    ).withColumn("group_id", (F.dense_rank().over(wd) - 1).cast("long"))
    return planned.groupBy("event_type", "group_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("group_bytes"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


# ---------------------------------------------------------------------------
# k12 — dynamic partition overwrite: THE incremental-backfill idiom.
# Static overwrite mode would wipe the whole table to write two revised
# days; `spark.sql.sources.partitionOverwriteMode=dynamic` replaces
# ONLY the partitions present in the incoming frame — the revision
# batch fully supersedes its days (row counts may differ; it is a
# replacement, not a merge) while untouched days keep their original
# files. The probe writes a 5-day day-partitioned table, overwrites
# days 2-3 with a deliberately different revision (even event_ids,
# doubled values), and reads the live table back — the hash against
# the oracle's expected final state catches a full-table wipe, a merge
# instead of a replace, or an untouched partition being rewritten.
# Reference counterpart: BigQuery load jobs with WRITE_TRUNCATE on a
# partition decorator (conceptual; the reference truncates whole
# tables — generate_dim_tables_data.py WRITE_TRUNCATE).
# ---------------------------------------------------------------------------


@probe(
    "k12_dynamic_partition_overwrite",
    oracle="""
    WITH base AS (
      SELECT CAST(ts AS DATE) AS day, event_type, value, event_id
      FROM events WHERE ts < TIMESTAMP '2024-01-06'),
    keep AS (SELECT * FROM base
             WHERE day <> DATE '2024-01-02' AND day <> DATE '2024-01-03'),
    rev AS (SELECT day, event_type, value * 2 AS value, event_id
            FROM base
            WHERE day >= DATE '2024-01-02' AND day <= DATE '2024-01-03'
              AND event_id % 2 = 0),
    fin AS (SELECT * FROM keep UNION ALL SELECT * FROM rev)
    SELECT CAST(strftime(day, '%Y-%m-%d') AS VARCHAR) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS revenue
    FROM fin GROUP BY 1, 2
    """,
)
def k12_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k12 — dynamic partition overwrite end-to-end (block comment
    above): initial 5-day partitioned write, then an overwrite-mode
    write of the revised days 2-3 under partitionOverwriteMode=dynamic
    (a writer option: the session conf is never touched), then a live
    read-back rolled up per (day, event_type)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < "2024-01-06")
        .select(
            F.to_date("ts").alias("day"), "event_type", "value", "event_id"
        )
    )
    rev = (
        e.filter(
            (F.col("day") >= "2024-01-02")
            & (F.col("day") <= "2024-01-03")
            & (F.col("event_id") % 2 == 0)
        )
        .withColumn("value", F.col("value") * 2)
    )
    with probe_scratch() as root:
        e.write.partitionBy("day").mode("overwrite").parquet(root)
        rev.write.partitionBy("day").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(root)
        live = spark.read.parquet(root)
        return pin_result(
            live.groupBy(
                F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type"
            ).agg(
                F.count(F.lit(1)).alias("n"),
                dround(F.sum("value"), 2).alias("revenue"),
            )
        )


# ---------------------------------------------------------------------------
# scale_dynamic_pruning — DYNAMIC partition pruning (DPP), the runtime
# half of partition pruning: when the pruning predicate lives on a
# JOINED dimension (not on the fact's partition column itself), static
# listing can't prune — Spark instead evaluates the dim's broadcast at
# runtime and injects its day set into the fact scan's
# PartitionFilters (`dynamicpruningexpression(day IN …)`), so
# non-matching partitions are never opened. This is THE mechanism that
# makes "fact JOIN filtered dim" dashboards cheap on a date-partitioned
# 100 TB fact table; l1b covers the static case, this probe covers the
# runtime case. Plan-pinned in tests/test_plans.py; the result is
# hash-checked so the pruning is also proven lossless.
# ---------------------------------------------------------------------------


@probe(
    "scale_dynamic_pruning",
    oracle="""
    WITH f AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
    dim AS (SELECT DISTINCT day, dayofweek(day) AS dow FROM f)
    SELECT CAST(f.day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(f.value * 1000) AS BIGINT)) AS BIGINT)
             AS value_mills
    FROM f JOIN dim USING (day)
    WHERE dim.dow = 1
    GROUP BY 1
    """,
)
def scale_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondays-only daily rollup where 'Monday' is only knowable from
    the joined calendar dim (block comment above): the fact is a
    day-partitioned parquet fixture of events, the dim a separate
    (day, dow) table, and the filter sits on the DIM's dow column —
    static pruning is impossible, so the plan must carry a
    dynamicpruningexpression on the fact scan. Value sums run on exact
    integer mills (events.value carries 3 decimals). Spark's
    dayofweek() is 1=Sunday…7; DuckDB's is 0=Sunday…6 — the dim stores
    Spark's value minus 1 so both engines filter dow = 1 = Monday."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
    )

    fp = source_fingerprint(sf_dir, "events")

    def build_fact(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 1000, 0).cast("long").alias("mills"),
        )
        write_date_partitioned(ev, tmp, date_col="day")

    fact_dir = disk_fixture("events-day-partitioned", fp, build_fact)

    def build_dim(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(F.col("ts").cast("date").alias("day"))
            .distinct()
            .withColumn("dow", (F.dayofweek("day") - 1).cast("int"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )

    dim_dir = disk_fixture("events-day-dim", fp, build_dim)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("dow") == 1)
    return (
        fact.join(F.broadcast(dim), "day")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("mills").alias("value_mills"),
        )
    )


# ---------------------------------------------------------------------------
# scale_cbo_stats — table/column statistics collection (ANALYZE TABLE)
# and the audit that they are TRUSTWORTHY inputs to Spark's cost-based
# optimizer: exact row counts must round-trip through the catalog, and
# the HLL column NDV must sit within 10 % of the exact distinct count
# (spark.sql.statistics.ndv.maxError=0.05 is a STANDARD error, not a
# bound — measured 6.7 % on a 1,500-key column — so the audit band is
# ~2σ).
# This is the missing member of the scale family: layout, pruning,
# salting, Z-order, time travel, compaction are all write/read-side —
# statistics are what let Catalyst pick join ORDER and build sides at
# 100 TB, and stale or wildly-off stats are how clusters end up
# broadcasting a terabyte. tests/test_scale.py pins the propagation:
# with spark.sql.cbo.enabled, optimizedPlan().stats.rowCount equals
# the ANALYZE count.
# ---------------------------------------------------------------------------


def _catalog_row_count(spark: SparkSession, table: str) -> int:
    """Row count from `DESC EXTENDED` ('Statistics: N bytes, M rows')
    — metadata only, no scan."""
    for r in spark.sql(f"DESC EXTENDED {table}").collect():
        if r.col_name == "Statistics":
            return int(r.data_type.split(",")[1].strip().split(" ")[0])
    raise RuntimeError(f"no Statistics row for {table} — ANALYZE missing?")


def _catalog_ndv(spark: SparkSession, table: str, col: str) -> int:
    for r in spark.sql(f"DESC EXTENDED {table} {col}").collect():
        if r.info_name == "distinct_count":
            return int(r.info_value)
    raise RuntimeError(f"no distinct_count for {table}.{col}")


@probe(
    "scale_cbo_stats",
    oracle="""
    SELECT 'orders' AS tbl,
           CAST(count(*) AS BIGINT) AS exact_rows,
           CAST(count(*) AS BIGINT) AS analyzed_rows,
           TRUE AS rows_match,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_key_ndv,
           TRUE AS ndv_within_10pct
    FROM orders
    UNION ALL
    SELECT 'customer',
           CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), TRUE,
           CAST(count(DISTINCT c_nationkey) AS BIGINT), TRUE
    FROM customer
    """,
)
def scale_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-collection audit (block comment above): copy orders/
    customer into managed tables, `ANALYZE TABLE ... COMPUTE
    STATISTICS` (+ `FOR COLUMNS` on the join keys), then read the
    numbers BACK from the catalog and emit a panel comparing them to
    exact recomputation. The oracle pins `analyzed_rows` to the exact
    count and both flags to TRUE — so a Spark release whose ANALYZE
    miscounts, or whose HLL NDV drifts past 10 %, fails the hash
    honestly. All catalog reads are metadata-only; the two exact
    aggregates are the only scans."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    panel = []
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_nationkey")):
        name = f"sg_cbo_{tbl}_{tag}"
        # The default in-memory catalog forgets tables across sessions
        # while their warehouse directories persist — clear both so the
        # probe is idempotent under fresh sessions (LOCATION_ALREADY_
        # EXISTS otherwise).
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
        if wh:
            import shutil

            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        load_table(spark, sf_dir, tbl).write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(name)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {key}")
        exact_rows, exact_ndv = (
            spark.table(name)
            .agg(F.count(F.lit(1)), F.countDistinct(key))
            .collect()[0]
        )
        analyzed = _catalog_row_count(spark, name)
        ndv = _catalog_ndv(spark, name, key)
        panel.append(
            (
                tbl,
                int(exact_rows),
                int(analyzed),
                analyzed == exact_rows,
                int(exact_ndv),
                abs(ndv / exact_ndv - 1.0) <= 0.10,
            )
        )
    return spark.createDataFrame(
        panel,
        "tbl string, exact_rows long, analyzed_rows long, rows_match boolean,"
        " exact_key_ndv long, ndv_within_10pct boolean",
    )


# ---------------------------------------------------------------------------
# scale_bucketed_star — the co-located big-big join, ORACLE-CHECKED:
# the flagship's 100x transition (measured in scale_smoke: orders
# outgrows broadcast at 60 M lineitem rows and the plain plan shuffles
# 364 MB; the bucketed layout runs the same join with ZERO fact-side
# exchange at 9.5 s vs 27.1 s) until now was pinned only by a plan
# unit test and the smoke row. This probe closes the loop: write
# lineitem+orders through `write_bucketed` (16-way on the join key),
# run q1's join shape over `bucketed_join`, assert IN-PROBE that the
# plan contains a SortMergeJoin with no Exchange below it, and hash
# the result against the parquet-source oracle — so both the layout's
# correctness AND its exchange-free plan are certified every round.
# ---------------------------------------------------------------------------


@probe(
    "scale_bucketed_star",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY o_orderstatus
    """,
)
def scale_bucketed_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale_bucketed_star — bucketed lineitem ⋈ orders with the
    exchange-free plan asserted in-probe (block comment above)."""
    import re
    import shutil

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    names = {}
    for tbl, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        name = f"sg_bkt_{tbl}_{tag}"
        names[tbl] = name
        if not spark.catalog.tableExists(name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix(
                "file:"
            )
            if wh:
                shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
            cols = (
                ["l_orderkey", "l_extendedprice", "l_discount"]
                if tbl == "lineitem"
                else ["o_orderkey", "o_orderstatus", "o_orderdate"]
            )
            write_bucketed(
                load_table(spark, sf_dir, tbl).select(*cols), name, key
            )
    li = spark.table(names["lineitem"])
    o = spark.table(names["orders"]).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    # merge hint: at probe SF the filtered orders side fits the
    # broadcast threshold and AQE would (correctly) broadcast — but
    # this probe certifies the big-big regime where broadcast is off
    # the table, so pin the strategy the 100x smoke measured.
    joined = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    # The layout contract, asserted where it matters: the join is a
    # SortMergeJoin and NO shuffle exchange feeds it (bucket-aligned
    # scans on both sides; the only Exchange in the full plan is the
    # final aggregation's).
    from realtime_financial_transactions_data_pipeline_spark.plans.inspect import (
        formatted_plan,
    )

    out = joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            ).cast("long")
        ).alias("revenue_cents"),
    )
    plan = formatted_plan(out)
    n_smj = len(re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M))
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    if n_smj != 1 or n_exchange > 1:
        raise RuntimeError(
            f"bucketed layout lost its exchange-free join: "
            f"{n_smj} SMJ / {n_exchange} Exchange nodes"
        )
    return out


# ---------------------------------------------------------------------------
# scale_vacuum — the retention horizon, oracle-checked: time travel
# (scale_time_travel) certifies old generations stay readable; this
# probe certifies the OTHER half of the contract — `vacuum_generations`
# reclaims everything past the retention window, the reclaimed
# generation becomes unreadable with a clean error (never a silent
# empty read), and the surviving generations' contents are untouched
# byte-for-byte. Publish 3 generations, vacuum keep_last=2, then panel:
# per surviving generation the exact aggregate (oracle-replayed), plus
# the certified count of swept generations and the is-gone flag for
# gen 0 (probed via the read path's FileNotFoundError).
# ---------------------------------------------------------------------------


@probe(
    "scale_vacuum",
    oracle="""
    SELECT 1 AS gen,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents,
           CAST(1 AS BIGINT) AS n_swept,
           TRUE AS expired_unreadable
    FROM customer WHERE c_custkey % 3 <> 0
    UNION ALL
    SELECT 2,
           CAST(count(*) AS BIGINT),
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT),
           CAST(1 AS BIGINT), TRUE
    FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 4 <> 1
    """,
)
def scale_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale_vacuum — vacuum past the retention window and certify all
    three contract halves (block comment above)."""
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    with probe_scratch() as root:
        init_pointer_table(base, root)                                   # gen 0
        publish_generation(base.filter(F.col("c_custkey") % 3 != 0), root)  # 1
        publish_generation(                                               # 2
            base.filter(
                (F.col("c_custkey") % 3 != 0) & (F.col("c_custkey") % 4 != 1)
            ),
            root,
        )
        swept = vacuum_generations(root, keep_last=2)
        try:
            read_generation(spark, root, 0).count()
            expired_gone = False  # a readable swept generation is a bug
        except FileNotFoundError:
            expired_gone = True

        def snap(gen: int) -> DataFrame:
            return (
                read_generation(spark, root, gen)
                .agg(
                    F.lit(gen).alias("gen"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("bal_cents").alias("bal_cents"),
                )
                .select(
                    "gen",
                    "n_rows",
                    "bal_cents",
                    F.lit(len(swept)).cast("long").alias("n_swept"),
                    F.lit(expired_gone).alias("expired_unreadable"),
                )
            )

        return pin_result(snap(1).unionByName(snap(2)))


# ---------------------------------------------------------------------------
# scale_bloom_semijoin — Bloom-reduced semi join (runtime row-level
# filtering, built by hand): the join-side application of the x1d/x1db
# membership filter. A selective dim predicate (one market segment)
# implies most fact rows will not survive the join — but a plain semi
# join still SHUFFLES (or at best broadcast-probes) every fact row.
# Packing the qualifying dim keys into the 2-KiB long[] Bloom bitmap
# (dedup.bloom_bitmap_longs — the identical portable position law, so
# the oracle replays every collision) turns "probably not joining"
# into a codegen'd scan-side predicate: definitely-new fact rows die
# at the scan, only the ~selectivity + FP fraction reaches the exact
# broadcast join that removes false positives. This is what
# spark.sql.optimizer.runtime.bloomFilter.* injects automatically on
# shuffle joins; building it explicitly (a) works on broadcast joins
# the optimizer skips, (b) makes the FP accounting a VERIFIED output
# instead of an invisible runtime detail. At 100 TB: the bitmap is a
# plan literal (no dim re-scan per task), the fact scan emits ~20 % of
# rows, and the exact join's probe side shrinks by the same factor —
# at 1000 executors that is the difference between shuffling 100 TB
# and shuffling 20 TB.
# ---------------------------------------------------------------------------

_BLOOM_SEG = "BUILDING"


def _bloom_semijoin_oracle() -> str:
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        _BLOOM_K,
        _BLOOM_M,
    )

    return f"""
    WITH dim AS (
      SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS h
      FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'),
    seeds AS (SELECT unnest(range(0, {_BLOOM_K})) AS s),
    bits AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(h || ':' || CAST(s AS VARCHAR)), 1, 8))
               AS BIGINT) % {_BLOOM_M} AS pos
      FROM dim, seeds),
    o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_custkey AS VARCHAR) AS h
      FROM orders),
    bp AS (
      SELECT o.o_orderkey,
             CAST(('0x' || substr(md5(o.h || ':' || CAST(s AS VARCHAR)), 1, 8))
               AS BIGINT) % {_BLOOM_M} AS pos
      FROM o, seeds),
    hits AS (
      SELECT bp.o_orderkey, count(bits.pos) AS nhit
      FROM bp LEFT JOIN bits ON bp.pos = bits.pos
      GROUP BY bp.o_orderkey),
    flag AS (
      SELECT o.o_orderpriority, o.cents,
             (d.h IS NOT NULL) AS truly
      FROM o
      JOIN hits USING (o_orderkey)
      LEFT JOIN dim d ON o.h = d.h
      WHERE hits.nhit = {_BLOOM_K})
    SELECT o_orderpriority,
           CAST(count(CASE WHEN truly THEN 1 END) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN truly THEN cents ELSE 0 END) AS BIGINT)
             AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_bloom_pass,
           CAST(count(CASE WHEN NOT truly THEN 1 END) AS BIGINT)
             AS n_false_positive
    FROM flag GROUP BY o_orderpriority
    """


@probe("scale_bloom_semijoin", oracle=_bloom_semijoin_oracle())
def scale_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-reduced fact→dim semi join (block comment above): orders
    of one market segment's customers, where a 2-KiB long[] Bloom
    bitmap over the qualifying customer keys prunes the fact SCAN
    before the exact broadcast join removes the (deterministic,
    oracle-replayed) false positives. Output per order priority:
    exact surviving orders + revenue, plus the Bloom pass/FP
    accounting that certifies the filter's zero-false-negative
    guarantee (n_orders + n_false_positive = n_bloom_pass)."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        bloom_bitmap_longs,
        bloom_maybe_seen,
    )

    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _BLOOM_SEG)
        .select(F.col("c_custkey").cast("string").alias("h"))
        .distinct()
    )
    bmp = bloom_bitmap_longs(dim, "h")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.col("o_custkey").cast("string").alias("h"),
    )
    # Scan-side kill: rows failing the bitmap never reach the join.
    passed = o.filter(bloom_maybe_seen(bmp, "h"))
    exact = passed.join(
        F.broadcast(dim.withColumn("_seen", F.lit(1))), "h", "left"
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("_seen").isNotNull(), 1)).alias("n_orders"),
        F.sum(
            F.when(F.col("_seen").isNotNull(), F.col("cents")).otherwise(0)
        ).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.count(F.when(F.col("_seen").isNull(), 1)).alias("n_false_positive"),
    )


# ---------------------------------------------------------------------------
# scale_salted_join — JOIN-side skew salting (scale_salted_agg's
# companion: that one spreads a hot AGGREGATION key; this spreads a
# hot JOIN key). When the build side is small you broadcast and skew
# is moot — the pattern below is for the regime where the dim is too
# big to broadcast and the fact's key distribution is skewed: salt the
# fact with pmod(row-hash, S), REPLICATE each dim row S times (explode
# a 0..S-1 sequence), and join on (key, salt) — the hot key's rows now
# land on S reducers instead of one. The join is pinned to a shuffle
# strategy with a plan-local hint (no session mutation), because an
# auto-broadcast would silently erase the thing being demonstrated.
# Salting a join is provably result-invariant: every fact row meets
# exactly the one dim replica carrying its salt. At 100 TB with one
# gateway owning a third of all rows, this is the difference between
# one straggler task holding 33 % of the shuffle and S tasks holding
# 4 % each (AQE skew-join split does this adaptively for sort-merge
# joins; explicit salting also covers shuffled-hash joins and
# pre-AQE engines, and makes the fan-out a testable constant).
# ---------------------------------------------------------------------------

_SALT_JOIN_S = 8


@probe(
    "scale_salted_join",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'hot_gateway'
                  ELSE 'gw_' || CAST(l_orderkey % 97 AS VARCHAR) END AS gateway,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem),
    dim AS (
      SELECT gateway,
             CAST(('0x' || substr(md5(gateway), 1, 4)) AS BIGINT) % 200 + 25
               AS fee_bps
      FROM (SELECT DISTINCT gateway FROM f))
    SELECT f.gateway,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(f.cents) AS BIGINT) AS revenue_cents,
           CAST(sum(f.cents * d.fee_bps // 10000) AS BIGINT) AS fee_cents
    FROM f JOIN dim d USING (gateway)
    GROUP BY f.gateway
    """,
)
def scale_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join on a deliberately hot key (block comment
    above): the hot_gateway fact rows (~1/3 of lineitem) spread over
    ``_SALT_JOIN_S`` reducers by joining on (gateway, salt) against an
    S-times-replicated fee dimension, under a shuffle-join hint so the
    demonstration can't be broadcast away. Per-row fee arithmetic is
    integer (cents × bps // 10000) so the hash is exact. The oracle is
    the PLAIN unsalted join — result invariance is the whole claim."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("hot_gateway"))
        .otherwise(
            F.concat(F.lit("gw_"), (F.col("l_orderkey") % 97).cast("string"))
        )
        .alias("gateway"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        F.col("l_linenumber").alias("_ln"),
    )
    dim = (
        li.select("gateway")
        .distinct()
        .withColumn(
            "fee_bps",
            (
                F.conv(F.substring(F.md5("gateway"), 1, 4), 16, 10).cast("long")
                % 200
                + 25
            ),
        )
    )
    fact_s = li.withColumn(
        "salt", F.pmod(F.xxhash64("cents", "_ln"), F.lit(_SALT_JOIN_S))
    )
    dim_s = dim.withColumn(
        "salt", F.explode(F.expr(f"sequence(0, {_SALT_JOIN_S - 1})"))
    ).hint("shuffle_hash")
    joined = fact_s.join(dim_s, ["gateway", "salt"])
    return joined.groupBy("gateway").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("cents").alias("revenue_cents"),
        F.sum(
            F.floor(F.col("cents") * F.col("fee_bps") / F.lit(10000))
        ).alias("fee_cents"),
    )


# ---------------------------------------------------------------------------
# scale_aqe_skewjoin — Spark's AUTOMATIC skew-join splitting
# (OptimizeSkewedJoin), the adaptive mechanism a 100 TB operator
# reaches for BEFORE manual salting: the same hot-gateway fixture as
# scale_salted_join, but the hot key's reduce partition is split at
# runtime by AQE along mapper-block boundaries, with the dim side's
# matching partition replicated per split — no query rewrite at all.
# Probe-local thresholds scale the demonstration down to test volume
# (the defaults, 256 MB / 5x-median, are cluster-sized); the executed
# plan must carry SortMergeJoin(skew=true) (pinned by
# tests/test_scale.py). Two test-scale preconditions, both documented
# because production inherits them for free: (1) the fact is
# repartitioned to 8 map tasks first — a skewed partition splits on
# MAPPER boundaries, so one mapper (what a single sf0.01 parquet file
# yields) leaves nothing to split, while a real job has thousands of
# mappers; (2) the dim is pinned as a LogicalRDD — a HashAggregate
# (the distinct) sitting directly under the join already satisfies
# the join's partitioning, and OptimizeSkewedJoin cannot replicate a
# partition that lives behind an aggregate rather than a bare shuffle
# read. forceOptimizeSkewedJoin is on because the downstream groupBy
# requires hash partitioning the split would break — Spark then adds
# one post-join re-shuffle, the standard price of skew-splitting into
# a same-key aggregate. Result invariance is the hash claim: the
# oracle is the PLAIN unsalted, unsplit join.
# ---------------------------------------------------------------------------

_SKEWJOIN_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # the demo dies silently if the 98-row dim broadcasts
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def skewjoin_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy fee panel under the skew-split preconditions (block
    comment above) — factored out so the plan test can execute it on
    a child session carrying `_SKEWJOIN_CONFS` and pin
    SortMergeJoin(skew=true) in the final adaptive plan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("hot_gateway"))
        .otherwise(
            F.concat(F.lit("gw_"), (F.col("l_orderkey") % 97).cast("string"))
        )
        .alias("gateway"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    ).repartition(8)
    dim = (
        li.select("gateway")
        .distinct()
        .withColumn(
            "fee_bps",
            (
                F.conv(F.substring(F.md5("gateway"), 1, 4), 16, 10).cast(
                    "long"
                )
                % 200
                + 25
            ),
        )
        .localCheckpoint(eager=True)
    )
    return (
        li.join(dim.hint("merge"), "gateway")
        .groupBy("gateway")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
            F.sum(
                F.floor(F.col("cents") * F.col("fee_bps") / F.lit(10000))
            ).alias("fee_cents"),
        )
    )


@probe(
    "scale_aqe_skewjoin",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'hot_gateway'
                  ELSE 'gw_' || CAST(l_orderkey % 97 AS VARCHAR) END AS gateway,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem),
    dim AS (
      SELECT gateway,
             CAST(('0x' || substr(md5(gateway), 1, 4)) AS BIGINT) % 200 + 25
               AS fee_bps
      FROM (SELECT DISTINCT gateway FROM f))
    SELECT f.gateway,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(f.cents) AS BIGINT) AS revenue_cents,
           CAST(sum(f.cents * d.fee_bps // 10000) AS BIGINT) AS fee_cents
    FROM f JOIN dim d USING (gateway)
    GROUP BY f.gateway
    """,
)
def scale_aqe_skewjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE automatic skew-join splitting on the hot-gateway fixture
    (block comment above): probe-local thresholds on a child session,
    result hash-checked against the plain join. scale_salted_join
    demonstrates the MANUAL treatment of the same skew; this is the
    adaptive one a cluster reaches for first."""
    return skewjoin_panel(child_session(spark, _SKEWJOIN_CONFS), sf_dir)


# ---------------------------------------------------------------------------
# scale_stable_row_ids — contiguous global row numbering WITHOUT the
# single-partition collapse. `row_number() OVER (ORDER BY key)` with
# no PARTITION BY funnels the entire table through ONE task — the
# classic 100 TB killer (fine in DuckDB, fatal on a cluster).
# monotonically_increasing_id() scales but is neither contiguous nor
# stable across layouts. The scalable contiguous assignment is the
# two-phase zipWithIndex pattern expressed in DataFrame terms:
# range-repartition + sort within partitions, count rows per
# partition (a #partitions-row aggregate — bounded collect, same
# class as the Bloom bitmap's), prefix-sum the counts driver-side
# into per-partition offsets, and id = offset[pid] + intra-partition
# row_number. Every window partitions by pid, so no task ever sees
# more than one partition's rows.
# ---------------------------------------------------------------------------


def pinned_range_layout(df: DataFrame, sort_col, n_parts: int = 32) -> DataFrame:
    """Range-repartition + in-partition sort + `_pid`, pinned by ONE
    eager localCheckpoint. The pin is load-bearing: the
    RangePartitioner resamples per action (its seed varies with the
    RDD id), so without it a counts job and a later consumer job can
    draw DIFFERENT boundaries and any driver-side offsets go stale —
    measured as off-by-dozens row ids on scale_stable_row_ids' first
    build. Shared by the two-phase prefix-sum consumers
    (scale_stable_row_ids, dq11's distributed ECDF, two_phase_rank).

    ``sort_col`` may be a single name/Column or a list of them
    (composite orderings, including ``.desc()`` columns — a24's
    recency rank needs DESC-first range boundaries)."""
    cols = list(sort_col) if isinstance(sort_col, (list, tuple)) else [sort_col]
    return (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def pid_offset_map_expr(parted: DataFrame, group_col: str | None = None):
    """Driver prefix-sums of per-partition row counts, returned as a
    map-literal Column factory. The collect is bounded: one row per
    (partition[, group]), never per data row. Without ``group_col``
    returns one expression mapping _pid -> rows-before-this-partition;
    with it, returns {group_value: expression} with per-group
    prefix sums in partition-range order."""
    if group_col is None:
        counts = {
            r._pid: r.n
            for r in parted.groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        lit = "map(" + ",".join(f"{p}, {o}L" for p, o in offsets.items()) + ")"
        return F.expr(lit)
    rows = (
        parted.groupBy("_pid", group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {(r._pid, r[group_col]): r.n for r in rows}
    groups = sorted({g for _, g in counts})
    pids = sorted({p for p, _ in counts})
    out = {}
    for g in groups:
        offsets, acc = {}, 0
        for pid in pids:
            offsets[pid] = acc
            acc += counts.get((pid, g), 0)
        lit = "map(" + ",".join(f"{p}, {o}L" for p, o in offsets.items()) + ")"
        out[g] = (F.expr(lit), acc)  # (offset map, group total)
    return out


def two_phase_rank(
    df: DataFrame, sort_cols, rank_name: str, n_parts: int = 32
) -> tuple[DataFrame, int]:
    """Global unique 1..N rank over ``sort_cols`` WITHOUT the
    SinglePartition window collapse — `row_number() OVER (ORDER BY …)`
    with no PARTITION BY funnels the whole relation through one task,
    the classic 100 TB killer. This is the scale_stable_row_ids
    two-phase pattern packaged for reuse (a24's three RFM quartile
    ranks, and any future global-order consumer): range-repartition on
    the ordering, per-partition counts prefix-summed driver-side (a
    #partitions-row collect, never data-sized), then
    rank = offset[_pid] + in-partition row_number. The ordering must
    be total (include a unique tiebreak column) or ranks at partition
    boundaries are layout-dependent. Returns (ranked frame, N)."""
    from pyspark.sql import Window

    cols = list(sort_cols) if isinstance(sort_cols, (list, tuple)) else [sort_cols]
    parted = pinned_range_layout(df, cols, n_parts)
    # ONE bounded collect yields both the offset map and N — a separate
    # count() job tripled a24's job count for a number the prefix sum
    # already computes.
    counts = {
        r._pid: r.n
        for r in parted.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    offsets, n_total = {}, 0
    for pid in sorted(counts):
        offsets[pid] = n_total
        n_total += counts[pid]
    off = F.expr(
        "map(" + ",".join(f"{p}, {o}L" for p, o in offsets.items()) + ")"
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    ranked = parted.withColumn(
        rank_name, F.element_at(off, F.col("_pid")) + F.row_number().over(w)
    ).drop("_pid")
    return ranked, n_total



@probe(
    "scale_stable_row_ids",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS row_id,
           o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    """,
)
def scale_stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous, order-stable global row ids over orders (block
    comment above): ids are exactly 1..N in o_orderkey order — the
    oracle is the naive single-partition window, the implementation
    never builds one. Range boundaries come from Spark's sampler, so
    WHICH partition a row lands in may vary; the ids cannot — offsets
    are prefix sums in partition-range order and o_orderkey is unique,
    making the assignment a pure function of the data."""
    from pyspark.sql import Window

    n_parts = 32
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    parted = pinned_range_layout(o, "o_orderkey", n_parts)
    off = pid_offset_map_expr(parted)
    w = Window.partitionBy("_pid").orderBy("o_orderkey")
    return parted.select(
        (
            F.element_at(off, F.col("_pid"))
            + F.row_number().over(w)
        ).alias("row_id"),
        "o_orderkey",
        "cents",
    )


# ---------------------------------------------------------------------------
# scale_aqe_coalesce — AQE partition coalescing, the third leg of the
# adaptive story this family measures (scale_dynamic_pruning = runtime
# pruning, scale_salted_agg/join = skew): a grouped aggregate whose
# output is tiny still inherits spark.sql.shuffle.partitions reduce
# tasks — 32 here, 200 by default, THOUSANDS in a tuned 100 TB job —
# and without AQE every one of them is scheduled, most to process a
# few rows. With adaptive coalescing the runtime folds the post-
# shuffle partitions down to the data's actual size after the map
# stage reports real byte counts. The result is engine-invariant (the
# oracle certifies that); what the probe EXISTS for is the executed
# plan, which the test pins: AQEShuffleRead(coalesced) present,
# final-plan flag true.
# ---------------------------------------------------------------------------


@probe(
    "scale_aqe_coalesce",
    oracle="""
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_mills
    FROM events
    GROUP BY 1, 2
    """,
)
def scale_aqe_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly per-type event rollup (block comment above): ~tens of
    output rows behind a 32-partition shuffle — the shape AQE
    coalescing exists for. Value sums run on exact integer mills."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias(
                "value_mills"
            ),
        )
    )


# ---------------------------------------------------------------------------
# scale_exchange_reuse — common-subplan exchange reuse: a query that
# references one aggregate TWICE (the daily rollup, and the maximum
# over that same rollup) must compute the rollup's shuffle ONCE —
# Catalyst's ReuseExchange rule dedupes identical exchanges, so the
# second reference reads the first's shuffle files instead of
# re-scanning the fact table. This is the optimizer feature behind
# every "vs total / vs best" dashboard ratio; without it such queries
# scan the fact twice. Plan-pinned: the executed plan must carry a
# ReusedExchange node.
# ---------------------------------------------------------------------------


@probe(
    "scale_exchange_reuse",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
               AS mills
      FROM events GROUP BY 1)
    SELECT CAST(d AS VARCHAR) AS day, mills,
           round(mills / CAST((SELECT max(mills) FROM daily) AS DOUBLE), 4)
             AS share_of_best
    FROM daily
    WHERE mills * 10 >= (SELECT max(mills) FROM daily)
    """,
)
def scale_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue is within 10x of the best day, with each
    day's share of that best (block comment above): the daily rollup
    feeds both the row stream and the scalar max, and the plan must
    reuse the rollup's exchange rather than re-aggregate the fact.
    tests/test_scale.py pins the ReusedExchange node."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias("mills")
        )
    )
    # Scalar attach: Catalyst lowers any spelling of this (crossJoin,
    # constant-key equi-join, scalar subquery) to a 1-row-build-side
    # BroadcastNestedLoopJoin — which is the CORRECT plan at that
    # cardinality; the no-BNLJ discipline elsewhere guards against
    # DATA-sized build sides.
    mx = daily.agg(F.max("mills").alias("mx"))
    return (
        daily.crossJoin(F.broadcast(mx))
        .filter(F.col("mills") * 10 >= F.col("mx"))
        .select(
            F.col("d").cast("string").alias("day"),
            "mills",
            dround(F.col("mills").cast("double") / F.col("mx"), 4).alias(
                "share_of_best"
            ),
        )
    )


# ---------------------------------------------------------------------------
# K13 — MERGE-ON-READ positional deletion vectors (Iceberg-v2 /
# Delta-DV semantics, re-expressed on plain parquet + Spark's
# _metadata columns): the K family's write side covers copy-on-write
# (K7 MERGE, k8b bucketed merge-on-write rewrites touched buckets);
# this is the OTHER production answer — deletes land as a tiny
# positional sidecar (file_path, row_index) and the BASE FILES ARE
# NEVER REWRITTEN. Readers apply the sidecar as a broadcast anti-join
# on the (file, position) key exposed by `_metadata.file_path` /
# `_metadata.row_index`. At 100 TB the economics are the point: a
# delete of 0.1 % of rows costs O(deleted) sidecar bytes instead of
# rewriting every touched file, and the read-side cost is one
# broadcast anti-join against a sidecar that stays kilobytes
# (production engines pack it further into roaring bitmaps per file;
# the anti-join shape is identical). The deletion LAW here is
# deterministic (error events + one user-id stripe), so the oracle is
# the logical complement filter — the hash certifies that positional
# delete application ≡ the logical delete, which is exactly the
# correctness contract a DV reader owes.
# ---------------------------------------------------------------------------


def deletion_vector_panel(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The k13 panel, lazy over what it writes under ``root``: the
    events slice as base parquet (``base/``) and the DV sidecar
    (``dv/``) of (file_path, row_index) for the deterministic delete
    law. The panel scans the UNTOUCHED base and anti-joins the
    broadcast sidecar on the position key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    # Several base files so positions are genuinely per-file local.
    ev.repartition(4).write.parquet(f"{root}/base")

    def with_pos(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.col("_metadata.file_path").alias("_f"),
            F.col("_metadata.row_index").alias("_pos"),
        )

    base = with_pos(spark.read.parquet(f"{root}/base"))
    # The delete producer: positions of rows matching the law. In a
    # real MERGE this set comes from the match phase; the sidecar is
    # O(deleted), the base files are not rewritten.
    base.filter(
        (F.col("event_type") == "error") | (F.col("user_id") % 50 == 7)
    ).select("_f", "_pos").write.parquet(f"{root}/dv")

    # The DV reader: base scan + broadcast positional anti-join.
    dv = spark.read.parquet(f"{root}/dv")
    alive = base.join(F.broadcast(dv), ["_f", "_pos"], "left_anti")
    return alive.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias("value_mills"),
        F.sum("user_id").cast("long").alias("user_checksum"),
    )


@probe(
    "k13_deletion_vectors",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
             AS value_mills,
           CAST(sum(user_id) AS BIGINT) AS user_checksum
    FROM events
    WHERE NOT (event_type = 'error' OR user_id % 50 = 7)
    GROUP BY event_type
    """,
)
def k13_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 — positional deletion vectors on immutable base files
    (block comment above): :func:`deletion_vector_panel` in the
    probe's own scratch root. The oracle is the logical complement —
    positional application must equal the logical delete row-for-row
    (the user_checksum pins membership)."""
    with probe_scratch() as root:
        return pin_result(deletion_vector_panel(spark, sf_dir, root))


# ---------------------------------------------------------------------------
# scale_manifest_skipping — min/max MANIFEST pruning of scan units,
# the table-format scan-planning mechanism (Iceberg manifests / Delta
# file-stats) that sits BETWEEN key-partition pruning (l1b/s10: the
# pruning key IS the directory key) and parquet row-group stats: a
# tiny manifest relation records per-unit bounds of a DATA column at
# write time, and the reader plans its scan by evaluating the
# predicate against the MANIFEST — units whose [min, max] cannot
# satisfy it are never opened. The pruning column (ship date) is NOT
# the layout key (unit id), which is what distinguishes this from
# partition pruning: the decision comes from collected stats, exactly
# Iceberg's manifest-entry min/max. At 100 TB this is the difference
# between listing a thousand files and reading them. The layout is
# EXACT (two_phase_rank 16-way equal range slices of the date-sorted
# relation — repartitionByRange sampling would make the slice
# boundaries, and with them the predicted files_read, nondeterministic),
# so the oracle can replay the split arithmetic and PIN the planning
# ledger: files_total/files_read are part of the hashed answer — a
# skipping regression fails the ORACLE, not just a perf graph. The
# manifest collect is bounded by unit count, the scan-planning class.
# ---------------------------------------------------------------------------

_MANIFEST_LO = "1995-03-01"
_MANIFEST_HI = "1995-05-31"
_MANIFEST_FILES = 16


@probe(
    "scale_manifest_skipping",
    oracle=f"""
    WITH hit AS (
      SELECT CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS cents
      FROM lineitem
      WHERE l_shipdate BETWEEN DATE '{_MANIFEST_LO}' AND DATE '{_MANIFEST_HI}'),
    files AS (
      -- replay the exact 16-way range split by total ship-date order:
      -- unit i holds rows with floor((rk-1)*16/n) = i, so the number
      -- of units whose [min,max] overlaps the window equals the number
      -- of distinct unit ids among the window's rows.
      SELECT CAST(floor((rk - 1) * {_MANIFEST_FILES} / n) AS BIGINT) AS fid,
             l_shipdate
      FROM (SELECT l_shipdate,
                   row_number() OVER (ORDER BY l_shipdate, l_orderkey,
                                      l_linenumber) AS rk,
                   count(*) OVER () AS n
            FROM lineitem) t),
    touched AS (
      SELECT count(DISTINCT fid) AS files_read FROM files
      WHERE l_shipdate BETWEEN DATE '{_MANIFEST_LO}' AND DATE '{_MANIFEST_HI}')
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST({_MANIFEST_FILES} AS BIGINT) AS files_total,
           (SELECT CAST(files_read AS BIGINT) FROM touched) AS files_read
    FROM hit
    """,
)
def scale_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale_manifest_skipping — build a date-clustered 16-slice
    layout + per-unit min/max manifest, plan the scan against the
    manifest, and read only overlapping units (block comment above).
    files_read is part of the hashed answer: the oracle replays the
    exact range split to predict how many units the window may touch,
    so reading too many (skipping broken) or too few (wrong answer
    anyway) both fail."""
    import datetime

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
        "l_extendedprice",
        "l_discount",
    )
    ranked, n_total = two_phase_rank(
        li, ["l_shipdate", "l_orderkey", "l_linenumber"], "rk"
    )
    with probe_scratch() as root:
        (
            ranked.withColumn(
                "fid",
                F.floor(
                    (F.col("rk") - 1) * _MANIFEST_FILES / F.lit(n_total)
                ).cast("long"),
            )
            .drop("rk", "_pid")
            .write.partitionBy("fid")
            .parquet(f"{root}/data")
        )
        # The manifest: one row per scan unit with the PRUNING column's
        # bounds — bounded by unit count. fid is the unit id, l_shipdate
        # bounds are the stats; the predicate is on the stats column only.
        manifest = (
            spark.read.parquet(f"{root}/data")
            .groupBy("fid")
            .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        )
        rows = manifest.collect()  # bounded: one row per scan unit
        lo_d = datetime.date.fromisoformat(_MANIFEST_LO)
        hi_d = datetime.date.fromisoformat(_MANIFEST_HI)
        survivors = [r.fid for r in rows if not (r.hi < lo_d or r.lo > hi_d)]
        hit = (
            spark.read.parquet(*[f"{root}/data/fid={f}" for f in survivors])
            .filter(
                F.col("l_shipdate").between(
                    F.lit(_MANIFEST_LO).cast("date"),
                    F.lit(_MANIFEST_HI).cast("date"),
                )
            )
            .select(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                )
                .cast("long")
                .alias("cents")
            )
        )
        return pin_result(
            hit.agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("cents").alias("revenue_cents"),
                F.lit(len(rows)).cast("long").alias("files_total"),
                F.lit(len(survivors)).cast("long").alias("files_read"),
            )
        )


# ---------------------------------------------------------------------------
# scale_balanced_write — bounded output FILES for skewed partitioned
# writes via the `maxRecordsPerFile` writer option (the per-write form
# of `spark.sql.files.maxRecordsPerFile`): partitionBy(key)
# sends each key's rows to one directory, but a hot key writes ONE
# giant file per task — the large-file twin of the small-files
# problem, and the knob every production pipeline sets (file size
# bounds drive downstream scan parallelism, retry cost, and object-
# store part limits). With the cap, a task splits its per-directory
# stream at N records, so files-per-dir = ceil(rows_key / N) when the
# key's rows are task-colocated (repartition(key) first — hash
# collisions merging two keys into one task don't change the per-dir
# ledger, since partitionBy still routes rows by key). Unlike AQE's
# byte-estimate mechanisms the split is ROW-deterministic, so the
# probe hashes the WHOLE ledger: per-key row count, exact cents sum
# read back from the files, and n_files — the oracle recomputes
# ceil(count/N) per key, making a silently-dropped cap (or a
# double-write) a hash failure, not a perf anecdote.
# ---------------------------------------------------------------------------

_BW_MAX_RECORDS = 6000


@probe(
    "scale_balanced_write",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'hot_gateway'
                  ELSE 'gw_' || CAST(l_orderkey % 7 AS VARCHAR) END AS gateway,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem)
    SELECT gateway,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(ceil(count(*) / {_BW_MAX_RECORDS}.0) AS BIGINT) AS n_files
    FROM f GROUP BY gateway
    """,
)
def scale_balanced_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale_balanced_write — partitioned write under a
    maxRecordsPerFile cap (block comment above): the hot gateway's
    directory must hold ceil(n/{n}) files of bounded size, cold ones
    one file each; the hashed panel carries counts and sums READ BACK
    from the produced files plus the observed per-directory file
    count, which the oracle predicts exactly."""
    import glob

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("hot_gateway"))
        .otherwise(
            F.concat(F.lit("gw_"), (F.col("l_orderkey") % 7).cast("string"))
        )
        .alias("gateway"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    with probe_scratch() as root:
        li.repartition("gateway").write.partitionBy("gateway").option(
            "maxRecordsPerFile", _BW_MAX_RECORDS
        ).parquet(f"{root}/data")
        ledger = {
            os.path.basename(d).split("=", 1)[1]: len(
                glob.glob(os.path.join(d, "part-*"))
            )
            for d in glob.glob(f"{root}/data/gateway=*")
        }
        ledger_col = F.create_map(
            *[F.lit(x) for kv in ledger.items() for x in kv]
        )
        back = spark.read.parquet(f"{root}/data")
        return pin_result(
            back.groupBy("gateway")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("revenue_cents"),
            )
            .withColumn(
                "n_files", F.element_at(ledger_col, F.col("gateway")).cast("long")
            )
        )


scale_balanced_write.__doc__ = scale_balanced_write.__doc__.replace(
    "{n}", str(_BW_MAX_RECORDS)
)
