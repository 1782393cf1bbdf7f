"""SparkSession factory tuned for the test harness and, by configuration,
for large clusters.

Local mode is ``local[$SPARK_GRAFT_CPUS]`` (single JVM). The same settings
minus master/driver-memory are what we would ship on a 1000-executor
cluster: AQE on (runtime coalesce + skew-join splitting), shuffle
partitions sized to the parallelism, Arrow enabled for the pandas-UDF
path, UTC session timezone so results compare bit-for-bit with the
DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Disk-backed state store for stateful streaming (T4, sessionization,
#: stream-stream joins): bounds state by disk instead of executor heap.
#: Ships with Spark ≥ 3.2; set via ``get_spark(rocksdb_state=True)`` or
#: per-session with ``spark.conf.set`` before starting the query.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "realtime_financial_transactions_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster the caller passes master/memory through
    ``extra_conf`` or spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at the Spark
        # default (true). A/B at sf0.1 (r18): false cut tiny-task
        # overhead broadly (suite 463 → 448 s) but SERIALIZED every
        # compute-heavy mid-size exchange to ~1 task via the 64 MB
        # advisory size (a19 2.0 → 4.1 s, sql2 6.1 → 7.4 s,
        # o14 +1.2 s) — AQE cannot see that exploded/aggregation rows
        # are compute-dense, only their bytes. The iterative loops
        # that motivated the experiment (CC label propagation, k-core
        # peel) instead derive EXPLICIT per-round repartition widths
        # from their live edge counts, which is immune to this knob at
        # any scale.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # collect_list-style aggregates (ObjectHashAggregate) fall back
        # to SORT-based aggregation after only 128 distinct keys per
        # partition by default — the inverted-index dedup family groups
        # by shingle (hundreds of thousands of keys), where the hash
        # path is both faster and steadier than sorting string keys.
        # Sized for the executor heap; the memory manager still spills.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2097152")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed tables (bucketed-join path) live outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if rocksdb_state:
        # Runtime-settable SQL conf, so it lands even when getOrCreate
        # returned an existing session (builder confs would not).
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Runtime SQL confs a child session copies from its parent:
#: ``newSession()`` keeps builder confs but drops runtime-set ones.
INHERITED_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.streaming.stateStore.providerClass",
)


def child_session(spark: SparkSession, shuffle_partitions: int) -> SparkSession:
    """A ``newSession()`` of ``spark`` with its own SQLConf: the parent's
    :data:`INHERITED_CONFS` plus the given shuffle width. It shares the
    SparkContext and table cache, so setting confs here never changes
    what a query on the parent (or on another thread) sees."""
    child = spark.newSession()
    for key in INHERITED_CONFS:
        child.conf.set(key, spark.conf.get(key))
    child.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return child
