"""K8 — streaming CDC merge sink: ``foreachBatch`` latest-wins upsert
into a pointer-managed snapshot table.

This is the lakehouse ingestion pattern the reference's BigQuery
streaming inserts approximate (reference `dataflow_pipeline/
pipeline.py:180-200` appends; BigQuery dedupes by insertId best-effort):
a CDC stream lands in micro-batches, each batch MERGEs into the current
snapshot (update-or-insert per key, delete on tombstone), and readers
always see a complete consistent generation via the atomic ``CURRENT``
pointer flip (operators/scale.py's crash-safe protocol).

Correctness under arbitrary batch splits: the snapshot RETAINS delete
tombstones, and every merge is a latest-wins reduction over
(ts, event_id) — so a late-arriving OLDER upsert can neither resurrect
a deleted key nor overwrite a newer value, and the final snapshot
equals the global latest-wins over the whole stream no matter how the
micro-batches slice it. (Tombstone GC — dropping tombstones older than
the source's max lateness — is the standard follow-up compaction;
retention here is unbounded for the probe.)

Scale: each merge shuffles |snapshot ∪ batch| rows on the key once. At
100 TB you partition the snapshot (e.g. by key-hash bucket) and merge
only the buckets a batch touches (merge-on-read with periodic
compact_table passes); the per-batch latest-wins reduction and pointer
protocol are unchanged.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark.caching import (
    disk_fixture,
    source_fingerprint,
    spark_json_slices,
)
from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
    current_table_path,
    init_pointer_table,
)
from realtime_financial_transactions_data_pipeline_spark.registry import pin_result, probe
from realtime_financial_transactions_data_pipeline_spark.streaming.run import (
    probe_scratch,
    run_available_now,
)
from realtime_financial_transactions_data_pipeline_spark.tables import load_table

#: CDC wire schema: seconds-truncated event time (the JSON wire's
#: millisecond timestamp format would otherwise silently drop parquet's
#: microseconds and reorder same-millisecond ties).
CDC_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def merge_latest_wins(
    current: DataFrame,
    batch: DataFrame,
    key: str,
    order_cols: list[str],
) -> DataFrame:
    """One MERGE step: union the snapshot with the tagged batch and keep
    the single newest row per key (ties broken by the trailing order
    columns, all descending). Tombstones compete like any row, so the
    newest state — live or deleted — always wins."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        current.unionByName(batch)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_cdc_merge_stream(
    spark: SparkSession,
    input_dir: str,
    root: str,
    key: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    emit_changes: bool = False,
) -> str:
    """Stream JSON CDC records from ``input_dir`` (one file per
    micro-batch) and merge each batch into the pointer-managed snapshot
    under ``root``. ``event_type = 'error'`` records are delete
    tombstones; everything else upserts. Returns the final snapshot
    generation path."""
    snap_root = f"{root}/snapshot"
    empty = spark.createDataFrame(
        [], schema=T.StructType(CDC_SCHEMA.fields + [T.StructField("op", T.StringType())])
    )
    init_pointer_table(empty, snap_root)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        cur_path = current_table_path(snap_root)
        cur = batch.sparkSession.read.parquet(cur_path)
        tagged = batch.withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(
                F.lit("upsert")
            ),
        )
        merged = merge_latest_wins(cur, tagged, key, list(order_cols))
        gen = int(os.path.basename(cur_path).split("=")[1]) + 1
        if emit_changes:
            # Two sinks consume `merged` (the change feed and the
            # snapshot write) — persist it so the union+window shuffle
            # runs ONCE per batch, not once per sink. Unlike the
            # pipeline's parse (where re-running codegen'd JSON parse
            # beat caching), this plan holds a shuffle: caching the
            # merged keyset is strictly cheaper than re-shuffling
            # snapshot+batch. Unpersisted in this batch's finally.
            merged = merged.persist()
        try:
            if emit_changes:
                # Change-data-feed (Delta CDF parity): a key changes in
                # this batch iff its winning row changed. change_type: a
                # winning tombstone is 'delete'; a winner where the key
                # was absent or previously deleted is 'insert';
                # otherwise 'update'.
                prev = cur.select(
                    key,
                    *[F.col(c).alias(f"_p_{c}") for c in order_cols],
                    F.col("op").alias("_p_op"),
                )
                changed = (
                    merged.join(prev, key, "left")
                    .filter(
                        F.col(f"_p_{order_cols[0]}").isNull()
                        | (
                            F.struct(*[F.col(c) for c in order_cols])
                            != F.struct(*[F.col(f"_p_{c}") for c in order_cols])
                        )
                    )
                    .withColumn(
                        "change",
                        F.when(F.col("op") == "delete", "delete")
                        .when(
                            F.col("_p_op").isNull() | (F.col("_p_op") == "delete"),
                            "insert",
                        )
                        .otherwise("update"),
                    )
                    .drop(*[f"_p_{c}" for c in order_cols], "_p_op")
                )
                changed.write.mode("overwrite").parquet(
                    os.path.join(root, "changes", f"gen={gen}")
                )
            new = os.path.join(snap_root, f"gen={gen}")
            shutil.rmtree(new, ignore_errors=True)
            merged.write.mode("overwrite").parquet(new)
        finally:
            if emit_changes:
                merged.unpersist(blocking=False)
        tmp = os.path.join(snap_root, "CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(f"gen={gen}\n")
        os.replace(tmp, os.path.join(snap_root, "CURRENT"))

    _run_cdc_stream(spark, input_dir, root, _merge)
    return current_table_path(snap_root)


def _run_cdc_stream(spark: SparkSession, input_dir: str, root: str, merge) -> None:
    """Stream ``input_dir``'s CDC files, one file per micro-batch, into
    the ``merge`` foreachBatch sink, checkpointed under ``root``."""
    run_available_now(
        spark,
        lambda child: child.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{root}/ckpt"),
        input_dirs=[input_dir],
        min_data_batches=0,
    )


def _cdc_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """`events` as four JSON CDC files — the input k8 and k8b both
    stream, so the shared build runs once for both."""
    return disk_fixture(
        "k8-events",
        source_fingerprint(sf_dir, "events"),
        lambda tmp: load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.date_trunc("second", "ts").alias("ts"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .json(tmp),
    )


def _pin_live_rows(snap: DataFrame) -> DataFrame:
    """k8/k8b's result: the snapshot's live (non-tombstone) rows."""
    return pin_result(
        snap.filter(F.col("op") == "upsert").select("user_id", "event_id", "event_type", "value")
    )


@probe(
    "k8_stream_merge_sink",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY date_trunc('second', ts) DESC,
                                         event_id DESC) AS rn
      FROM events) WHERE rn = 1 AND event_type <> 'error'
    """,
)
def k8_stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8: the events table replayed as a 4-micro-batch CDC stream
    through the foreachBatch merge sink; 'error' events are delete
    tombstones. The final snapshot's live rows must equal the global
    latest-wins per user computed directly in SQL — certifying the
    merge reduction, tombstone retention, AND the pointer protocol in
    one hash check (any batch-split leakage would change the result)."""
    input_dir = _cdc_events_fixture(spark, sf_dir)
    with probe_scratch() as root:
        return _pin_live_rows(spark.read.parquet(run_cdc_merge_stream(spark, input_dir, root)))


# ---------------------------------------------------------------------------
# Bucketed merge-on-write — the 100 TB shape of the same sink
# ---------------------------------------------------------------------------


def _read_manifest(root: str) -> dict[str, str]:
    import json

    with open(os.path.join(root, "MANIFEST")) as fh:
        return dict(json.load(fh))


def _write_manifest(root: str, manifest: dict[str, str]) -> None:
    """Single-object atomic publish: every batch commits ALL its bucket
    generations with one os.replace (object-store manifest PUT)."""
    import json

    tmp = os.path.join(root, "MANIFEST.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(root, "MANIFEST"))


def read_bucketed_snapshot(spark: SparkSession, root: str) -> DataFrame:
    """Union the live data of every bucket per the manifest (entries are
    root-relative directory paths; the empty-table sentinel path serves
    buckets no batch has touched yet)."""
    manifest = _read_manifest(root)
    paths = sorted({os.path.join(root, rel) for rel in manifest.values()})
    return spark.read.parquet(*paths)


def run_cdc_merge_stream_bucketed(
    spark: SparkSession,
    input_dir: str,
    root: str,
    n_buckets: int = 8,
    key: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> str:
    """The scale shape of :func:`run_cdc_merge_stream`: the snapshot is
    hash-bucketed on the key and each micro-batch rewrites ONLY the
    buckets it touches — per-batch merge I/O is proportional to the
    touched fraction, not the whole snapshot (merge-on-write with
    bucket-level granularity; Delta/Iceberg partition-level rewrite is
    this with time/key partitions).

    Protocol per batch: tag + persist the batch once, compute its
    touched bucket set (a distinct over the batch's key hashes — tiny),
    merge the union of the touched buckets' live data with the batch in
    ONE job whose output is written partitioned by bucket under a
    per-batch delta directory, repoint only the touched buckets, and
    publish with ONE atomic manifest replace. Untouched buckets are
    never read or rewritten. A crash mid-batch leaves an unreferenced
    delta dir (sweepable) and the old manifest live — never a torn
    snapshot; the checkpoint replays the batch and overwrites the same
    delta dir idempotently.

    Returns the snapshot root (read via :func:`read_bucketed_snapshot`).
    """
    snap_root = f"{root}/snapshot"
    shutil.rmtree(snap_root, ignore_errors=True)
    os.makedirs(snap_root, exist_ok=True)
    empty = spark.createDataFrame(
        [],
        schema=T.StructType(CDC_SCHEMA.fields + [T.StructField("op", T.StringType())]),
    )
    empty.write.mode("overwrite").parquet(os.path.join(snap_root, "empty"))
    _write_manifest(snap_root, {str(b): "empty" for b in range(n_buckets)})

    bucket_of = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")

    def _merge(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        tagged = batch.withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(
                F.lit("upsert")
            ),
        ).withColumn("_bkt", bucket_of)
        tagged.persist()
        try:
            man = _read_manifest(snap_root)
            touched = sorted(
                r._bkt for r in tagged.select("_bkt").distinct().collect()
            )
            cur_paths = sorted(
                {os.path.join(snap_root, man[str(b)]) for b in touched}
            )
            cur = sess.read.parquet(*cur_paths).withColumn("_bkt", bucket_of)
            if len(cur_paths) > 1 or man[str(touched[0])] != "empty":
                # A shared live dir (e.g. the empty sentinel, or a delta
                # holding several buckets) may contain rows of buckets
                # we are NOT rewriting — they must not leak into this
                # delta or they'd shadow their own live copies.
                cur = cur.filter(F.col("_bkt").isin([int(b) for b in touched]))
            merged = merge_latest_wins(
                cur, tagged, key, list(order_cols)
            )
            delta_rel = f"delta={batch_id}"
            dst = os.path.join(snap_root, delta_rel)
            shutil.rmtree(dst, ignore_errors=True)
            merged.write.partitionBy("_bkt").mode("overwrite").parquet(dst)
            for b in touched:
                man[str(b)] = f"{delta_rel}/_bkt={b}"
            _write_manifest(snap_root, man)  # one atomic commit per batch
        finally:
            tagged.unpersist()

    _run_cdc_stream(spark, input_dir, root, _merge)
    return snap_root


@probe(
    "k8b_bucketed_merge_sink",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY date_trunc('second', ts) DESC,
                                         event_id DESC) AS rn
      FROM events) WHERE rn = 1 AND event_type <> 'error'
    """,
)
def k8b_bucketed_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8b: the bucketed merge-on-write variant of k8 — same CDC replay,
    same global-latest-wins oracle, but the snapshot lives as 8
    hash-buckets whose generations advance independently and publish
    through one atomic manifest per batch. The identical hash proves
    bucket routing loses nothing."""
    input_dir = _cdc_events_fixture(spark, sf_dir)
    with probe_scratch() as root:
        snap_root = run_cdc_merge_stream_bucketed(spark, input_dir, root)
        return _pin_live_rows(read_bucketed_snapshot(spark, snap_root))


def sweep_unreferenced(snap_root: str) -> list[str]:
    """Remove every delta/compact directory the manifest no longer
    references (stale generations left by repointing, or crashed
    batches that never published). The 'empty' sentinel always stays —
    it serves untouched buckets. Returns swept directory names."""
    man = _read_manifest(snap_root)
    live_roots = {rel.split("/")[0] for rel in man.values()}
    swept = []
    for name in os.listdir(snap_root):
        if not (name.startswith("delta=") or name.startswith("compact=")):
            continue
        if name in live_roots:
            # Referenced via at least one bucket subdir — keep the whole
            # delta; per-subdir sweeping would also work but buys little
            # (a delta's unreferenced subdirs age out at its last
            # reference's compaction).
            continue
        shutil.rmtree(os.path.join(snap_root, name), ignore_errors=True)
        swept.append(name)
    return swept


def compact_bucketed_snapshot(
    spark: SparkSession,
    snap_root: str,
    key: str = "user_id",
    n_buckets: int = 8,
) -> int:
    """Fold the delta chain: rewrite every bucket's live data into ONE
    fresh compact directory (partitioned by bucket), repoint the whole
    manifest atomically, and sweep the now-unreferenced deltas — the
    maintenance pass that keeps the per-bucket file count flat no
    matter how many micro-batches have landed (the same small-files
    argument as operators/scale.compact_table, at bucket granularity).
    Crash-safe like the merge itself: the old manifest stays live until
    the single os.replace. Returns the compacted row count."""
    man = _read_manifest(snap_root)
    live_paths = sorted({os.path.join(snap_root, rel) for rel in man.values()})
    bucket_of = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    df = spark.read.parquet(*live_paths).withColumn("_bkt", bucket_of)
    df.persist()
    try:
        n_rows = df.count()
        existing = [
            int(d.split("=")[1])
            for d in os.listdir(snap_root)
            if d.startswith("compact=")
        ]
        dst_rel = f"compact={max(existing, default=-1) + 1}"
        dst = os.path.join(snap_root, dst_rel)
        shutil.rmtree(dst, ignore_errors=True)
        df.write.partitionBy("_bkt").mode("overwrite").parquet(dst)
        populated = {r._bkt for r in df.select("_bkt").distinct().collect()}
        new_man = {
            str(b): (f"{dst_rel}/_bkt={b}" if b in populated else "empty")
            for b in range(n_buckets)
        }
        _write_manifest(snap_root, new_man)
        sweep_unreferenced(snap_root)
    finally:
        df.unpersist()
    return n_rows


@probe(
    "k8c_change_feed",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
             event_id % 4 AS b,
             epoch(date_trunc('second', ts)) * 1000000 + event_id AS sk
      FROM events),
    pb AS (SELECT user_id, b, max(sk) AS bmax FROM r GROUP BY user_id, b),
    pf AS (SELECT user_id, b, bmax,
                  max(bmax) OVER (PARTITION BY user_id ORDER BY b
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS prevmax
           FROM pb),
    ch AS (SELECT user_id, b, bmax AS newmax, prevmax
           FROM pf WHERE prevmax IS NULL OR bmax > prevmax),
    win AS (SELECT c.user_id, c.b, c.prevmax, r.event_id, r.op
            FROM ch c JOIN r ON r.user_id = c.user_id AND r.sk = c.newmax),
    prev AS (SELECT c.user_id, c.b, r2.op AS prev_op
             FROM ch c JOIN r r2 ON r2.user_id = c.user_id AND r2.sk = c.prevmax)
    SELECT w.user_id, w.event_id AS winner_event,
           CASE WHEN w.op = 'delete' THEN 'delete'
                WHEN p.prev_op IS NULL OR p.prev_op = 'delete' THEN 'insert'
                ELSE 'update' END AS change
    FROM win w LEFT JOIN prev p ON w.user_id = p.user_id AND w.b = p.b
    """,
)
def k8c_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed through the streaming merge sink: `events`
    sliced into FOUR deterministic micro-batches (batch i = event_id
    % 4, one mtime-pinned file each, the t8 protocol), merged with
    ``emit_changes=True``; the probe returns every change-log row
    (key, winning event, change type) across all batches. The oracle
    replays batch evolution in SQL with a per-key running-winner
    window — the sort key ``epoch(ts)·10^6 + event_id`` totally orders
    rows — so the hash certifies WHICH batch changed every key and HOW
    (insert vs update vs delete), not just the final state."""
    src = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.date_trunc("second", "ts").alias("ts"),
    )
    flat = disk_fixture(
        "k8c-events-4slice",
        source_fingerprint(sf_dir, "events"),
        lambda tmp: spark_json_slices(src, tmp, 4, slice_col=F.col("event_id")),
    )
    with probe_scratch() as root:
        run_cdc_merge_stream(spark, flat, root, emit_changes=True)
        changes = spark.read.parquet(f"{root}/changes")
        return pin_result(
            changes.select("user_id", F.col("event_id").alias("winner_event"), "change")
        )


def read_changes_since(spark: SparkSession, root: str, after_gen: int = 0) -> DataFrame:
    """Consumer side of the change feed: every change row with
    generation > ``after_gen`` (the reader's high-water mark), with the
    generation as a column. Partition pruning on the ``gen=`` directory
    layout means a caught-up reader opens only the new files —
    incremental consumption without a broker."""
    df = spark.read.parquet(os.path.join(root, "changes"))
    return df.filter(F.col("gen") > after_gen)
