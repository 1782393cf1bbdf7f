"""Python Data Source API (Spark 4): the stdlib Avro OCF codec exposed
as a first-class ``spark.read.format("avro_ocf")`` source.

`sources/avro_ocf.py` already decodes real Object Container Files
(magic, embedded schema, sync-marked deflate blocks) with zero external
dependencies — but as mapInPandas plumbing the caller must hand-build a
blob column first. The Python Data Source API gives the same codec a
reader surface with PARTITION-PARALLEL file reads: ``partitions()``
returns one InputPartition per ``.avro`` file (the planner fans them
across executors like any file source), ``read()`` streams one file's
decoded records. Schema comes from the first file's embedded header —
one driver-side header read at planning time, the schema-on-read
contract OCF was designed for.

At 100 TB: parallelism is file-granular (same as spark.read before file
splitting); for few-huge-file layouts, pre-split upstream or use the
block-level mapInPandas path. Python-side decode is the honest cost of
a dependency-free codec — identical economics to the multimodal
decoders, and the sentinel discipline applies if spark-avro ever
appears in the environment.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from realtime_financial_transactions_data_pipeline_spark.sources.avro_ocf import (
    decode_ocf,
)

#: Avro primitive -> Spark SQL DDL type (the subset the codec emits).
_AVRO_TO_DDL = {
    "long": "bigint",
    "int": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "bytes": "binary",
}


def _ocf_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.avro")))
    return [path]


class AvroOcfDataSource(DataSource):
    """``spark.read.format("avro_ocf").option("path", dir_or_file)``."""

    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def schema(self) -> str:
        files = _ocf_files(self.options["path"])
        if not files:
            raise FileNotFoundError(
                f"no .avro files under {self.options['path']!r}"
            )
        with open(files[0], "rb") as fh:
            _, schema = decode_ocf(fh.read())
        cols = []
        for f in schema["fields"]:
            typ = f["type"]
            # nullable union ["null", T] -> T (the codec's null encoding)
            if isinstance(typ, list):
                typ = next(t for t in typ if t != "null")
            cols.append(f"{f['name']} {_AVRO_TO_DDL[typ]}")
        return ", ".join(cols)

    def reader(self, schema) -> DataSourceReader:
        return _AvroOcfReader(self.options, [f.name for f in schema.fields])


class _AvroOcfReader(DataSourceReader):
    def __init__(self, options, field_names):
        self._path = options["path"]
        self._fields = field_names

    def partitions(self):
        return [InputPartition(f) for f in _ocf_files(self._path)]

    def read(self, partition):
        with open(partition.value, "rb") as fh:
            records, _ = decode_ocf(fh.read())
        names = self._fields
        for rec in records:
            yield tuple(rec[n] for n in names)


def register(spark) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    spark.dataSource.register(AvroOcfDataSource)


# ---------------------------------------------------------------------------
# Offset-tracked STREAMING Python data source: the Kafka-shaped
# connector seam in pure Python — a replay source over an ordered
# parquet log whose reader advances a chunk of offsets per
# micro-batch, splits each offset range into parallel input
# partitions, and lets Structured Streaming's checkpoint own
# exactly-once delivery of every offset range. This is the same
# contract a production Kafka/PubSub connector fills (initialOffset /
# latestOffset / partitions / read); the transport here is a local
# file so the sandbox can certify the offset machinery end to end.
# ---------------------------------------------------------------------------


class ReplayLogDataSource(DataSource):
    """``spark.readStream.format("replay_log")`` over an ordered
    parquet file. Options: ``path`` (one parquet file), ``chunk``
    (offsets per micro-batch), ``parts`` (input partitions per
    batch)."""

    @classmethod
    def name(cls) -> str:
        return "replay_log"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, value_mills bigint"

    def streamReader(self, schema):
        return _ReplayLogReader(self.options)


class _ReplayLogReader(DataSourceStreamReader):
    def __init__(self, options):
        self._path = options["path"]
        self._chunk = int(options.get("chunk", 500))
        self._parts = int(options.get("parts", 2))
        import pyarrow.parquet as pq

        self._total = pq.read_metadata(self._path).num_rows
        self._cur = 0

    def initialOffset(self):
        return {"row": 0}

    def latestOffset(self):
        self._cur = min(self._cur + self._chunk, self._total)
        return {"row": self._cur}

    def commit(self, end):
        # Restart correctness (review finding, reproduced): a fresh
        # reader's cursor starts at 0, so after a checkpoint restart
        # latestOffset could report an offset BEHIND the recovered
        # progress and re-deliver ranges. Spark routes every planned
        # range — including recovery replays — through partitions(),
        # and every completed batch through commit(); both lift the
        # cursor floor, making latestOffset monotone relative to
        # whatever the checkpoint already holds.
        self._cur = max(self._cur, end["row"])

    def partitions(self, start, end):
        self._cur = max(self._cur, end["row"])
        s, e = start["row"], end["row"]
        step = max(1, (e - s + self._parts - 1) // self._parts)
        return [
            InputPartition((self._path, i, min(i + step, e)))
            for i in range(s, e, step)
        ]

    def read(self, partition):
        import pyarrow.parquet as pq

        path, s, e = partition.value
        tbl = pq.read_table(
            path, columns=["event_id", "user_id", "value_mills"]
        ).slice(s, e - s)
        for rec in tbl.to_pylist():
            yield (rec["event_id"], rec["user_id"], rec["value_mills"])


def register_replay_log(spark) -> None:
    """Register ``replay_log`` on ``spark``. Spark also checks the name
    against the thread's active session (so a child of a session that
    holds it would fail): register with ``spark`` active, like ``withActive``."""
    jsession = spark._jvm.org.apache.spark.sql.SparkSession
    prev = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(ReplayLogDataSource)
    finally:
        jsession.setActiveSession(prev.get() if prev.isDefined() else None)
