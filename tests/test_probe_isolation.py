"""Batch probes are isolated from the caller's session and from other
calls: every probe that writes files writes under its own
``registry.probe_scratch()`` root, probe-local settings live in a
writer option or a child session, never in the caller's SQLConf, and
derived frames shared across calls come from the single-flight
``caching.memo_persist``."""

from __future__ import annotations

import threading
import time

from realtime_financial_transactions_data_pipeline_spark.operators.curation import (
    x6_corpus_curation,
    x7_contamination_check,
)
from realtime_financial_transactions_data_pipeline_spark.operators.quality import (
    dq4_schema_drift,
)
from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
    mv4_declarative_pipeline,
)
from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
    _SKEWJOIN_CONFS,
    k12_dynamic_partition_overwrite,
    k13_deletion_vectors,
    scale_aqe_skewjoin,
    scale_balanced_write,
)
from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
    x2t_ivfpq_residual_search,
)

#: File-writing probes (k13, dq4), a memo consumer (x6), a probe that
#: checkpoints a frame its own branches share (x7), and one whose memo
#: builders nest (x2t: the IVF assignment builder calls the centroid
#: memo).
_CONCURRENT_PROBES = (
    k13_deletion_vectors,
    dq4_schema_drift,
    x6_corpus_curation,
    x7_contamination_check,
    x2t_ivfpq_residual_search,
)


def _values(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_concurrent_batch_probe_calls_match_serial(spark, sf_dir):
    """Two threads each per probe, all at once on one session, each get
    the serial result: no shared root, no wipe under another call's
    files, no cache pulled from under another call. The threads run
    first, so they can race on memo keys no earlier test built."""
    calls = [p for p in _CONCURRENT_PROBES for _ in range(2)]
    results: dict[int, list] = {}
    errors: list[Exception] = []

    def run(i: int) -> None:
        try:
            results[i] = _values(calls[i](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(calls))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    serial = [_values(p(spark, sf_dir)) for p in _CONCURRENT_PROBES]
    assert [results[i] for i in range(len(calls))] == [s for s in serial for _ in range(2)]


def test_probes_leave_session_confs_alone(spark, sf_dir):
    """A thread polling the caller's write and AQE skew-join confs while
    k12, scale_balanced_write and scale_aqe_skewjoin run must only ever
    see the session's own values."""
    keys = (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.files.maxRecordsPerFile",
        *_SKEWJOIN_CONFS,
    )
    session_values = tuple(spark.conf.get(k) for k in keys)
    seen: set[tuple] = set()
    done = threading.Event()

    def poll() -> None:
        while not done.is_set():
            seen.add(tuple(spark.conf.get(k) for k in keys))
            time.sleep(0.002)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        for probe in (
            k12_dynamic_partition_overwrite,
            scale_balanced_write,
            scale_aqe_skewjoin,
        ):
            probe(spark, sf_dir).collect()
    finally:
        done.set()
        poller.join(timeout=10)
    assert not poller.is_alive()
    assert seen == {session_values}


def test_declarative_pipeline_leaves_no_views_in_caller_session(spark, sf_dir):
    """mv4's materialized views are temp views over its scratch root;
    they live on a child session, so the caller's catalog never holds a
    view whose files are gone once the probe returns."""
    assert mv4_declarative_pipeline(spark, sf_dir).count() > 0
    views = {"gold_daily_panel", "silver_events", "bronze_events"}
    assert views.isdisjoint(t.name for t in spark.catalog.listTables())
