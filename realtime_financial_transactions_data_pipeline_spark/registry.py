"""Probe-query registry.

Each operator from SURVEY.md §2 registers a named probe: a builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the ANSI-SQL
oracle string DuckDB runs on the same parquet tables. ``__spark_entry__``
exposes the aggregate registry to the driver.

Column-name discipline: every computed/aggregate column is aliased
identically in the Spark builder and the oracle SQL — the driver's
comparator sorts columns by name before value-hashing.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Probe:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver does a rows-only check
    doc: str = ""


_REGISTRY: dict[str, Probe] = {}

#: Driver window policy: the driver hash-checks the first 50 ``queries()``
#: entries; every SURVEY §2 family keeps a representative in it, every
#: member carries an oracle (rows-only probes never enter), and rotation
#: swaps out the oldest-green members first. The CORRECTNESS_r*.json
#: ledgers are the rotation history.
DRIVER_WINDOW = 50
_DRIVER_ORDER = [
    # anchors (stability): the flagship star join (also entry()'s smoke
    # every round) and the streaming pipeline covering S1/S2/S4/K1/K2/
    # T1/T2/T3/T6 in one probe.
    "q1_star_revenue_by_nation",     # flagship: J1 star join + A8 agg
    "t1_t6_streaming_pipeline",      # S1/S2/S4/K1/K2/T1/T2/T3/T6
    # first exposure (39): the cohort-11 backlog, registration order,
    # minus the three x6 deferrals (x37/x38/x40 -> cohort 12).
    # a33 and x36 double as driver certification of their r17 edge
    # fixes (int64-overflow-proof banding; zero-uniform lower bound),
    # and scale_aqe_skewjoin of this round's new adaptive mechanism.
    "scale_bucketed_star",
    "scale_cbo_stats",
    "scale_exchange_reuse",
    "scale_salted_join",
    "scale_stable_row_ids",
    "scale_vacuum",
    "sql1_scripting_threshold_search",
    "sql2_recursive_cte",
    "sql3_lateral_topk",
    "t12_batch_stream_unification",
    "t13_stream_full_outer_join",
    "t14_state_store_inspection",
    "t15_session_window_builtin",
    "t17_stream_semi_join",
    "ts7_holt_forecast",
    "ts8_holt_winters_forecast",
    "ts9_forecast_backtest",
    "x22_cluster_safe_split",
    "x23_pps_sample",
    "x24_containment_pairs",
    "x25_repeated_substring_spans",
    "x26_span_decontamination",
    "x2ab_embedding_drift",
    "x34_jl_projection",
    "x35_cross_source_dup_matrix",
    "a32_backlog_aging",
    "a33_abc_classification",
    "er5_sorted_neighborhood",
    "f20_sql_udf",
    "g11_lpa_communities",
    "prof3_frequent_values",
    "ts10_max_drawdown",
    "ts11_mad_outliers",
    "ts12_autocorrelation",
    "u10_token_referential_integrity",
    "x2ac_minhash_calibration",
    "x36_priority_sample",
    "x5e_countmin_freq",
    "scale_aqe_skewjoin",
    # family-coverage keeps (test_driver_window_family_coverage):
    # least-recently-driver-green per family the backlog leaves
    # unrepresented (last-green rounds from CORRECTNESS_r*.json).
    "k6_cdc_latest_wins",            # last green r11
    "p2_p5_shape_defaults",          # last green r10
    "j5_range_predicate_join",       # last green r7
    "l1_l3_slicer_stack",            # last green r15
    "pivot_status_by_segment",       # last green r8
    "x1d_bloom_prefilter",           # last green r12
    "x3ade_doc_profile",             # last green r12
    "x4g_jpeg_decode",               # last green r11
    "dq2_referential_audit",         # last green r12
]
if len(_DRIVER_ORDER) != DRIVER_WINDOW or len(set(_DRIVER_ORDER)) != DRIVER_WINDOW:
    # Not assert: these invariants must hold under ``python -O`` too,
    # and a broken window should fail at import with a clear message.
    raise RuntimeError(
        f"_DRIVER_ORDER must hold exactly {DRIVER_WINDOW} unique names, "
        f"got {len(_DRIVER_ORDER)} ({len(set(_DRIVER_ORDER))} unique)"
    )


@contextlib.contextmanager
def probe_scratch() -> Iterator[str]:
    """Yield a fresh directory of the call's own and remove it on exit.
    Every probe that writes files (batch loads, table layouts, stream
    sinks and checkpoints) writes under it, so two calls never share a
    path and a re-invocation never wipes files under another call's
    unread result. Probes :func:`pin_result` inside the ``with`` block."""
    path = tempfile.mkdtemp(prefix="spark_graft_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def pin_result(df: DataFrame) -> DataFrame:
    """Materialize a probe result whose lineage reads a
    :func:`probe_scratch` directory.

    The directory is removed when the probe's ``with`` block exits, so
    probes call this INSIDE the block: a lazy result would re-read files
    that are gone by the time the caller evaluates it. Collecting pins
    the values while the files exist — every scratch-backed probe result
    is at most a few hundred rows by construction — and the rebuilt
    DataFrame is a local relation with no scratch lineage, immune to
    later removals and to a re-invocation's writes.
    """
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def probe(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a probe query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate probe {name!r}")
        _REGISTRY[name] = Probe(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_probes() -> dict[str, Probe]:
    # Import side-effect modules that register probes.
    from realtime_financial_transactions_data_pipeline_spark.operators import (  # noqa: F401
        asof,
        chunking,
        profiling,
        quality,
        relational,
        graph,
        dedup,
        similarity,
        text,
        sketches,
        tokenization,
        multimodal,
        scale,
        curation,
        packing,
        timeseries,
    )
    from realtime_financial_transactions_data_pipeline_spark.sources import (  # noqa: F401
        avro_ocf,
        batch,
        datagen,
    )
    from realtime_financial_transactions_data_pipeline_spark.streaming import (  # noqa: F401
        joins,
        merge_sink,
        pipeline,
        stateful,
        windows,
    )

    missing = [n for n in _DRIVER_ORDER if n not in _REGISTRY]
    if missing:
        # Degrade instead of zeroing out the whole suite: the remaining
        # probes still run (and the window test fails loudly), so one
        # renamed probe costs one row, not all fifty.
        import warnings

        warnings.warn(
            f"driver-window probes not registered: {missing}", RuntimeWarning
        )
    ordered = {n: _REGISTRY[n] for n in _DRIVER_ORDER if n in _REGISTRY}
    for n in sorted(_REGISTRY):
        ordered.setdefault(n, _REGISTRY[n])
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: p.fn for name, p in all_probes().items()}


def oracle_sql() -> dict[str, str]:
    return {name: p.oracle for name, p in all_probes().items() if p.oracle is not None}
