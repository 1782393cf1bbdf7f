"""Double-invocation interleaving gate for side-effecting probes.

Round 3's one driver hash failure (t8) was traced to probes returning
LAZY DataFrames over fixed scratch dirs that the probe fn itself wipes:
if a caller invokes the probe twice (schema pass, then value pass) and
evaluates the FIRST result after the SECOND call, the deferred read
races the scratch rewrite. Every side-effecting probe now materializes
its result via registry.pin_result before returning; this test pins the
contract by doing exactly the hostile call sequence: invoke, invoke
again, THEN evaluate the first result and demand it equals the second.
"""

from __future__ import annotations

import pytest

from realtime_financial_transactions_data_pipeline_spark.registry import all_probes

#: Every probe whose fn writes scratch directories (sinks, checkpoints,
#: CSV/JSON round-trips) before returning a result. t5 is included even
#: though its raw counts are timing-dependent — its returned booleans
#: are deterministic.
SIDE_EFFECTING = [
    "s5_k4_csv_overwrite_load",
    "s6_json_read",
    "k5_create_table_ddl",
    "k3_passthrough_stream",
    "j3_stream_lookup_refresh",
    "t1_t6_streaming_pipeline",
    "t4_stateful_stream_dedupe",
    "t5_rate_source",
    "t8_stream_outer_attribution",
    "l1b_partition_pruned_slice",
    "s9_schema_evolution_merge",
    # Round-7 window promotions (VERDICT r06 #1): the two side-effecting
    # probes newly inside the driver's 50-entry sample get the hostile
    # schema-pass/value-pass interleaving here too.
    "k8b_bucketed_merge_sink",
    "t9_stream_sessionization",
    "x1e_stream_dedup_ingest",
    # Cohort-3/4 window promotions with scratch-writing bodies: the CDC
    # merge sinks (snapshot + change-feed roots) and the tumbling-window
    # stream join the same hostile interleaving.
    "k8_stream_merge_sink",
    "k8c_change_feed",
    "t10_stream_tumbling_windows",
    "x2n_stream_neardup_ingest",
    # Round-15 continuation: the streaming/scratch-writing newcomers.
    "t12_batch_stream_unification",
    "t14_state_store_inspection",
    "s17_python_stream_source",
    "mv4_declarative_pipeline",
    # Second continuation: the stream-stream semi join (wipes + re-runs
    # its /tmp root and checkpoint per call).
    "t17_stream_semi_join",
    # r17: the persisted IVF index and the deletion-vector probe wipe
    # + rewrite their layout roots per call; pin_result must insulate
    # the first result's values from the second call's rebuild.
    "x2x_persisted_ivf",
    "k13_deletion_vectors",
    "scale_manifest_skipping",
    "scale_balanced_write",
    # The remaining batch probes that write under probe_scratch(); dq4
    # returned a lazy result over its root until it pinned it.
    "dq4_schema_drift",
    "s10_orc_roundtrip",
    "scale_time_travel",
    "k11_write_audit_publish",
    "k12_dynamic_partition_overwrite",
    "scale_vacuum",
]


def _values(df):
    # repr-keyed sort: rows may hold None next to strings, which plain
    # tuple comparison refuses to order.
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", SIDE_EFFECTING)
def test_double_invocation_interleaved_evaluation(spark, sf_dir, name):
    probe = all_probes()[name]
    first = probe.fn(spark, sf_dir)
    second = probe.fn(spark, sf_dir)  # wipes + rewrites the same scratch
    # Evaluate the FIRST result only now — after the second call has
    # destroyed and recreated everything the first run wrote.
    assert _values(first) == _values(second)


@pytest.mark.parametrize("name", SIDE_EFFECTING)
def test_side_effecting_probe_results_are_local(spark, sf_dir, name):
    """The materialization contract itself: a pinned result's plan must
    not contain a file scan (LocalTableScan/LocalRelation only), so no
    later filesystem change can alter what it evaluates to."""
    df = all_probes()[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation" not in plan or "LocalRelation" in plan, plan
