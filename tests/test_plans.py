"""Plan-regression tests (SURVEY §4): the physical plans behind the
headline queries must keep the shape that scales — broadcast joins for
dims, filters pushed to the parquet scan, pruned read schemas, no
row-at-a-time Python UDFs. Results wouldn't change if these regressed;
100 TB runtimes would."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
    q1_star_revenue_by_nation,
)
from realtime_financial_transactions_data_pipeline_spark.plans import inspect
from realtime_financial_transactions_data_pipeline_spark.tables import load_table


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = q1_star_revenue_by_nation(spark, sf_dir)
    assert inspect.uses_broadcast_join(df)
    assert not inspect.has_sort_merge_join(df)


def test_filter_pushed_to_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey"
    )
    pushed = inspect.pushed_filters(df)
    assert "o_orderstatus" in pushed


def test_projection_prunes_read_schema(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schema = inspect.scan_read_schema(df)
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_comment" not in schema  # untouched wide column must not be read


def test_no_row_at_a_time_python_udfs(spark, sf_dir):
    """Every probe plan must be free of BatchEvalPython (row-at-a-time
    Python). Arrow-batched pandas UDFs (ArrowEvalPython) are the only
    sanctioned Python on the hot path."""
    from realtime_financial_transactions_data_pipeline_spark.registry import all_probes

    skip = {  # streaming probes run side-effecting pipelines, not single plans
        "t1_t6_streaming_pipeline",
        "j3_stream_lookup_refresh",
        "k3_passthrough_stream",
        "s5_k4_csv_overwrite_load",
        "s6_json_read",
    }
    for name, p in all_probes().items():
        if name in skip:
            continue
        df = p.fn(spark, sf_dir)
        assert not inspect.has_python_row_udf(df), f"{name} uses a row-at-a-time Python UDF"


def test_codegen_active_on_relational_path(spark, sf_dir):
    df = q1_star_revenue_by_nation(spark, sf_dir)
    assert inspect.has_wholestage_codegen(df)


def test_funnel_single_pass_shuffles_once(spark, sf_dir):
    """a12's whole point is one exchange; a regression to the staged
    shape (one shuffle per stage) would still be correct, just 2x
    slower — pin the plan."""
    from realtime_financial_transactions_data_pipeline_spark.operators.timeseries import (
        a12_funnel,
    )

    plan = inspect.formatted_plan(a12_funnel(spark, sf_dir))
    # One data shuffle (the groupBy(user) hashpartitioning); the only
    # other exchange is the SinglePartition collapse of 1-row aggs.
    assert plan.count("hashpartitioning") == 1


def test_heavy_hitters_prunes_before_recount(spark, sf_dir):
    """x5c must semi-join the token stream down to MG candidates BEFORE
    the exact-count shuffle, and run the summary pass in Arrow batches."""
    from realtime_financial_transactions_data_pipeline_spark.operators.sketches import (
        x5c_heavy_hitters,
    )

    plan = inspect.formatted_plan(x5c_heavy_hitters(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "MapInPandas" in plan


def test_ts1_has_no_nested_loop_join(spark, sf_dir):
    """VERDICT r06 #2 regression pin: ts1's pair space must come from
    the equi-joined tile scan, never a theta/cartesian join — a
    BroadcastNestedLoopJoin here is the 100×-scale killer the round-6
    verdict flagged (pair space grows 10,000× at 100× users)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.timeseries import (
        ts1_series_similarity,
    )

    plan = inspect.formatted_plan(ts1_series_similarity(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q15_has_no_global_window(spark, sf_dir):
    """VERDICT r08 #4 regression pin: q15's ties-included argmax must be
    the broadcast-max gate (1-row aggregate + exact equality filter),
    never a partitionBy-less rank() window — that shape funnels every
    supplier aggregate row through ONE task and is the classic
    single-partition-window bottleneck at 100 TB."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        q15_top_revenue_supplier,
    )

    plan = inspect.formatted_plan(q15_top_revenue_supplier(spark, sf_dir))
    assert "Window" not in plan, plan


def test_ts1b_blocked_variant_plan_and_semantics(spark, sf_dir):
    """ts1b (the corpus-scale candidate step) must inherit ts1's plan
    discipline — no nested-loop/cartesian node — and its result must be
    a subset-or-equal answer: every pair it reports is a real pair with
    the exact distance (verified by membership in ts1's exact top-k
    when both ends share a cluster)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.timeseries import (
        ts1b_series_similarity_blocked,
    )

    df = ts1b_series_similarity_blocked(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # ivf_assign's bounded corpus x k-centroid crossJoin runs once at
    # build time behind the eager checkpoint of `packed`; the FINAL tile
    # plan must hold only equi-joins on (cl, blk) — a nested-loop node
    # here would be the N² pair-space regression ts1 eliminated.
    assert "BroadcastNestedLoopJoin" not in plan, plan
    rows = df.collect()
    assert 0 < len(rows) <= 5
    # distances ascend under the global tie-break
    ds = [r.zdist for r in rows]
    assert ds == sorted(ds)


def test_tpch_completion_plans_have_no_nested_loops(spark, sf_dir):
    """VERDICT r11 #2: the round-12 TPC-H completion set (q2 correlated
    min-subquery, q11 scalar-subquery HAVING, q12 dual conditional agg,
    q16 NOT-IN exclusion, q20 nested IN chains, q21 EXISTS/NOT-EXISTS
    self-join) must decorrelate to hash joins — a CartesianProduct or a
    data-sized BroadcastNestedLoopJoin is the 100 TB scale-killer these
    shapes exist to test. q11's single benign exception: the ONE-ROW
    total-value gate broadcasts via crossJoin (the q15/q22 pattern)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        q2_min_cost_supplier,
        q11_important_stock,
        q12_shipclass_priority,
        q16_supplier_part_counts,
        q20_potential_promotion,
        q21_suppliers_kept_waiting,
    )

    for fn in (
        q2_min_cost_supplier,
        q12_shipclass_priority,
        q16_supplier_part_counts,
        q20_potential_promotion,
        q21_suppliers_kept_waiting,
    ):
        plan = inspect.formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (fn.__name__, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (fn.__name__, plan)
    # q11: the 1-row aggregate gate is the only permitted NLJ node.
    plan = inspect.formatted_plan(q11_important_stock(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    import re

    nlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M))
    assert nlj <= 1, plan


def test_x2a_verify_join_is_candidate_pruned(spark, sf_dir):
    """VERDICT r11 #6 regression pin: x2a's exact-Jaccard verify must
    semi-join the gram corpus down to candidate ids BEFORE any gram
    array enters a join — the pre-r12 shape shipped the FULL corpus
    through the verify exchange once past the broadcast threshold
    (73.7x shuffle at the 10x smoke; 8.7x after the prune)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        x2a_minhash_lsh_neardup,
    )

    plan = inspect.formatted_plan(x2a_minhash_lsh_neardup(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_x2v_refine_broadcasts_shortlist_no_cartesian(spark, sf_dir):
    """x2v's refine join must move floats for ONLY the shortlist: the
    corpus-side embedding scan joins a BROADCAST shortlist (queries x
    refine_factor x k rows), never the reverse, and nothing in the
    refine stage is a cartesian/nested-loop product."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        x2v_ivfpq_refine,
    )

    plan = inspect.formatted_plan(x2v_ivfpq_refine(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_g3_ranking_has_no_global_window_over_candidates(spark, sf_dir):
    """r13 regression pin (the q15 hazard in graph form): g3's global
    top-N must be TakeOrderedAndProject (per-partition heaps, driver
    merges topn rows) feeding a window over ONLY the topn survivors —
    never a partitionBy-less row_number over the full scored candidate
    set. The plan signature: TakeOrderedAndProject BELOW the Window
    node, i.e. the window's child is already limited."""
    import re

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        g3_link_prediction,
    )

    plan = inspect.formatted_plan(g3_link_prediction(spark, sf_dir))
    assert re.search(r"^\(\d+\) TakeOrderedAndProject", plan, re.M), plan


def test_j8_band_join_is_hash_not_nested_loop(spark, sf_dir):
    """j8's whole reason to exist: the keyless band predicate must ride
    the manufactured bucket key as a HASH join — never the
    BroadcastNestedLoopJoin Spark plans for a raw theta join."""
    from realtime_financial_transactions_data_pipeline_spark.operators.asof import (
        j8_band_join_bucketed,
    )

    plan = inspect.formatted_plan(j8_band_join_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_scale_dynamic_pruning_plan_carries_dpp(spark, sf_dir):
    """The DPP probe's fact scan must carry a dynamicpruningexpression
    in its PartitionFilters — runtime pruning injected from the
    broadcast dim, the case static listing cannot prune (the filter
    lives on the dim's dow column, not the fact's partition column) —
    and the dim side must broadcast."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_dynamic_pruning,
    )

    df = scale_dynamic_pruning(spark, sf_dir)
    pf = inspect.partition_filters(df)
    assert "dynamicpruning" in pf.lower(), pf
    plan = inspect.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_a25_pushes_month_filter_and_broadcasts_part(spark, sf_dir):
    """a25's two-month window must reach the lineitem scan as a pushed
    filter, the brand dim must broadcast, and the two-month split must
    come from ONE aggregate (no self-join): exactly one Exchange below
    the final project."""
    import re

    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        a25_price_volume_mix,
    )

    df = a25_price_volume_mix(spark, sf_dir)
    assert "l_shipdate" in inspect.pushed_filters(df)
    assert inspect.uses_broadcast_join(df)
    plan = inspect.formatted_plan(df)
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}"


def test_dq7_single_scan_per_measure_partial_agg(spark, sf_dir):
    """dq7 reads each price column once (pruned schema) and the digit
    rollup partial-aggregates (HashAggregate below the exchange)."""
    import re

    from realtime_financial_transactions_data_pipeline_spark.operators.quality import (
        dq7_benford_audit,
    )

    df = dq7_benford_audit(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 2  # orders + lineitem, once each
    assert "l_comment" not in inspect.scan_read_schema(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_x23_sampling_is_scan_shaped(spark, sf_dir):
    """x23's inclusion decision must not shuffle the corpus: the max(w)
    scalar broadcasts (BroadcastNestedLoopJoin on a 1-row side is the
    legal scalar-broadcast shape) and the only exchange feeds the
    per-source panel aggregate."""
    import re

    from realtime_financial_transactions_data_pipeline_spark.operators.curation import (
        x23_pps_sample,
    )

    df = x23_pps_sample(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    # one shuffle for the groupBy(source) panel; the scalar max(w)
    # reaches rows via broadcast, not a shuffle
    assert n_exchange <= 2, plan
    assert "BroadcastExchange" in plan


def test_mv4_local_pipeline_executor_semantics(spark, tmp_path):
    """The local Declarative Pipelines executor: out-of-order
    declarations resolve via the static dependency scan WITHOUT a
    single failing analysis attempt (r17 — the old fixed-point
    resolver leaked expected TABLE_OR_VIEW_NOT_FOUND stack traces
    into the listener bus), temporary views don't materialize, and a
    genuine cycle raises with the stuck flow names."""
    import pytest

    from pyspark import pipelines as dp

    from realtime_financial_transactions_data_pipeline_spark.plans.declarative import (
        run_pipeline,
    )

    calls: list[str] = []

    def define():
        # downstream declared FIRST — under try-and-catch execution its
        # first attempt would raise; the static resolver must order it
        # after upstream, so each flow body runs exactly once and in
        # topological order.
        @dp.materialized_view(name="downstream_mv")
        def downstream():
            calls.append("downstream_mv")
            return spark.table("upstream_tv").selectExpr("x * 2 AS y")

        @dp.temporary_view(name="upstream_tv")
        def upstream():
            calls.append("upstream_tv")
            return spark.range(3).selectExpr("id AS x")

    done = run_pipeline(spark, define, str(tmp_path / "p1"))
    assert sorted(r.y for r in done["downstream_mv"].collect()) == [0, 2, 4]
    assert not (tmp_path / "p1" / "upstream_tv").exists()  # TV: no files
    assert (tmp_path / "p1" / "downstream_mv").exists()    # MV: parquet
    assert calls == ["upstream_tv", "downstream_mv"]  # once each, ordered

    def define_cycle():
        @dp.materialized_view(name="a_mv")
        def a():
            return spark.table("b_mv")

        @dp.materialized_view(name="b_mv")
        def b():
            return spark.table("a_mv")

    with pytest.raises(RuntimeError, match="unresolvable"):
        run_pipeline(spark, define_cycle, str(tmp_path / "p2"))


def test_pipeline_executor_dynamic_names_fall_back(spark, tmp_path):
    """A flow whose upstream name is built at runtime is invisible to
    the static bytecode scan — the fixed-point fallback must still
    resolve it (the one remaining path where an expected
    AnalysisException can occur)."""
    from pyspark import pipelines as dp

    from realtime_financial_transactions_data_pipeline_spark.plans.declarative import (
        run_pipeline,
    )

    prefix = "dyn_"  # defeats constant folding: name never a literal

    def define():
        @dp.materialized_view(name="dyn_sink")
        def sink():
            return spark.table(prefix + "src").selectExpr("x + 1 AS y")

        @dp.temporary_view(name="dyn_src")
        def src():
            return spark.range(2).selectExpr("id AS x")

    done = run_pipeline(spark, define, str(tmp_path / "p3"))
    assert sorted(r.y for r in done["dyn_sink"].collect()) == [1, 2]


def test_q1p_pipe_syntax_plans_broadcast_star(spark, sf_dir):
    """Pipe-syntax stages are sugar over the same logical operators:
    the |>-chained flagship must plan the identical broadcast-star
    shape as the DataFrame form (no sort-merge join, pushed date
    filter)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        q1p_pipe_syntax,
    )

    df = q1p_pipe_syntax(spark, sf_dir)
    assert inspect.uses_broadcast_join(df)
    assert not inspect.has_sort_merge_join(df)
    assert "o_orderdate" in inspect.pushed_filters(df)


def test_no_probe_has_unbounded_global_window(spark, sf_dir):
    """VERDICT r15 #4 — closed-class tripwire (the BatchEvalPython/NLJ
    discipline applied to windows): no probe plan may contain a Window
    node with an EMPTY partition spec over an unbounded relation. A
    partitionBy-less window funnels the whole input through ONE task —
    fine at sf0.01, fatal at 100 TB (the r15 a24/x27 findings, both
    since rewritten onto the two-phase range-partitioned rank). The
    whitelist names every survivor and WHY its input is bounded by
    construction; anything else that grows a global window fails here.
    """
    from realtime_financial_transactions_data_pipeline_spark.registry import all_probes

    allowed = {
        # ranks only the 100 survivors of a TakeOrderedAndProject
        # (pinned by test_g3_ranking_has_no_global_window_over_candidates)
        "g3_link_prediction",
        # global row_number AFTER .limit(100) — bounded survivor set
        "x11_deterministic_shuffle",
        # Zipf fit over the top-100 of a TakeOrderedAndProject
        "x3m_vocab_zipf",
        # running cusum over the per-DAY rollup — calendar-bounded
        # (rows = distinct days, not data-sized)
        "ts5_cusum_changepoint",
        # min(...) OVER () scalar attach on the nprobe-sweep summary —
        # rows = sweep grid size, a config constant
        "x2u_recall_tuned",
    }
    skip = {  # streaming probes run side-effecting pipelines, not single plans
        "t1_t6_streaming_pipeline",
        "j3_stream_lookup_refresh",
        "k3_passthrough_stream",
        "s5_k4_csv_overwrite_load",
        "s6_json_read",
    }
    offenders = {}
    for name, p in all_probes().items():
        if name in skip or name in allowed:
            continue
        gw = inspect.global_windows(p.fn(spark, sf_dir))
        if gw:
            offenders[name] = gw[0]
    assert not offenders, (
        "unpartitioned Window over a non-whitelisted relation — the "
        f"SinglePartition 100 TB collapse: {offenders}"
    )


def test_a32_single_pass_pushed_filter(spark, sf_dir):
    """a32's whole shape claim: the four age buckets come out of ONE
    conditional aggregation (a single fact-side hashpartitioning on
    region), the snapshot/status predicates reach the orders scan, the
    dims broadcast — and the buckets PARTITION the open set exactly
    (counts and cents sum to the totals row-by-row)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        a32_backlog_aging,
    )

    df = a32_backlog_aging(spark, sf_dir)
    pushed = inspect.pushed_filters(df)
    assert "o_orderstatus" in pushed
    assert inspect.uses_broadcast_join(df)
    for r in df.collect():
        assert r.n_0_30 + r.n_31_60 + r.n_61_90 + r.n_90_plus == r.n_open
        assert (
            r.cents_0_30 + r.cents_31_60 + r.cents_61_90 + r.cents_90_plus
            == r.cents_open
        )


def test_f20_sql_udf_inlines_to_codegen(spark, sf_dir):
    """f20's reason to exist: a SQL-defined UDF must inline at plan
    time — the physical plan stays whole-stage-codegen'd with ZERO
    Python eval nodes, i.e. reusable business logic without leaving
    the JVM. (A Python UDF expressing the same banding would insert a
    BatchEvalPython node and fall out of codegen.)"""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        f20_sql_udf,
    )

    df = f20_sql_udf(spark, sf_dir)
    assert inspect.has_wholestage_codegen(df)
    assert not inspect.has_python_row_udf(df)
    plan = inspect.formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_a33_two_phase_pareto_no_global_window(spark, sf_dir):
    """a33's reason to exist: the cumulative-share walk must ride the
    two-phase pattern — no unpartitioned Window anywhere (the part
    dimension is 100 TB-scale) — and the classes must exactly
    partition the part set with shares summing to 1."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        a33_abc_classification,
    )

    df = a33_abc_classification(spark, sf_dir)
    assert inspect.global_windows(df) == []
    rows = {r.abc: r for r in df.collect()}
    assert set(rows) <= {"A", "B", "C"}
    assert abs(sum(r.revenue_share for r in rows.values()) - 1.0) < 1e-4
    # A's share is by construction the largest band of the three
    if {"A", "C"} <= set(rows):
        assert rows["A"].revenue_share >= rows["C"].revenue_share


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    """Spark 4's rank-filter pushdown (WindowGroupLimit): per-group
    top-k probes must carry the WindowGroupLimit node — per-partition
    k-row heaps BEFORE the window sort — not a full window + filter.
    At 100 TB this is the difference between shuffling k rows per
    group and shuffling every row. Pins o5 (top-2 orders per customer)
    and sql3 (LATERAL top-2 per nation, decorrelated to the same
    shape)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        o5_window_rank,
        sql3_lateral_topk,
    )

    for fn in (o5_window_rank, sql3_lateral_topk):
        plan = inspect.formatted_plan(fn(spark, sf_dir))
        assert "WindowGroupLimit" in plan, (fn.__name__, plan[:500])


def test_er5_snm_no_global_window_no_theta_join(spark, sf_dir):
    """er5's reason to exist: the sorted-neighborhood pair space must
    come from rank+d equi-joins over the two-phase rank — no
    unpartitioned Window, no nested-loop/cartesian node — and the pair
    counts must be exactly n - d per distance (the SNM n·w bound, the
    whole point of the strategy)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        _ER5_W,
        er5_sorted_neighborhood,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    df = er5_sorted_neighborhood(spark, sf_dir)
    assert inspect.global_windows(df) == []
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    n = load_table(spark, sf_dir, "customer").count()
    rows = {r.d: r for r in df.collect()}
    assert set(rows) == set(range(1, _ER5_W + 1))
    for d, r in rows.items():
        assert r.n_pairs == n - d, (d, r.n_pairs, n)


def test_no_shuffle_width_conf_mutation_in_batch_operators():
    """Tripwire (VERDICT r17 #3): no operator or streaming module may
    mutate ``spark.sql.shuffle.partitions`` — a width pinned to probe
    scale serializes iterated loops at corpus scale, and session
    mutation is unsafe under concurrent queries on a shared session.
    The CC loops derive explicit per-round repartition widths from the
    live edge count; streams run on a child session whose width
    ``streaming.run`` derives from the input size. Matches real
    ``*.conf.set("spark.sql.shuffle.partitions", ...)`` call nodes, so
    neither a comment nor an unrelated ``conf.set`` in the same
    function can trip or mask it."""
    import ast
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "realtime_financial_transactions_data_pipeline_spark"
    )
    offenders = []
    for path in sorted([*pkg.glob("operators/*.py"), *pkg.glob("streaming/*.py")]):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "spark.sql.shuffle.partitions"
            ):
                offenders.append(f"{path.parent.name}/{path.name}:{node.lineno}")
    assert offenders == [], f"module mutates session-global shuffle width: {offenders}"
