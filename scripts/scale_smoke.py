"""10x scale smoke (VERDICT r10 #7): synthesize sf0.1-SHAPED tables at
1x, 10x (and 60x events = 6 M rows for the merge sink), run the
heaviest probes once per scale through their REAL code paths (the
probe functions themselves, pointed at the synthetic sf_dir), and
record wall time + shuffle bytes from the Spark REST API. The output
is a markdown table for PLANS.md; the check is that observed scaling
is ~linear for the linear-by-design operators (x2a banding, x2i label
propagation, x2n pruned-probe ingest, k8b touched-bucket merges) and
quadratic ONLY where the operator is exact-all-pairs by contract
(ts1b's tile scan: pair space grows as users^2 while per-task memory
stays two tiles).

Generation laws (deterministic, hash-derived — no RNG):
  documents: word j of doc i = md5(base_id ':' j)[:8], n_words =
    40 + xxhash64(base_id) % 60; every 13th doc is a near-dup of its
    predecessor (its first two words differ) so dedup probes see
    planted structure at every scale.
  events: ts = 2024-01-01 + (xxhash64(id,1) % 90 days), user_id =
    xxhash64(id,2) % (n/50)  (~50 events/user), event_type from five
    values incl. 'error' (k8b's tombstones), value = hash-uniform.

Run it alone (it shares /tmp probe scratch with bench/pytest):

    python scripts/scale_smoke.py            # full matrix, ~15-30 min
    python scripts/scale_smoke.py x2a 1 10   # one probe, chosen scales
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession, functions as F

from realtime_financial_transactions_data_pipeline_spark import caching
from realtime_financial_transactions_data_pipeline_spark.registry import all_probes

ROOT = "/tmp/spark_graft_scale"
BASE_DOCS = 5_000     # sf0.1 documents row count
BASE_EVENTS = 100_000  # sf0.1 events row count
BASE_EMB = 2_000       # sf0.1 embeddings row count
BASE_LINEITEM = 600_000  # sf0.1 lineitem row count (tpch group scales on it)
BASE = {
    "documents": BASE_DOCS,
    "events": BASE_EVENTS,
    "embeddings": BASE_EMB,
    "tpch": BASE_LINEITEM,
}

#: probe -> (table it scales with, scales to run)
MATRIX = {
    # r15: x2a and x2n join x2i at 100x (500 k docs) — the banding +
    # exact-verify probe and the incremental-ingest probe measured at
    # two orders of magnitude, not just the label-propagation chain.
    # r15 continuation: the FLAGSHIP star join measured at two orders
    # of magnitude of fact volume (60 M lineitem rows at 100x) — the
    # single-exchange/broadcast-dims plan is the whole 100 TB thesis,
    # so it gets a measurement, not just a plan assertion.
    "q1_star_revenue_by_nation": ("tpch", (1, 10, 100)),
    "x2a_minhash_lsh_neardup": ("documents", (1, 10, 100)),
    # r15 continuation: the containment join rides x2b's exact
    # inverted-index floor — measure the floor's Σ df(g)² growth
    # directly instead of only documenting it.
    "x24_containment_pairs": ("documents", (1, 10)),
    # r15 continuation: span-level exact-repeat accounting has NO pair
    # term at all (posting-list keep + per-doc interval union) — its
    # growth should track corpus token count, strictly below the x2b/
    # x24 Σ df(g)² floor. 100x = 500 k docs joins the dedup chain's
    # two-orders-of-magnitude club.
    "x25_repeated_substring_spans": ("documents", (1, 10, 100)),
    # x26 rides x25's span machinery cross-corpus plus a (doc_id, pos)
    # anti join and a per-doc reassembly fold — the removal path must
    # track token count like the detection path does. Forced like x25
    # (its panel is also a distinct-key left join).
    "x26_span_decontamination": ("documents", (1, 10)),
    # r15.2: the two new join-shaped scale probes measured on the
    # TPC-H-shaped group. Bloom semi join: the bitmap is scale-
    # invariant (2 KiB literal), so fact growth should be pure scan +
    # surviving-fraction join. Salted join: the hot key (1/3 of all
    # rows) spreads over 8 reducers; growth should track input, not
    # the hot key's square.
    "scale_bloom_semijoin": ("tpch", (1, 10, 100)),
    "scale_salted_join": ("tpch", (1, 10)),
    # r15.2 late: the two-phase exact-KS must scale like a sort, not a
    # single-partition window — and the dup matrix's self-join width
    # is |sources| per digest, so growth should track corpus size.
    "dq11_ks_drift": ("tpch", (1, 10, 100)),
    "x35_cross_source_dup_matrix": ("documents", (1, 10, 100)),
    # Recursive-CTE scaling: depth is data-shaped (max orders per
    # customer ≈ 25, constant across scales), so wall should track the
    # per-level join volume, not explode with input.
    "sql2_recursive_cte": ("tpch", (1, 10)),
    # r16 (VERDICT r15 #2/#3): the two de-SinglePartitioned probes.
    # a24's three RFM quartiles now ride two-phase range-partitioned
    # ranks — growth should be three sort-class passes over the
    # per-customer rollup, never a one-task funnel; x27's rank+cumsum
    # walks the vocab in range partitions — growth tracks unique terms.
    "a24_rfm_segmentation": ("tpch", (1, 10, 60)),
    "x27_vocab_coverage": ("documents", (1, 10, 100)),
    # r16 late: the other two two-phase consumers — a33's Pareto cumsum
    # over the per-part rollup (2 M parts at 100x) and er5's SNM rank
    # over customers (1.5 M at 100x) with its exactly-n·w pair space.
    "a33_abc_classification": ("tpch", (1, 10, 100)),
    "er5_sorted_neighborhood": ("tpch", (1, 10, 100)),
    "a29_batch_sessionization": ("events", (1, 10)),
    # Set-valued window state (o14): frame length is constant (20), so
    # memory per window is bounded and growth should be one linear
    # supplier-keyed shuffle.
    "o14_rolling_distinct": ("tpch", (1, 10)),
    # 100x = 500 k docs (VERDICT r13 stretch #8): one family measured
    # at two orders of magnitude, turning the "survives 100x" claim
    # from extrapolation into measurement for the banding + label-
    # propagation chain.
    "x2i_neardup_components": ("documents", (1, 10, 100)),
    "x2n_stream_neardup_ingest": ("documents", (1, 10, 100)),
    "k8b_bucketed_merge_sink": ("events", (1, 10, 60)),
    "ts1b_series_similarity_blocked": ("events", (1, 10)),
    # round 13 (VERDICT r12 #3): the new heavy families. g1's in-bucket
    # pair generation is the quadratic-looking construct the bucket cap
    # bounds — measure it like x2a/x2n were; x2s/x2t scale with the
    # embeddings corpus (PQ training + IVF-pruned ADC scan).
    "g1_triangle_count": ("events", (1, 10)),
    "g2_pagerank": ("events", (1, 10)),
    # g3's wedge generation is Σ C(deg, 2) under the hub cap — the
    # densest construct in the graph family (12.3M wedges at sf0.1);
    # g4's frontier loop is the iterative one. Both ride the same
    # bucket-capped edge pass, so edge growth is the thing to watch.
    "g3_link_prediction": ("events", (1, 10)),
    "g4_bfs_hops": ("events", (1, 10)),
    "g5_connected_components": ("events", (1, 10)),
    "g6_weighted_pagerank": ("events", (1, 10)),
    "g7_graph_summary": ("events", (1, 10)),
    "g8_star_components": ("events", (1, 10)),
    # r15 late addition: the assortativity panel's marginal cost over
    # the shared pair pass is the two node-bounded degree joins —
    # measure that they track edge growth, not node².
    "g9_degree_assortativity": ("events", (1, 10)),
    # r16: synchronous LPA — three edge-keyed join + node-argmax rounds
    # over the family memo; growth should track edges like g2's rounds.
    "g11_lpa_communities": ("events", (1, 10)),
    "x2s_ivf_pq_search": ("embeddings", (1, 10)),
    "x2t_ivfpq_residual_search": ("embeddings", (1, 10)),
    "x2v_ivfpq_refine": ("embeddings", (1, 10)),
    "x2w_matryoshka_prefix_search": ("embeddings", (1, 10)),
    # The over-guard shuffle fallback, forced (VERDICT r14 #4): the
    # broadcast-CSR kernel is measured above; this row certifies the
    # path that takes over when the membership guard trips. 100x is
    # deliberately ABSENT: the bucket space is fixed (event_type x
    # ~2160 hours), so at 10 M events every bucket exceeds
    # _G1_BUCKET_CAP and is dropped — 0 pairs survive (measured:
    # 9.4 s wall, 0 rows). That is the cap doing its designed job
    # (mega-buckets are collision pathology, not signal), not a
    # measurement of the pair path; at real 100x scale the bucket
    # key gets finer (day->minute, or +geo), keeping bucket sizes
    # bounded while Σ buckets grows — which is exactly the 10x
    # regime measured here, repeated.
    "pairs_shuffle_fallback": ("events", (1, 10)),
    # r15 continuation: the storage answer to q1's 100x transition
    # (orders outgrows broadcast -> big-big SMJ shuffles both sides).
    # Bucketed co-location joins the two exchange-free; the PREPARE
    # hook builds the layout untimed.
    "q1_bucketed_star": ("tpch", (1, 100)),
    # r17 newcomers: AQE skew split over the hot-gateway fact (the
    # thresholds are probe-local constants, so growth shows how the
    # split count scales with the hot partition); BPE training is
    # vocab-capped — corpus growth should move only the two corpus
    # passes; the persisted IVF index write+reload scales with the
    # embedding corpus while the query read stays probe-set-pruned.
    "scale_aqe_skewjoin": ("tpch", (1, 10)),
    "x3o_bpe_encode": ("documents", (1, 10, 100)),
    "x2x_persisted_ivf": ("embeddings", (1, 10)),
}


def _pairs_shuffle_fallback(spark: SparkSession, sf_dir: str):
    """The graph family's OVER-GUARD fallback (VERDICT r14 #4): force
    strategy='shuffle' so the explode+groupBy pair path — what
    _pair_counts_auto dispatches to when Σ memberships exceeds
    _BITMAP_MAX_MEMBERSHIPS and the CSR build side no longer
    broadcasts — gets its own scale row instead of riding the
    broadcast kernel's. Same floor as the family's memoized pass so
    the rows are comparable to the g1-g8 entries."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        _G1_MIN_SHARED,
        coengagement_pair_counts,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    return coengagement_pair_counts(
        load_table(spark, sf_dir, "events"),
        floor=_G1_MIN_SHARED,
        strategy="shuffle",
    )


def _tpch_tag(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")


def _prep_q1_buckets(spark: SparkSession, sf_dir: str) -> None:
    """UNTIMED build of the co-located layout (storage decisions are
    amortized across every query that reuses them — charging the write
    to one probe row would misprice it): lineitem and orders bucketed
    16-way on the join key via the repo's write_bucketed."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        write_bucketed,
    )

    tag = _tpch_tag(sf_dir)
    for src, key, tbl in (
        ("lineitem", "l_orderkey", f"smoke_li_{tag}"),
        ("orders", "o_orderkey", f"smoke_ord_{tag}"),
    ):
        if not spark.catalog.tableExists(tbl):
            write_bucketed(
                spark.read.parquet(f"{sf_dir}/{src}.parquet"), tbl, key
            )


def _q1_bucketed_star(spark: SparkSession, sf_dir: str):
    """q1's exact shape over the co-located layout: the big-big
    lineitem ⋈ orders aligns bucket-for-bucket (no exchange on either
    side — the storage answer to the 100x transition where orders
    outgrows broadcast), dims broadcast, one groupBy exchange."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )

    tag = _tpch_tag(sf_dir)
    li = spark.table(f"smoke_li_{tag}")
    o = spark.table(f"smoke_ord_{tag}").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("o_orderstatus").isin("O", "F")
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_txns"),
            dround(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )


def _x25_forced(spark: SparkSession, sf_dir: str):
    """x25 with the evaluation FORCED: the probe's panel is a left
    join back to `documents` on a distinct key, so `count()` lets
    Catalyst eliminate the entire posting pass (distinct-key outer-
    join elimination) and times an empty plan — the first smoke row
    read 0.0 MB shuffle at every scale. Aggregating the computed
    columns makes the runner time the real work."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        x25_repeated_substring_spans,
    )

    return x25_repeated_substring_spans(spark, sf_dir).agg(
        F.sum("repeated_tokens").alias("rt"),
        F.sum("n_spans").alias("ns"),
        F.sum("doc_tokens").alias("dt"),
    )


def _x26_forced(spark: SparkSession, sf_dir: str):
    """x26 forced the same way as x25 (distinct-key left-join panel):
    sum of cleaned-text lengths consumes the reassembly fold too."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.curation import (
        x26_span_decontamination,
    )

    return x26_span_decontamination(spark, sf_dir).agg(
        F.sum(F.length("clean_text")).alias("clen"),
        F.sum("removed_tokens").alias("rm"),
        F.sum("n_spans").alias("ns"),
    )


def _sql2_smoke(spark: SparkSession, sf_dir: str):
    """sql2's shared SQL over the synthetic tpch group: register only
    the table the statement reads (the probe's register_views wants
    every corpus table, which the tpch smoke dir doesn't carry)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        _SQL2_SHARED_SQL,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL2_SHARED_SQL)


#: smoke-only entries that are not registry probes
CUSTOM = {
    "sql2_recursive_cte": _sql2_smoke,
    "x25_repeated_substring_spans": _x25_forced,
    "x26_span_decontamination": _x26_forced,
    "pairs_shuffle_fallback": _pairs_shuffle_fallback,
    "q1_bucketed_star": _q1_bucketed_star,
}

#: untimed per-(entry, scale) preparation — storage-layout builds whose
#: cost amortizes across queries and must not pollute the probe row
PREPARE = {
    "q1_bucketed_star": _prep_q1_buckets,
}


def gen_documents(spark: SparkSession, n: int, path: str) -> None:
    base = (
        "CASE WHEN id > 0 AND id % 13 = 0 THEN id - 1 ELSE id END"
    )
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, 39 + CAST(pmod(xxhash64({base}), 60) AS INT)),"
            f" j -> substr(md5(concat(CAST(CASE WHEN j < 2 THEN id ELSE {base} END AS STRING), ':', CAST(j AS STRING))), 1, 8)))"
        ).alias("text"),
        F.expr(
            "element_at(array('en','de','fr','es'), CAST(pmod(id, 4) AS INT) + 1)"
        ).alias("lang"),
        F.lit("synthetic").alias("source"),
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(path)


def gen_events(spark: SparkSession, n: int, path: str) -> None:
    n_users = max(1, n // 50)
    spark.range(n).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, CAST(pmod(xxhash64(id, 1), 7776000) AS DOUBLE))"
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_users)).alias("user_id"),
        F.expr(
            "element_at(array('click','view','purchase','error','signup'),"
            " CAST(pmod(xxhash64(id, 3), 5) AS INT) + 1)"
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(100000)) / 1000.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(path)


def gen_embeddings(spark: SparkSession, n: int, path: str) -> None:
    """sf0.1-shaped embeddings: 64-dim float vectors, 10 labels, weak
    label-dependent mean (offset ~0.05) under dominant hash noise
    (~0.12 sd) — matching the real corpus's near-uniform regime (the
    x2u docstring's worst case), so recall/pruning behavior at 10x is
    representative, not cherry-picked."""
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), d -> CAST("
            " 0.05 * (pmod(xxhash64(pmod(id, 10) * 64 + d, 7), 2001) / 1000.0 - 1.0)"
            " + 0.12 * (pmod(xxhash64(id * 64 + d, 8), 2001) / 1000.0 - 1.0)"
            " AS FLOAT))"
        ).alias("embedding"),
        F.pmod("id", F.lit(10)).cast("int").alias("label"),
    ).write.mode("overwrite").parquet(path)


def gen_tpch(spark: SparkSession, n: int, path: str) -> None:
    """q1's star-schema table group, hash-deterministic and sized off
    the lineitem count n: orders n/4 (~4 lines/order), customer n/40,
    nation 25, region 5. Minimal q1 column sets; prices carry two
    decimals, order dates span 1992-1998 so the probe's 1996-1998
    window filters ~2/7 of the fact through the pushed predicate."""
    import os

    d = os.path.dirname(path)
    n_orders, n_cust = max(n // 4, 1), max(n // 40, 1)
    spark.range(n).select(
        F.pmod(F.xxhash64("id", F.lit(11)), F.lit(n_orders)).alias("l_orderkey"),
        ((F.pmod(F.xxhash64("id", F.lit(12)), F.lit(9_500_000)) + 90_000)
         / 100.0).alias("l_extendedprice"),
        (F.pmod(F.xxhash64("id", F.lit(13)), F.lit(11)) / 100.0).alias(
            "l_discount"
        ),
        # r15.2: the join-shaped scale probes need these
        (F.pmod(F.xxhash64("id", F.lit(17)), F.lit(7)) + 1)
        .cast("int")
        .alias("l_linenumber"),
        # o14's rolling-distinct inputs: ~100 shipments/supplier,
        # part domain n/5, ship dates spanning the order window
        F.pmod(F.xxhash64("id", F.lit(21)), F.lit(max(n // 100, 1))).alias(
            "l_suppkey"
        ),
        F.pmod(F.xxhash64("id", F.lit(22)), F.lit(max(n // 5, 1))).alias(
            "l_partkey"
        ),
        F.expr(
            "timestamp'1992-01-01 00:00:00' + make_dt_interval("
            "CAST(pmod(xxhash64(id, 23), 2555) AS INT), 0, 0, 0)"
        ).alias("l_shipdate"),
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.range(n_orders).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(14)), F.lit(n_cust)).alias("o_custkey"),
        F.expr(
            "timestamp'1992-01-01 00:00:00' + make_dt_interval("
            "CAST(pmod(xxhash64(id, 15), 2555) AS INT), 0, 0, 0)"
        ).alias("o_orderdate"),
        F.expr(
            "element_at(array('O','F','P'), CAST(pmod(xxhash64(id, 16), 3) AS INT) + 1)"
        ).alias("o_orderstatus"),
        ((F.pmod(F.xxhash64("id", F.lit(18)), F.lit(45_000_000)) + 100_000)
         / 100.0).alias("o_totalprice"),
        F.expr(
            "element_at(array('1-URGENT','2-HIGH','3-MEDIUM',"
            "'4-NOT SPECIFIED','5-LOW'),"
            " CAST(pmod(xxhash64(id, 19), 5) AS INT) + 1)"
        ).alias("o_orderpriority"),
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        F.pmod("id", F.lit(25)).cast("long").alias("c_nationkey"),
        F.expr(
            "element_at(array('AUTOMOBILE','BUILDING','FURNITURE',"
            "'HOUSEHOLD','MACHINERY'),"
            " CAST(pmod(xxhash64(id, 20), 5) AS INT) + 1)"
        ).alias("c_mktsegment"),
        # r16: er5 (sorted-neighborhood) sorts by a reversed-name prefix
        # and compares balances — give the synthetic customers both.
        F.concat(
            F.lit("Customer#"), F.lpad(F.col("id").cast("string"), 9, "0")
        ).alias("c_name"),
        ((F.pmod(F.xxhash64("id", F.lit(21)), F.lit(1_100_000)) - 99_999)
         / 100.0).alias("c_acctbal"),
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    spark.range(25).select(
        F.col("id").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id").cast("string")).alias("n_name"),
        F.pmod("id", F.lit(5)).cast("long").alias("n_regionkey"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    spark.range(5).select(
        F.col("id").alias("r_regionkey"),
        F.concat(F.lit("REGION_"), F.col("id").cast("string")).alias("r_name"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/region.parquet")
    # marker so the runner's _SUCCESS existence check short-circuits
    spark.range(1).coalesce(1).write.mode("overwrite").parquet(path)


def shuffle_totals(app_id: str) -> tuple[int, int]:
    url = f"http://localhost:4040/api/v1/applications/{app_id}/stages?status=COMPLETE"
    with urllib.request.urlopen(url, timeout=10) as fh:
        stages = json.load(fh)
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleReadBytes", 0) for s in stages),
    )


def main() -> None:
    args = sys.argv[1:]
    only = {a for a in args if not a.isdigit()}
    scales = {int(a) for a in args if a.isdigit()}
    spark = (
        SparkSession.builder.appName("scale_smoke")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    # Isolate fixture builds: the probes' disk fixtures are keyed by
    # source fingerprint, and letting the scale runs share the bench
    # fixture root would prune the bench-keyed generations.
    caching._FIXTURE_ROOT = f"{ROOT}/fixtures"

    probes = all_probes()
    needed: dict[tuple[str, int], str] = {}
    for name, (table, ss) in MATRIX.items():
        if only and not any(name.startswith(o) for o in only):
            continue
        for s in ss:
            if scales and s not in scales:
                continue
            needed[(table, s)] = f"{ROOT}/sf{s}x"
    for (table, s), d in sorted(needed.items()):
        path = f"{d}/{table}.parquet"
        import os

        if os.path.exists(f"{path}/_SUCCESS"):
            continue
        t0 = time.time()
        gen = {"documents": gen_documents, "events": gen_events,
               "embeddings": gen_embeddings, "tpch": gen_tpch}[table]
        gen(spark, BASE[table] * s, path)
        print(f"gen   {table} x{s}: {time.time() - t0:.1f}s", flush=True)

    rows = []
    for name, (table, ss) in MATRIX.items():
        if only and not any(name.startswith(o) for o in only):
            continue
        base_wall = base_w = None
        for s in ss:
            if scales and s not in scales:
                continue
            sf_dir = f"{ROOT}/sf{s}x"
            if name in PREPARE:
                t0 = time.time()
                PREPARE[name](spark, sf_dir)
                print(f"prep  {name} x{s}: {time.time() - t0:.1f}s (untimed)",
                      flush=True)
            w0, r0 = shuffle_totals(app_id)
            t0 = time.time()
            fn = CUSTOM.get(name) or probes[name].fn
            df = fn(spark, sf_dir)
            # noop-sink evaluation (the bench.py r15.2 doctrine):
            # count() lets Catalyst skip cardinality-preserving work
            # AND short-circuits global aggregates (count of an
            # ungrouped agg is constant-1 — measured 3.1 s vs 13.0 s
            # real on x26's forced sum). The noop write consumes
            # every value.
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            # Shuffle totals BEFORE the report-column count: the count
            # is a second QueryExecution whose exchanges re-run, and
            # reading the REST totals after it polluted dw with up to
            # a full extra plan execution (review finding — the first
            # committed x26/bloom/salted/dq11/x35 rows carried it).
            w1, r1 = shuffle_totals(app_id)
            n_rows = df.count()  # untimed, for the report column
            dw = (w1 - w0) / 1e6
            if base_wall is None:
                base_wall, base_w = wall, max(dw, 1e-9)
                factor = ""
            else:
                factor = f"{wall / base_wall:.1f}x wall / {dw / base_w:.1f}x shuffle"
            rows.append(
                (name, s, BASE[table] * s,
                 wall, dw, (r1 - r0) / 1e6, n_rows, factor)
            )
            print(
                f"run   {name} x{s}: {wall:.1f}s wall, {dw:.1f} MB shuffle-write,"
                f" {n_rows} rows {('[' + factor + ']') if factor else ''}",
                flush=True,
            )

    print("\n| probe | scale | input rows | wall s | shuffle-write MB | shuffle-read MB | result rows | vs 1x |")
    print("|---|---|---|---|---|---|---|---|")
    for name, s, n_in, wall, dw, dr, n_rows, factor in rows:
        print(
            f"| {name} | {s}x | {n_in:,} | {wall:.1f} | {dw:.1f} | {dr:.1f} |"
            f" {n_rows} | {factor} |"
        )


if __name__ == "__main__":
    main()
