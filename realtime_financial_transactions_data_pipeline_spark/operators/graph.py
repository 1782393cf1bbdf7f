"""Graph analytics over behavioral co-engagement (north-star family
extension alongside x2i's connected components): build a user-user
graph from shared activity, then run the classic distributed triangle
count — the building block behind clustering-coefficient, community
and fraud-ring detection over interaction graphs.

Scale design (the whole point of the operator):

* **Edge building never self-joins the user table.** Users are grouped
  by their activity bucket (event_type × hour); per-pair shared-bucket
  counts then come from one of two strategies (auto-chosen by data
  size):

  - **broadcast-bitmap** (default under the guard): the per-user
    bucket-index set relation is metadata-sized (Σ memberships ints —
    the SMALL side, exactly like a broadcast-hash-join build side), so
    it broadcasts, and each bucket computes its members' pairwise
    intersection counts MAP-SIDE (0/1 matmul over the members' local
    column union — exact, counts ≪ 2²⁴) with leader election (a pair
    is emitted only by its minimum shared bucket). Sub-threshold pairs
    NEVER shuffle: measured at the 10× smoke, the old explode+groupBy
    shuffled 41 M co-occurring pairs to keep the 0.8 % that reach
    n_shared ≥ 3 (57-70× shuffle growth, VERDICT r13 weak #2); this
    path shuffles only the bucket lists (~linear).
  - **explode+groupBy shuffle** (fallback above the broadcast guard,
    or ``strategy="shuffle"``): the round-13 shape — generate in-bucket
    pairs (Σ size² bounded by the bucket cap) and count via one
    groupBy. Fully distributed, no driver-side state, the right shape
    when the membership relation itself outgrows a broadcast.

* **Triangle enumeration is degree-ordered.** Every edge is oriented
  from its lower-(degree, id) endpoint to the higher one, so wedges
  fan out from each node's OUT-neighbors only — out-degree is bounded
  by O(sqrt(|E|)) regardless of hub size (the Cohen / Suri-Vassilvitskii
  MapReduce construction). Wedges then semi-join the canonical edge
  set to close triangles. Without the orientation a hub of degree d
  contributes C(d, 2) wedges — the quadratic blow-up this algorithm
  exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
    dround,
)
from realtime_financial_transactions_data_pipeline_spark.registry import probe
from realtime_financial_transactions_data_pipeline_spark.tables import load_table

#: Minimum shared (event_type, hour) buckets for a co-engagement edge —
#: below this the sf0.01 graph is a near-clique hairball (7.8k edges,
#: 190k triangles) rather than structure.
_G1_MIN_SHARED = 3
#: Hot-bucket guard, same rationale as the LSH bucket cap: a bucket
#: with every user in it is a popularity pathology, not co-engagement.
_G1_BUCKET_CAP = 200

#: Broadcast guard for the bitmap strategy: total (user, bucket)
#: memberships above which the per-user bucket-set relation is no
#: longer a sane broadcast (8 M memberships ≈ 32 MB of int32 indices
#: + user ids — the same order as spark.sql.autoBroadcastJoinThreshold
#: territory). Above it, auto falls back to the shuffle strategy.
_BITMAP_MAX_MEMBERSHIPS = 8_000_000

#: In-bucket unordered-pair generator over a sorted id list (the
#: lsh_candidate_pairs idiom).
_PAIR_GEN = (
    "flatten(transform(ids, (a, i) -> "
    "transform(slice(ids, i + 2, size(ids)), b -> "
    "struct(a AS u, b AS v))))"
)


def _capped_buckets(events: DataFrame) -> DataFrame:
    """(event_type, h, ids): sorted distinct member lists of every
    capped activity bucket."""
    b = events.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    return (
        b.groupBy("event_type", "h")
        .agg(F.array_sort(F.collect_list("user_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _G1_BUCKET_CAP))
    )


def _pair_counts_shuffle(buckets: DataFrame, floor: int) -> DataFrame:
    """Explode every in-bucket pair and count via one groupBy — the
    fully-distributed fallback (Σ size² shuffle rows, bounded by the
    bucket cap)."""
    return (
        buckets.select(F.explode(F.expr(_PAIR_GEN)).alias("p"))
        .groupBy("p.u", "p.v")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= floor)
    )


def _bucket_pairs_np(bidx, ids, users, offs, flat, floor):
    """Qualifying pairs of ONE bucket for which this bucket is the
    leader (minimum shared bucket index). Exact: counts come from a
    0/1 float32 matmul over the members' local column union (sums ≤
    #buckets ≪ 2²⁴); leadership from a SECOND matmul restricted to
    columns < this bucket's index — zero earlier-common count ⟺ this
    bucket is the pair's minimum shared bucket (this bucket itself is
    always common by construction). Both are BLAS calls, so the
    leader check costs the same as the count even at floor=1."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    sz = len(ids)
    pos = np.searchsorted(users, ids)
    arrs = [flat[offs[p]: offs[p + 1]] for p in pos]
    cols = np.unique(np.concatenate(arrs))
    a = np.zeros((sz, len(cols)), dtype=np.float32)
    for i, arr in enumerate(arrs):
        a[i, np.searchsorted(cols, arr)] = 1.0
    g = a @ a.T
    iu, iv = np.triu_indices(sz, 1)
    n = g[iu, iv].astype(np.int64)
    m = n >= floor
    if not m.any():
        return None
    cut = np.searchsorted(cols, bidx)
    if cut:
        a_lt = a[:, :cut]
        m &= (a_lt @ a_lt.T)[iu, iv] == 0.0
        if not m.any():
            return None
    iu, iv, n = iu[m], iv[m], n[m]
    return ids[iu], ids[iv], n


def _pair_counts_broadcast(
    buckets: DataFrame, floor: int, key_cols: tuple = ("event_type", "h")
) -> DataFrame:
    """Map-side intersection counting with leader election (module
    docstring): broadcast the CSR-packed per-member bucket-index sets,
    then each capped bucket emits exactly the pairs whose minimum
    shared bucket it is, already filtered at ``floor`` — qualifying
    pairs are the ONLY pair rows that ever leave a task. Generic over
    the bucket key (``key_cols``): the co-engagement pass buckets by
    (event_type, hour); g3's common-neighbor counting reuses the same
    kernel with each node's adjacency list as the bucket."""
    import numpy as np
    from pyspark.sql import Window

    spark = buckets.sparkSession
    # Bucket index: dense 0-based id in key order. The window is a
    # single pass over a metadata-sized frame (one row per capped
    # bucket — hours × event types / graph nodes, not data volume).
    # The global row_number window collapses the frame to ONE
    # partition — fine for the metadata-sized index assignment, fatal
    # for the compute pass after it (the first cut ran the whole
    # intersection pass in a single Python worker: 45 s instead of
    # ~2 s at 10×). Re-spread by bidx before checkpointing so the
    # mapInPandas below gets the full task parallelism.
    bkt = (
        buckets.withColumn(
            "bidx",
            (F.row_number().over(Window.orderBy(*key_cols)) - 1).cast("int"),
        )
        .select("bidx", "ids")
        .repartition(spark.sparkContext.defaultParallelism, "bidx")
        .localCheckpoint(eager=True)
    )
    members = (
        bkt.select(F.explode("ids").alias("user_id"), "bidx")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("bidx")).alias("bs"))
        .collect()
    )
    if not members:
        return spark.createDataFrame([], "u long, v long, n_shared long")
    members.sort(key=lambda r: r.user_id)
    users = np.array([r.user_id for r in members], dtype=np.int64)
    lens = np.array([len(r.bs) for r in members], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    flat = np.concatenate(
        [np.asarray(r.bs, dtype=np.int32) for r in members]
    )
    bc = spark.sparkContext.broadcast((users, offs, flat))

    def gen(batches):
        import pandas as pd

        u_, o_, f_ = bc.value
        for pdf in batches:
            out_u, out_v, out_n = [], [], []
            for bidx, ids in zip(pdf["bidx"], pdf["ids"]):
                r = _bucket_pairs_np(bidx, ids, u_, o_, f_, floor)
                if r is not None:
                    out_u.append(r[0])
                    out_v.append(r[1])
                    out_n.append(r[2])
            if out_u:
                yield pd.DataFrame(
                    {
                        "u": np.concatenate(out_u),
                        "v": np.concatenate(out_v),
                        "n_shared": np.concatenate(out_n),
                    }
                )

    return bkt.mapInPandas(gen, "u long, v long, n_shared long")


def _pair_counts_auto(
    buckets: DataFrame,
    floor: int,
    key_cols: tuple = ("event_type", "h"),
    strategy: str = "auto",
) -> DataFrame:
    """Strategy dispatch shared by the co-engagement pass and g3's
    common-neighbor pass. ``auto``: one metadata-sized aggregate
    decides — total memberships is the broadcast build-side size (the
    same decision shape as Spark's own broadcast-join threshold); the
    frame is checkpointed first so the decision pass and the chosen
    strategy share one bucket materialization."""
    if strategy == "shuffle":
        return _pair_counts_shuffle(buckets, floor)
    if strategy == "broadcast":
        return _pair_counts_broadcast(buckets, floor, key_cols)
    if strategy != "auto":
        raise ValueError(f"unknown strategy {strategy!r}")
    buckets = buckets.localCheckpoint(eager=True)
    m = buckets.agg(F.sum(F.size("ids")).alias("m")).collect()[0].m or 0
    if m > _BITMAP_MAX_MEMBERSHIPS:
        return _pair_counts_shuffle(buckets, floor)
    return _pair_counts_broadcast(buckets, floor, key_cols)


def coengagement_pair_counts(
    events: DataFrame, floor: int = 1, strategy: str = "auto"
) -> DataFrame:
    """(u, v, n_shared) for every user pair sharing >= ``floor`` capped
    (event_type, hour) activity buckets, u < v by id — the one
    expensive reduction every graph-family threshold is a filter over.
    Strategy per the module docstring: ``auto`` picks broadcast-bitmap
    under the membership guard, else the explode+groupBy shuffle;
    ``broadcast`` / ``shuffle`` force a path. All produce the
    identical exact pair set."""
    return _pair_counts_auto(_capped_buckets(events), floor, strategy=strategy)


def coengagement_edges(
    events: DataFrame, min_shared: int = _G1_MIN_SHARED
) -> DataFrame:
    """Undirected edges (u < v by id) between users sharing at least
    ``min_shared`` distinct (event_type, hour) activity buckets."""
    return coengagement_pair_counts(events, floor=min_shared).select("u", "v")


def triangle_counts(edges: DataFrame, strategy: str = "auto") -> DataFrame:
    """Per-node triangle participation counts over undirected edges
    (u < v); each triangle increments all three of its nodes. Two
    strategies, same exact output (only nodes with ≥1 triangle):

    - ``broadcast`` (auto under the membership guard): the EDGE
      ITERATOR — broadcast the CSR-packed adjacency (2E ints, the same
      build side as the pair kernel) and compute each edge's
      |N(u) ∩ N(v)| map-side; a node's triangle count is half the sum
      over its incident edges. NOTHING wedge-shaped ever materializes
      or shuffles — the only exchange is the 2-rows-per-edge node
      rollup (measured at sf0.1: 8.7 s of wedge explode + closure SMJ
      → ~1.5 s).
    - ``shuffle`` (fallback above the guard): degree-ordered wedge
      enumeration (module docstring) closed against the canonical edge
      set — fully distributed, out-degree bounded O(sqrt E)."""
    # Checkpoint the (possibly memoized-pair-derived) edge plan ONCE so
    # the auto decision count and the chosen strategy share a single
    # materialization — the _pair_counts_auto pattern (r14 ADVICE: the
    # old shape computed the edge derivation twice per call).
    edges = edges.select("u", "v").localCheckpoint(eager=True)
    if strategy == "auto":
        # Edge count IS the membership size (2E adjacency ints).
        strategy = (
            "broadcast"
            if edges.count() * 2 <= _BITMAP_MAX_MEMBERSHIPS
            else "shuffle"
        )
    if strategy == "broadcast":
        return _triangle_counts_broadcast(edges)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    e = edges.join(du, "u").join(dv, "v")
    # Orient low (deg, id) -> high (deg, id); ties impossible on the
    # (deg, id) pair since ids differ.
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # Wedges from each src's out-neighborhood (out-degree bounded by
    # the orientation), closed against the canonical undirected edge.
    adj = oriented.groupBy("src").agg(F.array_sort(F.collect_list("dst")).alias("ids"))
    wedges = adj.select(
        F.col("src"), F.explode(F.expr(_PAIR_GEN)).alias("p")
    ).select(
        "src",
        F.least("p.u", "p.v").alias("u"),
        F.greatest("p.u", "p.v").alias("v"),
    )
    tri = wedges.join(edges, ["u", "v"], "inner")  # (src, u, v) is a triangle
    return (
        tri.select(F.explode(F.array("src", "u", "v")).alias("user_id"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _triangle_counts_broadcast(edges: DataFrame) -> DataFrame:
    """Edge-iterator triangle counting (triangle_counts docstring):
    per-edge sorted-adjacency intersection against a broadcast CSR;
    tri(x) = ½ Σ over x's incident edges of |N(u) ∩ N(v)| (a triangle
    at x has exactly two incident edges, so the sum double-counts)."""
    import numpy as np

    spark = edges.sparkSession
    e = edges.select("u", "v")  # caller (triangle_counts) checkpointed
    members = (
        _bidirected(e).groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("ns"))
        .collect()
    )
    if not members:
        return spark.createDataFrame([], "user_id long, n_triangles long")
    members.sort(key=lambda r: r.u)
    nodes = np.array([r.u for r in members], dtype=np.int64)
    lens = np.array([len(r.ns) for r in members], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    flat = np.concatenate([np.asarray(r.ns, dtype=np.int64) for r in members])
    bc = spark.sparkContext.broadcast((nodes, offs, flat))

    def gen(batches):
        import pandas as pd

        nd, of, fl = bc.value

        def neigh(x):
            i = np.searchsorted(nd, x)
            return fl[of[i]: of[i + 1]]

        for pdf in batches:
            common = np.fromiter(
                (
                    np.intersect1d(neigh(a), neigh(b), assume_unique=True).size
                    for a, b in zip(pdf["u"], pdf["v"])
                ),
                dtype=np.int64,
                count=len(pdf),
            )
            yield pd.DataFrame(
                {"u": pdf["u"], "v": pdf["v"], "common": common}
            )

    per_edge = e.mapInPandas(gen, "u long, v long, common long").filter(
        F.col("common") > 0
    )
    return (
        per_edge.select(
            F.explode(F.array("u", "v")).alias("user_id"), "common"
        )
        .groupBy("user_id")
        .agg((F.sum("common") / 2).cast("long").alias("n_triangles"))
    )


def _memo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized co-engagement pair-count pass (the _corpus_grams
    pattern): every graph-family probe (g1..g7) derives its edge set
    by FILTERING this one frame at its own min_shared, so the
    intersection-count pass runs once per session. Floor is the
    family's lowest threshold (_G1_MIN_SHARED) — pairs below it are
    never consumed, so they are pruned at the source (VERDICT r13
    weak #2: the unfloored frame carried 99.2 % dead pairs through
    the shuffle at the 10× smoke)."""
    from realtime_financial_transactions_data_pipeline_spark.caching import memo_persist

    return memo_persist(
        spark,
        ("g_pairs", sf_dir, _G1_BUCKET_CAP, _G1_MIN_SHARED),
        lambda: coengagement_pair_counts(
            load_table(spark, sf_dir, "events"), floor=_G1_MIN_SHARED
        ),
    )


def _memo_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g1..g4's edge set: the memoized pair counts at the default
    min_shared threshold."""
    return (
        _memo_pairs(spark, sf_dir)
        .filter(F.col("n_shared") >= _G1_MIN_SHARED)
        .select("u", "v")
    )


def _coeng_edges_cte(min_shared: int, weighted: bool = False) -> str:
    """DuckDB CTEs ``b``, ``sized``, ``bb``, ``e``: the oracle twin of
    :func:`_memo_pairs` filtered at ``min_shared`` — ``e(u, v)`` with
    u < v, plus ``w`` = shared-bucket count when ``weighted``. Callers
    open their own ``WITH`` / ``WITH RECURSIVE`` and append their own
    CTEs (the ``dedup._PORTABLE_SIMHASH_PAIRS_CTE`` pattern)."""
    w = ", count(*) AS w" if weighted else ""
    return f"""b AS (SELECT DISTINCT user_id, event_type,
                      date_trunc('hour', ts) AS h FROM events),
    sized AS (SELECT event_type, h, count(*) AS sz FROM b GROUP BY 1, 2),
    bb AS (SELECT b.* FROM b JOIN sized USING (event_type, h)
           WHERE sz BETWEEN 2 AND {_G1_BUCKET_CAP}),
    e AS (SELECT a.user_id AS u, c.user_id AS v{w}
          FROM bb a JOIN bb c ON a.event_type = c.event_type AND a.h = c.h
                             AND a.user_id < c.user_id
          GROUP BY 1, 2 HAVING count(*) >= {min_shared})"""


def _bidirected(edges: DataFrame, *extra: str) -> DataFrame:
    """Both orientations of an undirected (u < v) edge list: (u, v,
    *extra) ∪ (v, u, *extra) — the adjacency view every per-node
    aggregate of the family reads."""
    return edges.select("u", "v", *extra).unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), *extra)
    )


def _memo_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized triangle pass over the default edge set (the
    _memo_pairs pattern), shared by g1 and g1b. Root cause of the r14
    g1b drift (1.05 → 1.58 s, bisected r15): the r13 wedge path
    effectively shared its shuffle stages through the persisted pair
    memo, but the r14 edge-iterator kernel re-collects and re-broadcasts
    the CSR adjacency per CALL — so the second consumer must share via
    an explicit memo, not plan reuse. Node-sized output; keyed like
    _memo_pairs so a cap/floor change invalidates it."""
    from realtime_financial_transactions_data_pipeline_spark.caching import memo_persist

    return memo_persist(
        spark,
        ("g_triangles", sf_dir, _G1_BUCKET_CAP, _G1_MIN_SHARED),
        lambda: triangle_counts(_memo_edges(spark, sf_dir)),
    )


@probe(
    "g1_triangle_count",
    oracle=f"""
    WITH {_coeng_edges_cte(_G1_MIN_SHARED)},
    tri AS (SELECT e1.u AS a, e1.v AS b2, e2.v AS c
            FROM e e1
            JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
    SELECT node AS user_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b2 FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY node
    """,
)
def g1_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — per-user triangle participation in the co-engagement graph
    (users sharing >=_G1_MIN_SHARED distinct activity buckets). The
    oracle enumerates triangles by id-ordered brute force (each
    triangle a<b<c appears exactly once as (a,b)+(a,c)+(b,c)); the
    Spark side enumerates by DEGREE-ordered wedges — different pivot,
    provably the same triangle set, so the hash certifies the
    orientation machinery end-to-end. See module docstring for why the
    orientation is the 100 TB-scale point."""
    return _memo_triangles(spark, sf_dir)


# ---------------------------------------------------------------------------
# G2 — PageRank over the same co-engagement graph: the canonical
# iterative fixed-point computation. Fixed iteration count (3) keeps
# it deterministic and lets the oracle UNROLL the recursion in plain
# SQL; the static sides are checkpointed once and the rounds unroll
# into one constant-depth plan (:func:`pagerank`). One PageRank serves
# g2 (w = 1) and g6 (w = shared-bucket count). No dangling-node mass
# term: every node here has degree >= 1 by construction (nodes ARE
# edge endpoints).
# ---------------------------------------------------------------------------

_G2_DAMPING = 0.85
_G2_ITERS = 3


def pagerank(edges: DataFrame, iters: int = _G2_ITERS, d: float = _G2_DAMPING) -> DataFrame:
    """PageRank over undirected weighted edges (u < v, weight w > 0),
    uniform init: node u sends p(u) * w(u,v) / W(u) along each edge,
    W(u) = total incident weight. Returns (user_id, rank). Unweighted
    PageRank is the w = 1 case — p * 1 / Σ1 is p / outdeg exactly in
    IEEE arithmetic. The rank vector is |nodes|-sized state; the edge
    relation is the only big operand and it never changes — at cluster
    scale pre-partition both sides on the node key once and every
    iteration's join reuses that partitioning."""
    bi = _bidirected(edges, "w")
    # One row per node, carrying W(u): the rank frame holds it, so the
    # edge side every round shuffles stays (u, v, w).
    nodes = (
        bi.groupBy("u").agg(F.sum("w").alias("wd")).localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # No user pair shares >= min_shared buckets (possible at tiny
        # SFs) — return an empty (user_id, rank) frame instead of
        # dividing by zero on the uniform init.
        return nodes.select(
            F.col("u").alias("user_id"), F.lit(0.0).alias("rank")
        )
    # r17 optimization (guide §2.4/§1.2): the FIXED small iteration
    # count needs no per-round materialization — only the two STATIC
    # relations reused by every round (nodes, adj) are checkpointed;
    # the rounds themselves unroll into ONE lazy plan, so the whole
    # fixed point is a single job instead of `iters` blocking
    # checkpoint jobs (each a full scheduling round trip). Plan depth
    # is 3 join+agg levels — constant and tiny, nowhere near the
    # geometric-plan-growth regime that forces per-round truncation in
    # the CONVERGENCE-checked loops (connected_components docstring);
    # those must still materialize per round to run their stop test.
    p = nodes.select("u", "wd", F.lit(1.0 / n).alias("p"))
    adj = bi.localCheckpoint(eager=True)  # (u, v, w) — static
    for _ in range(iters):
        contribs = (
            adj.join(p, "u")
            .groupBy("v")
            .agg(F.sum(F.col("p") * F.col("w") / F.col("wd")).alias("c"))
            .withColumnRenamed("v", "_cv")
        )
        p = (
            nodes.join(contribs, F.col("u") == F.col("_cv"), "left")
            .select(
                "u",
                "wd",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("p"),
            )
        )
    return p.select(F.col("u").alias("user_id"), F.col("p").alias("rank"))


@probe(
    "g2_pagerank",
    oracle=f"""
    WITH {_coeng_edges_cte(_G1_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    outd AS (SELECT u, count(*) AS od FROM bi GROUP BY u),
    nodes AS (SELECT DISTINCT u FROM bi),
    nn AS (SELECT count(*) AS c FROM nodes),
    p0 AS (SELECT u, 1.0 / c AS p FROM nodes, nn),
    p1 AS (SELECT nodes.u,
                  (1 - {_G2_DAMPING}) / nn.c + {_G2_DAMPING} * coalesce(
                    (SELECT sum(p0.p / outd.od) FROM bi
                     JOIN p0 ON p0.u = bi.u JOIN outd ON outd.u = bi.u
                     WHERE bi.v = nodes.u), 0) AS p
           FROM nodes, nn),
    p2 AS (SELECT nodes.u,
                  (1 - {_G2_DAMPING}) / nn.c + {_G2_DAMPING} * coalesce(
                    (SELECT sum(p1.p / outd.od) FROM bi
                     JOIN p1 ON p1.u = bi.u JOIN outd ON outd.u = bi.u
                     WHERE bi.v = nodes.u), 0) AS p
           FROM nodes, nn),
    p3 AS (SELECT nodes.u,
                  (1 - {_G2_DAMPING}) / nn.c + {_G2_DAMPING} * coalesce(
                    (SELECT sum(p2.p / outd.od) FROM bi
                     JOIN p2 ON p2.u = bi.u JOIN outd ON outd.u = bi.u
                     WHERE bi.v = nodes.u), 0) AS p
           FROM nodes, nn)
    SELECT u AS user_id, round(p * 1000000) / 1000000 AS rank FROM p3
    """,
)
def g2_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — {_G2_ITERS} PageRank iterations (d = {_G2_DAMPING}) over the
    co-engagement graph, uniform init. The oracle unrolls the identical
    recursion as three correlated-sum CTEs (DuckDB decorrelates them),
    so the hash certifies the contribution join, the damping
    arithmetic, and the isolated-neighbor coalesce across all rounds.
    Every edge weighs 1, so each node splits its rank by out-degree."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    edges = _memo_edges(spark, sf_dir)
    pr = pagerank(edges.select("u", "v", F.lit(1).cast("long").alias("w")))
    return pr.select("user_id", dround("rank", 6).alias("rank"))


@probe(
    "g1b_clustering_coefficient",
    oracle=f"""
    WITH {_coeng_edges_cte(_G1_MIN_SHARED)},
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
            (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node),
    tri AS (SELECT e1.u AS a, e1.v AS b2, e2.v AS c
            FROM e e1
            JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
           FROM (SELECT a AS node FROM tri
                 UNION ALL SELECT b2 FROM tri
                 UNION ALL SELECT c FROM tri)
           GROUP BY node)
    SELECT deg.node AS user_id, deg.deg,
           coalesce(tc.n_triangles, 0) AS n_triangles,
           CASE WHEN deg.deg >= 2
                THEN round(2.0 * coalesce(tc.n_triangles, 0)
                           / (deg.deg * (deg.deg - 1)) * 1000000) / 1000000
                ELSE 0.0 END AS clustering_coeff
    FROM deg LEFT JOIN tc ON tc.node = deg.node
    """,
)
def g1b_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1b — local clustering coefficient per user: 2·triangles /
    (deg·(deg−1)), the closed-neighborhood density behind community
    cohesion and bot/fraud anomaly scoring. Composes the memoized edge
    pass with g1's degree-ordered triangle counts; nodes with no
    triangles (or degree 1) report 0.0 rather than vanishing. Same
    plan economics as g1 — the coefficient itself is arithmetic on two
    node-sized aggregates."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    edges = _memo_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("user_id"))
        .unionAll(edges.select(F.col("v").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tc = _memo_triangles(spark, sf_dir)
    coeff = F.when(
        F.col("deg") >= 2,
        dround(
            2.0 * F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
            / (F.col("deg") * (F.col("deg") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tc, "user_id", "left")
        .select(
            "user_id",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            coeff.alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# G3 — link prediction by common-neighbor / Jaccard scoring: the other
# classic batch graph workload next to triangles (g1) and PageRank
# (g2). Candidates are non-adjacent pairs at distance 2 — generated
# from each center's sorted adjacency list (the same in-bucket pair
# idiom as edge building, Σ C(deg, 2) bounded by a hub cap: a center
# adjacent to everything predicts everything, which is popularity,
# not affinity — the same rationale as _G1_BUCKET_CAP). Jaccard uses
# the FULL degrees (only pair GENERATION is capped). One shuffle for
# wedges, one for the per-pair count, an anti-join against the edge
# set, then a global top-N (tiny by construction).
# ---------------------------------------------------------------------------

_G3_HUB_CAP = 200
_G3_TOPN = 20


def link_predictions(
    edges: DataFrame, topn: int = _G3_TOPN, hub_cap: int = _G3_HUB_CAP
) -> DataFrame:
    """Top-``topn`` non-edges ranked by Jaccard affinity (ties: common
    neighbors desc, then u, v). Returns (u, v, common_neighbors,
    jaccard, rank)."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )
    from pyspark.sql import Window

    bi = _bidirected(edges)
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # Common-neighbor counting is the SAME problem as co-engagement
    # pair counting with each (hub-capped) node's adjacency list as
    # the bucket: |N(x) ∩ N(y)| = number of centers adjacent to both.
    # Route it through the shared kernel — under the broadcast guard
    # the Σ C(deg, 2) wedge relation never shuffles (it is enumerated
    # and counted map-side); above it, the explode+groupBy fallback is
    # exactly the old wedge shape.
    adj = (
        bi.join(deg, "u")
        .filter(F.col("d") <= hub_cap)
        .groupBy(F.col("u").alias("center"))
        .agg(F.array_sort(F.collect_list("v")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cn = _pair_counts_auto(adj, floor=1, key_cols=("center",)).select(
        "u", "v", F.col("n_shared").alias("common_neighbors")
    )
    non_edges = cn.join(edges, ["u", "v"], "left_anti")
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    scored = (
        non_edges.join(du, "u")
        .join(dv, "v")
        .withColumn(
            "jaccard",
            F.col("common_neighbors").cast("double")
            / (F.col("du") + F.col("dv") - F.col("common_neighbors")),
        )
    )
    # Global top-N via orderBy().limit() — TakeOrderedAndProject keeps
    # per-partition heaps and merges topn rows on the driver, so the
    # full candidate set never funnels through one partition (a global
    # row_number window would — the classic single-partition cliff).
    # The rank window then runs over only the topn survivors.
    order = [F.desc("jaccard"), F.desc("common_neighbors"), F.asc("u"), F.asc("v")]
    top = scored.orderBy(*order).limit(topn)
    w = Window.partitionBy().orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "u",
            "v",
            "common_neighbors",
            dround("jaccard", 4).alias("jaccard"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@probe(
    "g3_link_prediction",
    oracle=f"""
    WITH {_coeng_edges_cte(_G1_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, count(*) AS d FROM bi GROUP BY u),
    w AS (SELECT b1.v AS u, b2.v AS v
          FROM bi b1 JOIN bi b2 ON b1.u = b2.u AND b1.v < b2.v
          JOIN deg ON deg.u = b1.u AND deg.d <= {_G3_HUB_CAP}),
    cn AS (SELECT u, v, count(*) AS common_neighbors FROM w GROUP BY 1, 2),
    ne AS (SELECT cn.* FROM cn LEFT JOIN e ON e.u = cn.u AND e.v = cn.v
           WHERE e.u IS NULL),
    sc AS (SELECT ne.u, ne.v, ne.common_neighbors,
                  CAST(ne.common_neighbors AS DOUBLE)
                    / (du.d + dv.d - ne.common_neighbors) AS jaccard
           FROM ne JOIN deg du ON du.u = ne.u JOIN deg dv ON dv.u = ne.v),
    ranked AS (SELECT u, v, common_neighbors, jaccard,
                      row_number() OVER (ORDER BY jaccard DESC,
                        common_neighbors DESC, u, v) AS rank
               FROM sc)
    SELECT u, v, CAST(common_neighbors AS BIGINT) AS common_neighbors,
           round(jaccard, 4) AS jaccard, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_G3_TOPN}
    """,
)
def g3_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — top-20 predicted links over the co-engagement graph (block
    comment above). Reuses the memoized edge pass shared with g1/g2;
    the oracle replays pair generation, the hub cap, the anti-join,
    Jaccard, and the deterministic global ranking."""
    return link_predictions(_memo_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# G4 — BFS hop-distance histogram from a deterministic source node: the
# reachability diagnostic behind "how many hops away is the rest of the
# graph" questions (fraud-ring blast radius, notification fan-out). The
# classic iterative-frontier construction: each round joins the current
# frontier against the static bidirectional edge relation, anti-joins
# already-visited nodes, and checkpoints the (small) frontier — the
# edge relation is the only big operand and, like g2's, it never
# changes, so at cluster scale both sides are pre-partitioned on the
# node key once and every round reuses that partitioning. The visited
# set grows monotonically but is |nodes|-bounded state, never
# collected; the one driver-side action per round is the scalar
# empty-frontier check that terminates early.
# ---------------------------------------------------------------------------

_G4_MAX_HOPS = 4


def bfs_hops(edges: DataFrame, max_hops: int = _G4_MAX_HOPS) -> DataFrame:
    """Minimum hop distance from the lowest-id node over undirected
    edges (u < v), bounded at ``max_hops``. Returns (u, hop); BFS
    order guarantees first discovery IS the minimum distance."""
    spark = edges.sparkSession
    bi = _bidirected(edges).localCheckpoint(eager=True)
    src = bi.agg(F.min("u").alias("s")).collect()[0]["s"]
    if src is None:  # empty graph at tiny SFs — no rows, stable schema
        return spark.createDataFrame([], "u long, hop int")
    visited = spark.createDataFrame([(src, 0)], "u long, hop int").localCheckpoint(
        eager=True
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(bi, "u")
            .select(F.col("v").alias("u"))
            .distinct()
            .join(visited, "u", "left_anti")
            .select("u", F.lit(h).cast("int").alias("hop"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


@probe(
    "g4_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_coeng_edges_cte(_G1_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    src AS (SELECT min(u) AS s FROM bi),
    r AS (SELECT s AS v, 0 AS d FROM src WHERE s IS NOT NULL
          UNION
          SELECT bi.v, r.d + 1 FROM r JOIN bi ON bi.u = r.v
          WHERE r.d < {_G4_MAX_HOPS}),
    dist AS (SELECT v, min(d) AS hop FROM r GROUP BY v)
    SELECT CAST(hop AS INTEGER) AS hop,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM dist GROUP BY hop
    """,
)
def g4_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — node count at each BFS hop distance (0..{_G4_MAX_HOPS})
    from the lowest-id node of the co-engagement graph (block comment
    above). The oracle replays the whole frontier recursion as a
    bounded recursive CTE whose UNION dedups (v, d) pairs, then takes
    min(d) per node — exactly the first-discovery distance the
    frontier/anti-join loop produces. Reuses the memoized edge pass
    shared with g1/g2/g3."""
    d = bfs_hops(_memo_edges(spark, sf_dir))
    return d.groupBy("hop").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# G5 — connected components over the co-engagement graph: the community
# / fraud-ring boundary question ("which users form one interaction
# island?"). Uses the engine's one CC, min-label propagation
# (operators/dedup.connected_components — the x2i machinery: per-round
# eager localCheckpoint for constant-size plans, metadata-only
# convergence check, O(diameter) rounds, distributed labels); g8 reads
# the same components. At the DEFAULT edge threshold this corpus is
# one dense hairball, so g5 raises min_shared to the community regime
# (>= _G5_MIN_SHARED shared buckets) where real component structure
# exists — the same pair-count frame, one filter different. Output is
# per-component (component = min user_id, size): |components| rows,
# never the node list.
# ---------------------------------------------------------------------------

_G5_MIN_SHARED = 6


@probe(
    "g5_connected_components",
    oracle=f"""
    WITH RECURSIVE {_coeng_edges_cte(_G5_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    r AS (SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM bi)
          UNION
          SELECT bi.v AS node, r.lbl FROM r JOIN bi ON bi.u = r.node
          WHERE r.lbl < bi.v),
    comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY node)
    SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
    FROM comp GROUP BY component
    """,
)
def g5_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — component id (min reachable user_id) and size for every
    connected component of the community-regime co-engagement graph
    (block comment above). The oracle replays the label propagation as
    a recursive min-label closure: seed (u, u), propagate a label
    across an edge only while it is smaller than the target node (the
    component minimum is never blocked), take min per node — exactly
    the fixed point the iterative Spark loop converges to. Reuses the
    memoized pair-count pass shared with g1..g4."""
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = (
        _memo_pairs(spark, sf_dir)
        .filter(F.col("n_shared") >= _G5_MIN_SHARED)
        .select("u", "v")
    )
    comp = connected_components(edges, a_col="u", b_col="v")
    return comp.groupBy(F.col("canonical_id").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# G6 — WEIGHTED PageRank: g2's :func:`pagerank` with the shared-bucket
# count as edge weight, the form actually used on interaction graphs
# where tie strength matters (a pair sharing 20 activity buckets should
# pull more rank than a pair sharing 3). Same plan, same scale posture.
# ---------------------------------------------------------------------------


@probe(
    "g6_weighted_pagerank",
    oracle=f"""
    WITH {_coeng_edges_cte(_G1_MIN_SHARED, weighted=True)},
    bi AS (SELECT u, v, w FROM e UNION ALL SELECT v, u, w FROM e),
    wd AS (SELECT u, sum(w) AS wd FROM bi GROUP BY u),
    nodes AS (SELECT DISTINCT u FROM bi),
    nn AS (SELECT count(*) AS c FROM nodes),
    p0 AS (SELECT u, 1.0 / c AS p FROM nodes, nn),
    p1 AS (SELECT nodes.u,
                  (1 - {_G2_DAMPING}) / nn.c + {_G2_DAMPING} * coalesce(
                    (SELECT sum(p0.p * bi.w / wd.wd) FROM bi
                     JOIN p0 ON p0.u = bi.u JOIN wd ON wd.u = bi.u
                     WHERE bi.v = nodes.u), 0) AS p
           FROM nodes, nn),
    p2 AS (SELECT nodes.u,
                  (1 - {_G2_DAMPING}) / nn.c + {_G2_DAMPING} * coalesce(
                    (SELECT sum(p1.p * bi.w / wd.wd) FROM bi
                     JOIN p1 ON p1.u = bi.u JOIN wd ON wd.u = bi.u
                     WHERE bi.v = nodes.u), 0) AS p
           FROM nodes, nn),
    p3 AS (SELECT nodes.u,
                  (1 - {_G2_DAMPING}) / nn.c + {_G2_DAMPING} * coalesce(
                    (SELECT sum(p2.p * bi.w / wd.wd) FROM bi
                     JOIN p2 ON p2.u = bi.u JOIN wd ON wd.u = bi.u
                     WHERE bi.v = nodes.u), 0) AS p
           FROM nodes, nn)
    SELECT u AS user_id, round(p * 1000000) / 1000000 AS rank FROM p3
    """,
)
def g6_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — weighted PageRank over the co-engagement graph with
    shared-bucket counts as tie strength (block comment above). Same
    unrolled-recursion oracle discipline as g2; reuses the memoized
    pair-count pass, taking n_shared as the edge weight."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    wedges = (
        _memo_pairs(spark, sf_dir)
        .filter(F.col("n_shared") >= _G1_MIN_SHARED)
        .select("u", "v", F.col("n_shared").alias("w"))
    )
    p = pagerank(wedges)
    return p.select("user_id", dround("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# G7 — graph summary card: node/edge counts, degree extremes, mean
# degree, and Pearson degree assortativity (Newman's r — do high-degree
# users co-engage with other high-degree users?). Every statistic is a
# sum over the edge list with endpoint degrees joined in; the moment
# sums (Σ ju·jv, Σ(ju+jv)/2, Σ(ju²+jv²)/2) are INTEGER-valued, so both
# engines compute them exactly and the final r is one identical
# double expression — no accumulation-order sensitivity anywhere.
# ---------------------------------------------------------------------------


@probe(
    "g7_graph_summary",
    oracle=f"""
    WITH {_coeng_edges_cte(_G1_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM bi GROUP BY u),
    ed AS (SELECT du.d AS ju, dv.d AS jv
           FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    s AS (SELECT count(*) AS m,
                 sum(ju * jv) AS s1,
                 sum(ju + jv) AS s2x2,
                 sum(ju * ju + jv * jv) AS s3x2
          FROM ed),
    n AS (SELECT count(*) AS n_nodes, min(d) AS dmin, max(d) AS dmax,
                 sum(d) AS dsum
          FROM deg)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(m AS BIGINT) AS n_edges,
           CAST(dmin AS BIGINT) AS min_degree,
           CAST(dmax AS BIGINT) AS max_degree,
           round(dsum / CAST(n_nodes AS DOUBLE), 4) AS avg_degree,
           CASE WHEN s3x2 / (2.0 * m)
                     - (s2x2 / (2.0 * m)) * (s2x2 / (2.0 * m)) = 0
                THEN NULL
                ELSE round((s1 / CAST(m AS DOUBLE)
                            - (s2x2 / (2.0 * m)) * (s2x2 / (2.0 * m)))
                           / (s3x2 / (2.0 * m)
                              - (s2x2 / (2.0 * m)) * (s2x2 / (2.0 * m))), 4)
           END AS assortativity
    FROM s, n
    """,
)
def g7_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — one-row co-engagement graph card (block comment above).
    Newman's degree assortativity from exact integer moment sums over
    the edge list; reuses the memoized pair-count pass shared by the
    whole graph family."""
    return graph_summary(_memo_edges(spark, sf_dir))


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row summary card for an undirected (u < v) edge list:
    node/edge counts, degree extremes, mean degree, Newman degree
    assortativity from exact integer moment sums."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    deg = (
        _bidirected(edges)
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        edges.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("ju")), "u"
        ).join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("jv")), "v"
        )
    )
    s = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("ju") * F.col("jv")).alias("s1"),
        F.sum(F.col("ju") + F.col("jv")).alias("s2x2"),
        F.sum(F.col("ju") * F.col("ju") + F.col("jv") * F.col("jv")).alias(
            "s3x2"
        ),
    )
    n = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.sum("d").alias("dsum"),
    )
    mu = F.col("s2x2") / (2.0 * F.col("m"))
    return (
        s.crossJoin(F.broadcast(n))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("m").cast("long").alias("n_edges"),
            F.col("dmin").cast("long").alias("min_degree"),
            F.col("dmax").cast("long").alias("max_degree"),
            dround(F.col("dsum") / F.col("n_nodes").cast("double"), 4).alias(
                "avg_degree"
            ),
            F.when(
                F.col("s3x2") / (2.0 * F.col("m")) - mu * mu != 0,
                dround(
                    (F.col("s1") / F.col("m").cast("double") - mu * mu)
                    / (F.col("s3x2") / (2.0 * F.col("m")) - mu * mu),
                    4,
                ),
            ).alias("assortativity"),
        )
    )


def _cc_loop_width(n_rows: int) -> int:
    """Shuffle width for one round of an iterated edge-list loop,
    derived from the MATERIALIZED row count (VERDICT r17 #3): ~100k
    edge rows per task, floor 4 so probe-scale graphs keep the narrow
    loop the old session-global conf pin provided, no ceiling — at
    corpus scale the width follows the data instead of a constant
    tuned to either local mode or one cluster size."""
    return max(4, n_rows // 100_000 + 1)


# ---------------------------------------------------------------------------
# G8 — per-component membership extremes over g5's community-regime
# components: size, minimum node (the component id) AND maximum node.
# Same shared CC as g5 (operators/dedup.connected_components), one more
# aggregate column; the recursive-closure oracle pins both extremes, so
# the hash certifies every component's exact boundary ids, not only its
# size. The probe name is a stable registry key, not the algorithm.
# ---------------------------------------------------------------------------


@probe(
    "g8_star_components",
    oracle=f"""
    WITH RECURSIVE {_coeng_edges_cte(_G5_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    r AS (SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM bi)
          UNION
          SELECT bi.v AS node, r.lbl FROM r JOIN bi ON bi.u = r.node
          WHERE r.lbl < bi.v),
    comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY node)
    SELECT component, CAST(count(*) AS BIGINT) AS n_nodes,
           max(node) AS max_node
    FROM comp GROUP BY component
    """,
)
def g8_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — size, minimum and maximum node id of every community-regime
    component (block comment above), from the same min-label
    propagation as g5. Reuses the memoized pair-count pass shared by
    the whole graph family."""
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = (
        _memo_pairs(spark, sf_dir)
        .filter(F.col("n_shared") >= _G5_MIN_SHARED)
        .select("u", "v")
    )
    comp = connected_components(edges, a_col="u", b_col="v")
    return comp.groupBy(F.col("canonical_id").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("doc_id").alias("max_node"),
    )


# ---------------------------------------------------------------------------
# g9 — degree assortativity + average-neighbor-degree curve: the
# standard "do hubs attach to hubs?" structure panel (Newman's
# assortativity coefficient, the knn(k) curve). Every moment the
# Pearson formula needs is an EXACT bigint sum over the symmetrized
# edge list (degrees are small ints, so Σd, Σd², Σdu·dv and their
# M-scaled products all sit far inside int64) — only the two final
# ratios are floating, so the probe is bit-deterministic with no
# ordered-fold machinery. Cost: the family's memoized pair pass, one
# node-sized degree aggregate, two degree joins (node-bounded sides —
# AQE broadcasts them at any realistic scale), one global agg + one
# per-degree agg. Nothing is pair-of-pairs; at 100 TB the edge list is
# the largest relation touched.
# ---------------------------------------------------------------------------


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Per-degree panel over an undirected edge list (u < v, distinct):
    for each degree class k — node count, endpoint count, average
    neighbor degree — plus the global assortativity coefficient
    r = (M·Σxy − Σx·Σy) / (M·Σx² − Σx·Σy) on the symmetrized list
    (x = du, y = dv; symmetric, so Σy = Σx and Σy² = Σx²)."""
    bi = _bidirected(edges)
    deg = bi.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    j = (
        bi.join(deg, "u")
        .withColumnRenamed("d", "du")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
    )
    g = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("du").alias("sx"),
        F.sum(F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") * F.col("du")).alias("sx2"),
    ).select(
        dround(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx"))
            / (F.col("m") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("assortativity")
    )
    knn = j.groupBy(F.col("du").alias("degree")).agg(
        F.countDistinct("u").alias("n_nodes"),
        F.count(F.lit(1)).alias("n_endpoints"),
        F.sum("dv").alias("sdv"),
    )
    return knn.select(
        "degree",
        "n_nodes",
        "n_endpoints",
        dround(F.col("sdv") / F.col("n_endpoints").cast("double"), 6).alias(
            "avg_neighbor_degree"
        ),
    ).crossJoin(F.broadcast(g))


@probe(
    "g9_degree_assortativity",
    oracle=f"""
    WITH {_coeng_edges_cte(_G1_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM bi GROUP BY u),
    j AS (SELECT bi.u, bi.v, du.d AS du, dv.d AS dv
          FROM bi JOIN deg du ON du.u = bi.u JOIN deg dv ON dv.u = bi.v),
    g AS (SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(du) AS BIGINT) AS sx,
                 CAST(sum(du * dv) AS BIGINT) AS sxy,
                 CAST(sum(du * du) AS BIGINT) AS sx2 FROM j),
    r AS (SELECT round((m * sxy - sx * sx)
                       / CAST(m * sx2 - sx * sx AS DOUBLE), 6)
                   AS assortativity FROM g)
    SELECT du AS degree,
           CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_endpoints,
           round(sum(dv) / CAST(count(*) AS DOUBLE), 6)
             AS avg_neighbor_degree,
           assortativity
    FROM j CROSS JOIN r
    GROUP BY du, assortativity
    """,
)
def g9_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g9 — assortativity panel over the family's co-engagement graph
    (block comment above): per degree class, the node count, endpoint
    count, and average neighbor degree (the knn(k) curve — falling
    means hubs attach to leaves), with the global Newman coefficient
    repeated as a certifying column. The oracle replays the exact
    integer moments, so the hash pins the symmetrization, both degree
    joins, and every sum."""
    return degree_assortativity(_memo_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# G10 — k-core decomposition (iterative peel): the densest-region
# extractor behind community mining and spam/bot-ring detection — keep
# the maximal subgraph where every node has degree >= k, computed by
# repeatedly deleting under-degree nodes until fixpoint. The deletion
# fixpoint is the one graph primitive the family lacked: g5's label
# propagation ADDS information monotonically (recursive-CTE-friendly);
# peeling REMOVES it, so the oracle unrolls a fixed round budget
# (_G10_ROUNDS, > the measured convergence depth at sf0.01 — extra
# rounds are no-ops once converged) while the Spark side iterates to
# the actual fixpoint with the family's constant-plan discipline:
# per-round localCheckpoint, metadata-only convergence check (edge
# count is monotone non-increasing, so equality = fixpoint). Rounds
# needed = peel depth, bounded by graph degeneracy — single digits on
# real social/interaction graphs at any scale.
# ---------------------------------------------------------------------------

_G10_MIN_SHARED = 4  # the community regime with real core structure
_G10_KS = (2, 3)
_G10_ROUNDS = 6  # oracle unroll budget; measured convergence depth 2


def kcore_edges(edges: DataFrame, k: int) -> tuple[DataFrame, int]:
    """The k-core of an undirected (u < v) edge relation: iteratively
    drop nodes with degree < k and their incident edges until stable.
    Each round: one degree aggregate over the bi-directed view + two
    semi joins, checkpointed so the plan never grows; the convergence
    probe reads a count, not data. Returns ``(core, n_edges)`` — the
    converged edge count comes free with the stop test, so callers
    never pay a separate count job (r18; g10 re-counted each core)."""
    cur = edges.select("u", "v").localCheckpoint(eager=True)
    n_edges = cur.count()
    while n_edges > 0:
        # Explicit count-derived widths (r18, the CC-loop discipline):
        # without them every per-round exchange plans at the session
        # width and the peel pays dozens of near-empty tasks per round
        # at probe scale while a conf pin would serialize it at corpus
        # scale. hash(u, w) on the reattached edge set also clusters
        # the second semi join's build side lookups; the deg aggregate
        # gets its own width on the node key.
        w = _cc_loop_width(n_edges)
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .repartition(w, "n")
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("n")
        )
        nxt = (
            cur.repartition(w, "u")
            .join(deg.withColumnRenamed("n", "u"), "u", "left_semi")
            .repartition(w, "v")
            .join(deg.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        if n_next == n_edges:
            break
        cur, n_edges = nxt, n_next
    return cur, n_edges


def _g10_oracle() -> str:
    per_k = []
    for k in _G10_KS:
        prev = "e0"
        chain = []
        for r in range(1, _G10_ROUNDS + 1):
            chain.append(
                f"""d{k}_{r} AS MATERIALIZED (
      SELECT n FROM (SELECT u AS n FROM {prev} UNION ALL
                     SELECT v AS n FROM {prev})
      GROUP BY n HAVING count(*) >= {k}),
    e{k}_{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      JOIN d{k}_{r} a ON e.u = a.n
      JOIN d{k}_{r} b ON e.v = b.n)"""
            )
            prev = f"e{k}_{r}"
        per_k.append(
            (
                ",\n    ".join(chain),
                f"""SELECT {k} AS k,
           CAST((SELECT count(*) FROM (SELECT u AS n FROM {prev}
                 UNION SELECT v FROM {prev})) AS BIGINT) AS n_core_nodes,
           CAST((SELECT count(*) FROM {prev}) AS BIGINT) AS n_core_edges,
           CAST((SELECT coalesce(sum(n), 0) FROM (SELECT u AS n FROM {prev}
                 UNION SELECT v FROM {prev})) AS BIGINT) AS node_checksum""",
            )
        )
    chains = ",\n    ".join(c for c, _ in per_k)
    selects = "\n    UNION ALL\n    ".join(s for _, s in per_k)
    return f"""
    WITH {_coeng_edges_cte(_G10_MIN_SHARED)},
    e0 AS MATERIALIZED (SELECT u, v FROM e),
    {chains}
    {selects}
    """


@probe("g10_kcore", oracle=_g10_oracle())
def g10_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 — k-core summary (k = 2, 3) of the co-engagement graph at
    the min_shared=4 regime with real core structure: surviving node
    and edge counts plus a node-id checksum pinning the exact core
    membership. The Spark side peels to the TRUE fixpoint; the oracle
    unrolls _G10_ROUNDS = 6 rounds (> the measured depth of 2, and
    idempotent past convergence), so a hash match certifies the whole
    peel sequence, not just the final counts. (A ``.format()`` on this
    literal would make it an expression, not a docstring — g10 was
    briefly the only probe of 300 with ``__doc__ is None``.)"""
    edges = (
        _memo_pairs(spark, sf_dir)
        .filter(F.col("n_shared") >= _G10_MIN_SHARED)
        .select("u", "v")
    )
    parts = []
    # Cores nest: the (k+1)-core is a subgraph of the k-core, so each
    # peel starts from the previous core instead of the full edge set
    # (the k=3 pass was re-peeling everything k=2 already removed —
    # measured 9.6 s at sf0.1 before, ~60 % of it this redundancy).
    prev_core = edges
    for k in _G10_KS:
        core, n_core_edges = kcore_edges(prev_core, k)
        prev_core = core
        nodes = core.select(F.col("u").alias("n")).union(
            core.select(F.col("v").alias("n"))
        ).distinct()
        parts.append(
            nodes.agg(
                F.lit(k).alias("k"),
                F.count(F.lit(1)).alias("n_core_nodes"),
                F.coalesce(F.sum("n"), F.lit(0)).alias("node_checksum"),
            )
            # scalar, bounded — the count rode the peel's stop test
            .withColumn("n_core_edges", F.lit(n_core_edges).cast("long"))
            .select("k", "n_core_nodes", "n_core_edges", "node_checksum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# G11 — label-propagation communities (Raghavan et al. 2007), the
# community-DETECTION member of the family: g5/g8 answer "which nodes
# are connected at all", LPA answers "which densely-linked cluster is
# each node in", splitting a single connected component into its
# communities. Deterministic variant: SYNCHRONOUS rounds (all nodes
# update from the previous round's labels — no visit-order dependence),
# a fixed round count, and the min-label tie-break, so both engines
# walk the identical label sequence. Each round is one edge-keyed hash
# join (ship labels to neighbors) + one node-keyed argmax aggregate —
# the same per-round shuffle class as g2's PageRank, linear in edges,
# nothing node²; the argmax is max(struct(count, -label)) so no window
# appears anywhere. Edges are the family's memoized community-regime
# pair pass (>= _G5_MIN_SHARED shared buckets), so the probe's marginal
# cost over the family is the three LPA rounds themselves.
# ---------------------------------------------------------------------------

_G11_ROUNDS = 3


def _g11_oracle() -> str:
    bi = f"""{_coeng_edges_cte(_G5_MIN_SHARED)},
    bi AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM bi)"""
    rounds = []
    for r in range(1, _G11_ROUNDS + 1):
        rounds.append(f"""
    c{r} AS (SELECT bi.u AS node, l.lbl AS nl, count(*) AS c
             FROM bi JOIN l{r-1} l ON l.node = bi.v GROUP BY 1, 2),
    l{r} AS (SELECT node, nl AS lbl FROM (
               SELECT node, nl,
                      row_number() OVER (PARTITION BY node
                                         ORDER BY c DESC, nl) AS rn
               FROM c{r}) WHERE rn = 1)""")
    return f"""
    WITH {bi},{','.join(rounds)}
    SELECT lbl AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM l{_G11_ROUNDS} GROUP BY lbl
    """


@probe("g11_lpa_communities", oracle=_g11_oracle())
def g11_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 — synchronous label propagation over the community-regime
    co-engagement graph (block comment above): labels start as node
    ids; for _G11_ROUNDS rounds every node adopts its neighbors'
    most-frequent previous-round label (ties -> min label); output is
    the per-community panel (size, min node, node checksum — the
    checksum pins exact membership). The oracle unrolls the identical
    rounds as SQL CTEs."""
    edges = (
        _memo_pairs(spark, sf_dir)
        .filter(F.col("n_shared") >= _G5_MIN_SHARED)
        .select("u", "v")
    )
    # Reused every round; pin the lineage.
    bi = _bidirected(edges).localCheckpoint(eager=True)
    labels = bi.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_G11_ROUNDS):
        nl = bi.join(
            labels.select(F.col("node").alias("_n"), F.col("lbl").alias("nl")),
            F.col("v") == F.col("_n"),
        ).select(F.col("u").alias("node"), "nl")
        counts = nl.groupBy("node", "nl").agg(F.count(F.lit(1)).alias("c"))
        # argmax(count) with min-label tie-break, window-free:
        # max(struct(c, -nl)) sorts by count then by -label.
        labels = counts.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("nl")).alias("neg"))).alias("m")
        ).select("node", (-F.col("m.neg")).alias("lbl"))
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.sum("node").cast("long").alias("node_checksum"),
    )
