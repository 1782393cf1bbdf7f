"""Triangle counting (g1): hand-built graphs pin the semantics the
sf-level oracle can't isolate — exact per-node counts on known shapes,
hub behavior under the degree orientation, and edge-threshold gating."""

from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
    coengagement_edges,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "u long, v long"
    ).distinct()


def test_triangle_counts_known_shapes(spark):
    # K4 on {1,2,3,4}: 4 triangles, every node in exactly 3;
    # plus a pendant path 4-5-6 contributing none.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    rows = {
        r.user_id: r.n_triangles
        for r in triangle_counts(_edges(spark, k4 + [(4, 5), (5, 6)])).collect()
    }
    assert rows == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_hub_star_has_none(spark):
    # A star (hub 0 to 50 leaves) has no triangles — and under the
    # degree orientation the hub is every edge's DST, so the hub's
    # out-adjacency stays empty (the quadratic-wedge case the
    # orientation exists to avoid).
    star = [(0, i) for i in range(1, 51)]
    assert triangle_counts(_edges(spark, star)).count() == 0
    # One closing edge between two leaves -> exactly one triangle.
    rows = {
        r.user_id: r.n_triangles
        for r in triangle_counts(_edges(spark, star + [(1, 2)])).collect()
    }
    assert rows == {0: 1, 1: 1, 2: 1}


def test_coengagement_edges_threshold(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # users 1,2 share 3 hourly buckets (edge); users 1,3 share 1 (no edge)
    for k in range(3):
        for u in (1, 2):
            rows.append((u, "click", base + dt.timedelta(hours=k)))
    rows.append((3, "click", base))
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    got = {(r.u, r.v) for r in coengagement_edges(ev, min_shared=3).collect()}
    assert got == {(1, 2)}


def test_label_prop_components_match_union_find(spark):
    """The label-propagation CC against a driver-side union-find on
    adversarial shapes: a 40-node path (label propagation's O(diameter)
    worst case), two dense cliques bridged by one edge, a star with a
    hub that is NOT the minimum, singleton edges, and a random graph."""
    import random

    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    def brute(pairs):
        parent = {}
        for a, b in pairs:
            parent.setdefault(a, a)
            parent.setdefault(b, b)

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    rng = random.Random(14)
    cases = [
        [(i, i + 1) for i in range(40)],                      # path
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
        + [(4, 10)],                                          # bridged cliques
        [(50, i) for i in range(51, 70)] + [(7, 50)],         # hub != min
        [(100, 101), (200, 201)],                             # singletons
        [(rng.randrange(60), rng.randrange(60)) for _ in range(80)],
    ]
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "u long, v long")
        # max_iters=60: label propagation needs O(diameter) rounds, so
        # the 40-node path blows the default 25 cap.
        prop = {
            r.doc_id: r.canonical_id
            for r in connected_components(
                df, a_col="u", b_col="v", max_iters=60
            ).collect()
        }
        assert prop == brute(pairs), pairs


def test_pair_count_strategies_agree_on_adversarial_layout(spark):
    """broadcast-bitmap vs explode+groupBy on a layout built to stress
    the leader election: pairs whose minimum shared bucket is NOT
    their first bucket in id order of either member, a pair shared
    across many buckets, a bucket-cap dropout, and a sub-floor pair.
    Both strategies must emit the identical exact (u, v, n_shared)
    multiset at every floor."""
    import datetime as dt

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        coengagement_pair_counts,
    )

    base = dt.datetime(2024, 3, 1)
    rows = []
    # (1,2) share hours 5,7,9 of 'click' AND hour 5 of 'view' (4 buckets,
    # min bucket is the 'click' h5 one only under (event_type, h) order).
    for h in (5, 7, 9):
        for u in (1, 2):
            rows.append((u, "click", base + dt.timedelta(hours=h)))
    for u in (1, 2):
        rows.append((u, "view", base + dt.timedelta(hours=5)))
    # (3,4) share exactly 2 buckets (sub-floor at floor=3).
    for h in (0, 1):
        for u in (3, 4):
            rows.append((u, "click", base + dt.timedelta(hours=h)))
    # (1,3) share ONE bucket whose hour sorts after every other bucket.
    for u in (1, 3):
        rows.append((u, "click", base + dt.timedelta(hours=23)))
    # An over-cap bucket (everyone at hour 12) must drop entirely.
    for u in range(1, 8):
        rows.append((u, "purchase", base + dt.timedelta(hours=12)))
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    import realtime_financial_transactions_data_pipeline_spark.operators.graph as g

    old_cap = g._G1_BUCKET_CAP
    try:
        g._G1_BUCKET_CAP = 5  # drops the 7-user purchase bucket
        for floor in (1, 2, 3, 4, 5):
            a = sorted(
                map(tuple, coengagement_pair_counts(
                    ev, floor=floor, strategy="broadcast").collect())
            )
            b = sorted(
                map(tuple, coengagement_pair_counts(
                    ev, floor=floor, strategy="shuffle").collect())
            )
            assert a == b, (floor, a, b)
        assert sorted(
            map(tuple, coengagement_pair_counts(ev, floor=1).collect())
        ) == [(1, 2, 4), (1, 3, 1), (3, 4, 2)]
    finally:
        g._G1_BUCKET_CAP = old_cap


def test_pair_counts_auto_dispatch_pins_guard(spark):
    """Which path 'auto' actually runs, pinned with strategy spies
    (VERDICT r14 #4): under _BITMAP_MAX_MEMBERSHIPS the broadcast-CSR
    kernel must run (never the pair shuffle); with the guard forced
    below the frame's membership count the shuffle fallback must run
    (never a driver-side CSR build). Both spies wrap the real
    functions, so the dispatched path also still produces the right
    pairs."""
    import datetime as dt

    import realtime_financial_transactions_data_pipeline_spark.operators.graph as g

    base = dt.datetime(2024, 3, 1)
    rows = []
    for h in (1, 2, 3):
        for u in (1, 2):
            rows.append((u, "click", base + dt.timedelta(hours=h)))
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    calls: list[str] = []
    real_b, real_s = g._pair_counts_broadcast, g._pair_counts_shuffle

    def spy_b(*a, **k):
        calls.append("broadcast")
        return real_b(*a, **k)

    def spy_s(*a, **k):
        calls.append("shuffle")
        return real_s(*a, **k)

    old_guard = g._BITMAP_MAX_MEMBERSHIPS
    g._pair_counts_broadcast, g._pair_counts_shuffle = spy_b, spy_s
    try:
        got = sorted(
            map(tuple, g.coengagement_pair_counts(ev, floor=1).collect())
        )
        assert got == [(1, 2, 3)]
        assert calls == ["broadcast"], calls
        calls.clear()
        g._BITMAP_MAX_MEMBERSHIPS = 1  # 6 memberships > 1 → over-guard
        got = sorted(
            map(tuple, g.coengagement_pair_counts(ev, floor=1).collect())
        )
        assert got == [(1, 2, 3)]
        assert calls == ["shuffle"], calls
    finally:
        g._BITMAP_MAX_MEMBERSHIPS = old_guard
        g._pair_counts_broadcast, g._pair_counts_shuffle = real_b, real_s


def test_pagerank_known_values(spark):
    """Hand-checkable graph: path 1-2-3. Symmetric under 1<->3, ranks
    sum to 1 every iteration (no dangling mass), center outranks ends."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        pagerank,
    )

    e = _edges(spark, [(1, 2), (2, 3)]).withColumn("w", F.lit(1).cast("long"))
    pr = {r.user_id: r.rank for r in pagerank(e, iters=3).collect()}
    assert set(pr) == {1, 2, 3}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[1] == pr[3] and pr[2] > pr[1]
    # closed form after 3 rounds from uniform init, d=0.85:
    # ends exchange with the center; verify against a direct recursion
    p = {1: 1 / 3, 2: 1 / 3, 3: 1 / 3}
    od = {1: 1, 2: 2, 3: 1}
    nbr = {1: [2], 2: [1, 3], 3: [2]}
    for _ in range(3):
        p = {
            v: 0.15 / 3 + 0.85 * sum(p[u] / od[u] for u in nbr[v])
            for v in (1, 2, 3)
        }
    for v in (1, 2, 3):
        assert abs(pr[v] - p[v]) < 1e-12


def test_pagerank_empty_edges_returns_empty(spark):
    """ADVICE r13: an empty edge relation (no user pair clears
    min_shared at tiny SFs) must yield an empty (user_id, rank) frame,
    not ZeroDivisionError on the uniform init."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        pagerank,
    )

    empty = spark.createDataFrame([], "u long, v long, w long")
    out = pagerank(empty)
    assert out.columns == ["user_id", "rank"]
    assert out.count() == 0


def test_link_prediction_known_path_graph(spark):
    """Path 1-2-3-4: the two distance-2 pairs (1,3) and (2,4) both have
    one common neighbor and Jaccard 0.5; ties break on u asc."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        link_predictions,
    )

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    rows = sorted(link_predictions(edges).collect(), key=lambda r: r.rank)
    assert [(r.u, r.v, r.common_neighbors, r.jaccard) for r in rows] == [
        (1, 3, 1, 0.5),
        (2, 4, 1, 0.5),
    ]
    assert [r.rank for r in rows] == [1, 2]


def test_link_prediction_hub_cap_suppresses_popularity(spark):
    """A center above the hub cap generates no candidate pairs — a node
    adjacent to everything is popularity, not affinity."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        link_predictions,
    )

    star = _edges(spark, [(0, i) for i in range(1, 6)])
    assert link_predictions(star, hub_cap=3).count() == 0
    # under the cap the same star predicts all leaf pairs
    assert link_predictions(star, hub_cap=5).count() == 10


def test_link_prediction_excludes_existing_edges(spark):
    """A triangle has wedges but every closing pair is already an edge
    — zero predictions."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        link_predictions,
    )

    tri = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    assert link_predictions(tri).count() == 0


def test_bfs_hops_path_graph(spark):
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import bfs_hops

    # Path 1-2-3-4-5-6 from source 1 with max_hops=4: node 6 (5 hops)
    # stays undiscovered; everything else gets its exact distance.
    path = [(i, i + 1) for i in range(1, 6)]
    got = {r.u: r.hop for r in bfs_hops(_edges(spark, path), max_hops=4).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_hops_disconnected_component_unreached(spark):
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import bfs_hops

    # Component {1,2} and component {10,11}: BFS starts at min id 1 and
    # never reaches the other component; early-exit on empty frontier.
    got = {r.u: r.hop for r in bfs_hops(_edges(spark, [(1, 2), (10, 11)])).collect()}
    assert got == {1: 0, 2: 1}


def test_bfs_hops_empty_graph(spark):
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import bfs_hops

    empty = spark.createDataFrame([], "u long, v long")
    df = bfs_hops(empty)
    assert df.columns == ["u", "hop"] and df.count() == 0


def test_bfs_hops_min_distance_not_first_path(spark):
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import bfs_hops

    # Diamond 1-2-4, 1-3-4 plus long tail 2-5, 5-4: node 4 is distance
    # 2 (via 2 or 3), never 3 (via the tail) — BFS first-discovery
    # must equal min distance.
    g = [(1, 2), (1, 3), (2, 4), (3, 4), (2, 5), (4, 5)]
    got = {r.u: r.hop for r in bfs_hops(_edges(spark, g)).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 2}


def test_g5_components_match_union_find(spark):
    """g5's label-propagation components vs a driver-side union-find
    over the SAME edge set (sf0.001 + the probe's community threshold),
    and on a hand-built multi-component graph."""
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        _G5_MIN_SHARED,
        _memo_pairs,
        g5_connected_components,
    )

    def brute(edge_rows):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edge_rows:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        comp = {}
        for n in list(parent):
            comp.setdefault(find(n), []).append(n)
        return {c: len(ns) for c, ns in comp.items()}

    # Hand-built: two triangles + a 2-chain + isolated edge.
    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (20, 21), (30, 31)]
    got = {
        r.canonical_id: 0
        for r in connected_components(
            spark.createDataFrame(pairs, "u long, v long"), a_col="u", b_col="v"
        ).collect()
    }
    sizes = (
        connected_components(
            spark.createDataFrame(pairs, "u long, v long"), a_col="u", b_col="v"
        )
        .groupBy("canonical_id")
        .count()
        .collect()
    )
    assert {r.canonical_id: r["count"] for r in sizes} == brute(pairs)
    assert set(got) == {1, 10, 20, 30}

    # Probe-path parity at sf0.001 (possibly empty at the community
    # threshold — then both sides must agree on empty).
    sf = "/root/testdata/sf0.001"
    edge_rows = [
        (r.u, r.v)
        for r in _memo_pairs(spark, sf)
        .filter(F.col("n_shared") >= _G5_MIN_SHARED)
        .select("u", "v")
        .collect()
    ]
    expect = brute(edge_rows)
    probe_rows = {
        r.component: r.n_nodes for r in g5_connected_components(spark, sf).collect()
    }
    assert probe_rows == expect


def test_pagerank_constant_weight_mass_and_strong_tie(spark):
    """PageRank must (a) give the SAME ranks for any constant weight c
    as for w = 1 (c/W(u) = 1/deg(u)), (b) conserve probability mass,
    and (c) let a strong tie pull more rank than a weak one."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        pagerank,
    )

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (1, 5), (5, 6)]
    e = _edges(spark, pairs)
    pc = {
        r.user_id: r.rank
        for r in pagerank(e.withColumn("w", F.lit(7).cast("long"))).collect()
    }
    pu = {
        r.user_id: r.rank
        for r in pagerank(e.withColumn("w", F.lit(1).cast("long"))).collect()
    }
    assert set(pc) == set(pu)
    for k in pu:
        assert abs(pc[k] - pu[k]) < 1e-12, (k, pc[k], pu[k])
    assert abs(sum(pc.values()) - 1.0) < 1e-9
    # Strong tie dominates: connect 7 to the graph with a heavy edge to
    # node 1 and a light edge to node 6 — node 1 must gain more rank
    # from 7 than node 6 does.
    we2 = spark.createDataFrame(
        [(min(a, b), max(a, b), w) for a, b, w in
         [(1, 2, 1), (2, 3, 1), (1, 3, 1), (3, 4, 1), (4, 5, 1),
          (1, 5, 1), (5, 6, 1), (1, 7, 10), (6, 7, 1)]],
        "u long, v long, w long",
    )
    pw2 = {r.user_id: r.rank for r in pagerank(we2).collect()}
    assert abs(sum(pw2.values()) - 1.0) < 1e-9
    assert pw2[1] > pw2[6]


def test_g7_summary_known_graphs(spark):
    """Assortativity on analytically known shapes: a star is perfectly
    DISassortative (r = -1); a clique's degrees are constant so r is
    null (zero variance); counts/extremes/mean verified exactly."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        graph_summary,
    )

    star = _edges(spark, [(0, i) for i in range(1, 6)])
    row = graph_summary(star).collect()[0]
    assert (row.n_nodes, row.n_edges) == (6, 5)
    assert (row.min_degree, row.max_degree) == (1, 5)
    assert abs(row.avg_degree - 10 / 6) < 1e-3
    assert abs(row.assortativity - (-1.0)) < 1e-9
    k4 = _edges(spark, [(a, b) for a in range(4) for b in range(a + 1, 4)])
    row = graph_summary(k4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.min_degree, row.max_degree) == (
        4, 6, 3, 3,
    )
    assert row.assortativity is None  # 0/0: constant degree


def test_g9_assortativity_star_graph(spark):
    """degree_assortativity on a 5-leaf star: every edge pairs degree
    5 with degree 1, so r = -1 exactly and the knn curve is two rows
    (leaves see the hub's degree 5; the hub sees 1.0)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        degree_assortativity,
    )

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "u long, v long"
    )
    rows = {r.degree: r for r in degree_assortativity(edges).collect()}
    assert set(rows) == {1, 5}
    assert rows[1].n_nodes == 5 and rows[1].n_endpoints == 5
    assert rows[1].avg_neighbor_degree == 5.0
    assert rows[5].n_nodes == 1 and rows[5].n_endpoints == 5
    assert rows[5].avg_neighbor_degree == 1.0
    assert rows[1].assortativity == -1.0 == rows[5].assortativity


def test_g9_assortativity_matches_numpy(spark):
    """g9 coefficient equals numpy's Pearson correlation of the
    symmetrized endpoint-degree pairs on the sf0.001 graph."""
    import numpy as np

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        _memo_edges,
        g9_degree_assortativity,
    )

    sf = "/root/testdata/sf0.001"
    e = [(r.u, r.v) for r in _memo_edges(spark, sf).collect()]
    deg: dict[int, int] = {}
    for u, v in e:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs = np.array([deg[u] for u, v in e] + [deg[v] for u, v in e], float)
    ys = np.array([deg[v] for u, v in e] + [deg[u] for u, v in e], float)
    r_np = np.corrcoef(xs, ys)[0, 1]
    rows = g9_degree_assortativity(spark, sf).collect()
    assert rows, "graph should be non-empty at sf0.001"
    got = rows[0].assortativity
    assert abs(got - round(float(r_np), 6)) < 1e-5
    by_deg = {r.degree: r for r in rows}
    ks = sorted({deg[u] for u, _ in e} | {deg[v] for _, v in e})
    assert set(by_deg) == set(ks)


def test_g10_kcore_peels_to_fixpoint(spark):
    """Constructed graph: a triangle with a pendant tail. The 2-core
    must peel the tail (and transitively nothing else), the 3-core
    must peel everything (triangle nodes have degree 2), and a second
    peel of an already-converged core is a no-op."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        kcore_edges,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long"
    )
    core2_df, n_core2 = kcore_edges(edges, 2)
    core2 = sorted((r.u, r.v) for r in core2_df.collect())
    assert core2 == [(1, 2), (1, 3), (2, 3)]
    assert n_core2 == 3  # the returned count matches the converged core
    core3_df, n_core3 = kcore_edges(edges, 3)
    assert core3_df.count() == 0 and n_core3 == 0
    again_df, _ = kcore_edges(spark.createDataFrame(core2, "u long, v long"), 2)
    again = sorted((r.u, r.v) for r in again_df.collect())
    assert again == core2


def test_g10_probe_cores_nest(spark):
    """On the real corpus the 3-core must be a subgraph of the 2-core
    (counts and checksum can only shrink), and the probe's summary
    row arithmetic must be internally consistent."""
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        g10_kcore,
    )

    rows = {r.k: r for r in g10_kcore(spark, "/root/testdata/sf0.01").collect()}
    assert set(rows) == {2, 3}
    assert rows[3].n_core_nodes <= rows[2].n_core_nodes
    assert rows[3].n_core_edges <= rows[2].n_core_edges
    assert rows[3].node_checksum <= rows[2].node_checksum
    assert rows[2].n_core_nodes > 0, "ms=4 regime must have a real 2-core"


def test_g11_lpa_matches_python_replay(spark):
    """g11 parity against a from-scratch Python replay of synchronous
    LPA (3 rounds, neighbor-majority, min-label tie-break) on the same
    community-regime edge set at sf0.001 — membership pinned via the
    per-community node checksum — plus the structural invariants:
    community sizes total the node count, every community id is a
    member node's id, and min_node <= every checksum/size pair allows.
    """
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        _G5_MIN_SHARED,
        _G11_ROUNDS,
        _memo_pairs,
        g11_lpa_communities,
    )

    sf = "/root/testdata/sf0.001"
    edges = [
        (r.u, r.v)
        for r in _memo_pairs(spark, sf)
        .filter(F.col("n_shared") >= _G5_MIN_SHARED)
        .select("u", "v")
        .collect()
    ]
    nbrs = defaultdict(list)
    for u, v in edges:
        nbrs[u].append(v)
        nbrs[v].append(u)
    lbl = {n: n for n in nbrs}
    for _ in range(_G11_ROUNDS):
        nxt = {}
        for n, ns in nbrs.items():
            counts = Counter(lbl[m] for m in ns)
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        lbl = nxt
    expected = defaultdict(lambda: [0, None, 0])
    for n, c in lbl.items():
        e = expected[c]
        e[0] += 1
        e[1] = n if e[1] is None else min(e[1], n)
        e[2] += n
    rows = {r.community: r for r in g11_lpa_communities(spark, sf).collect()}
    assert set(rows) == set(expected)
    for c, (sz, mn, ck) in expected.items():
        r = rows[c]
        assert (r.n_nodes, r.min_node, r.node_checksum) == (sz, mn, ck), c
    assert sum(r.n_nodes for r in rows.values()) == len(nbrs)
