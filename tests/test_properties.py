"""Property-based tests (hypothesis) for the operators whose correctness
is an ALGEBRAIC claim — fold-invariance of the merge sink, as-of match
semantics, the Misra-Gries superset guarantee, int8 quantization error
bounds. Randomized inputs catch the edge interleavings hand-written
cases miss; examples stay tiny so each Spark round trip is cheap."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_BASE = dt.datetime(2024, 1, 1)


def _ts(minutes: int) -> dt.datetime:
    return _BASE + dt.timedelta(minutes=minutes)


# One record: (key, unique event_id, is_delete, ts_minutes).
_records = st.lists(
    st.tuples(
        st.integers(0, 4),
        st.booleans(),
        st.integers(0, 30),
    ),
    min_size=1,
    max_size=24,
)


@given(recs=_records, n_batches=st.integers(1, 4), data=st.data())
@settings(**_SETTINGS)
def test_merge_fold_equals_global_latest_wins(spark, recs, n_batches, data):
    """Folding merge_latest_wins over ANY slicing of the stream into
    ordered batches must equal the one-shot global latest-wins — the
    invariant that makes the k8 sink correct under arbitrary
    micro-batch boundaries."""
    from realtime_financial_transactions_data_pipeline_spark.streaming.merge_sink import (
        merge_latest_wins,
    )

    cols = ["user_id", "event_id", "event_type", "value", "ts", "op"]
    rows = [
        (
            k,
            i,  # unique id = total order tie-break
            "error" if is_del else "view",
            float(i),
            _ts(m),
            "delete" if is_del else "upsert",
        )
        for i, (k, is_del, m) in enumerate(recs)
    ]
    # Random ordered slicing into n_batches contiguous chunks.
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(0, len(rows)), min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    chunks, prev = [], 0
    for c in cuts + [len(rows)]:
        chunks.append(rows[prev:c])
        prev = c

    snap = spark.createDataFrame([], schema="user_id long, event_id long, event_type string, value double, ts timestamp, op string")
    for chunk in chunks:
        if not chunk:
            continue
        batch = spark.createDataFrame(chunk, cols)
        snap = merge_latest_wins(snap, batch, "user_id", ["ts", "event_id"])
    got = {
        r.user_id: r.event_id
        for r in snap.collect()
        if r.op == "upsert"
    }

    # Pure-python global latest-wins reference.
    best: dict[int, tuple] = {}
    for k, eid, _etype, _v, ts, op in rows:
        cur = best.get(k)
        if cur is None or (ts, eid) > (cur[0], cur[1]):
            best[k] = (ts, eid, op)
    want = {k: eid for k, (ts, eid, op) in best.items() if op == "upsert"}
    assert got == want


@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=10),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=10),
)
@settings(**_SETTINGS)
def test_asof_join_matches_reference(spark, left, right):
    """asof_join == 'latest right at-or-before, per key' on random
    frames (right deduped to one row per (key, ts) keeping max value,
    matching the operator's uniqueness contract)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.asof import (
        asof_join,
    )

    l_rows = [(k, _ts(m), i) for i, (k, m) in enumerate(left)]
    r_best: dict[tuple, float] = {}
    for k, m in right:
        r_best[(k, m)] = max(r_best.get((k, m), float("-inf")), float(k * 100 + m))
    r_rows = [(k, _ts(m), v) for (k, m), v in r_best.items()]

    ldf = spark.createDataFrame(l_rows, ["k", "ts", "lid"])
    rdf = spark.createDataFrame(r_rows, ["k", "qts", "val"])
    out = {
        r.lid: r.val
        for r in asof_join(ldf, rdf, "k", "ts", "qts", ["val"]).collect()
    }

    for k, m, lid in [(k, m, i) for i, (k, m) in enumerate(left)]:
        cands = [(m2, v) for (k2, m2), v in r_best.items() if k2 == k and m2 <= m]
        want = max(cands)[1] if cands else None
        assert out[lid] == want, (k, m, cands)


@given(
    items=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=200),
    k=st.integers(2, 10),
    parts=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_misra_gries_never_misses_a_heavy_hitter(spark, items, k, parts):
    """Any item with global count STRICTLY above N/(k+1) must appear in
    the distributed MG candidate union — the exactness precondition of
    x5c's two-pass heavy hitters."""
    from collections import Counter

    from realtime_financial_transactions_data_pipeline_spark.operators.sketches import (
        misra_gries_candidates,
    )

    df = spark.createDataFrame([(w,) for w in items], ["w"]).repartition(parts)
    cand = {r.w for r in misra_gries_candidates(df, "w", k=k).collect()}
    n = len(items)
    for w, c in Counter(items).items():
        if c > n / (k + 1):
            assert w in cand, (w, c, n, k, cand)


@given(
    vec=st.lists(
        st.floats(-100, 100, allow_nan=False, width=32), min_size=1, max_size=8
    )
)
@settings(**_SETTINGS)
def test_quantize_int8_error_bound(spark, vec):
    """Per-element reconstruction error of symmetric int8 quantization
    is bounded by scale/254 (half a code step), so recon_err (the L2
    over elements) is bounded by sqrt(dim) * scale/254."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )

    emb = spark.createDataFrame([(1, [float(x) for x in vec])], ["vec_id", "emb"])
    row = quantize_int8(emb).head()
    bound = (len(vec) ** 0.5) * (row.scale / 254) + 1e-9
    assert row.recon_err <= bound, (row.scale, row.recon_err, bound)
    assert all(-127 <= c <= 127 for c in row.codes)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    ),
    wh=st.tuples(st.integers(1, 8), st.integers(1, 8)).map(
        lambda t: (max(t), min(t))  # (window, stride) with stride <= window
    ),
)
@settings(**_SETTINGS)
def test_chunking_covers_every_token_in_order(spark, docs, wh):
    window, stride = wh
    """Every token appears in some chunk; non-overlap (stride >= window)
    reconstructs the document exactly; chunk sizes never exceed the
    window."""
    from realtime_financial_transactions_data_pipeline_spark.operators.chunking import (
        chunk_documents,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, window=window, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, words in enumerate(docs):
        toks = " ".join(words).split(" ")  # split('') == [''] like Spark
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        assert all(r.n_tokens <= window for r in chunks)
        # Expected chunk starts: 0, stride, ... last start covers the end.
        covered = set()
        for r in chunks:
            start = r.chunk_id * stride
            got = r.chunk_text.split(" ") if r.chunk_text != "" or toks == [""] else []
            assert got == toks[start : start + window]
            covered.update(range(start, min(start + window, len(toks))))
        assert covered == set(range(len(toks)))
        if stride >= window:
            rebuilt = " ".join(c.chunk_text for c in chunks if c.chunk_text != "")
            # Non-overlapping chunks concatenate back to the original
            # (modulo empty-token bookkeeping for the empty document).
            assert rebuilt == " ".join(t for t in toks if t != "") or toks == [""]


@given(
    recs=st.lists(
        st.fixed_dictionaries(
            {
                "user_id": st.integers(-(2**62), 2**62),
                "event_id": st.integers(0, 2**62),
                "event_type": st.text(max_size=12),
                "value": st.floats(
                    allow_nan=False, allow_infinity=False, width=64
                ),
            }
        ),
        min_size=0,
        max_size=30,
    ),
    codec=st.sampled_from(["deflate", "null"]),
)
@settings(**_SETTINGS)
def test_avro_ocf_roundtrip_any_records(recs, codec):
    """encode_ocf -> decode_ocf is the identity for any record list
    (unicode strings, negative/huge longs, subnormal doubles, empty
    file) under both codecs."""
    from realtime_financial_transactions_data_pipeline_spark.sources.avro_ocf import (
        EVENT_AVRO_SCHEMA,
        decode_ocf,
        encode_ocf,
    )

    blob = encode_ocf(recs, EVENT_AVRO_SCHEMA, codec=codec)
    out, schema = decode_ocf(blob)
    assert schema == EVENT_AVRO_SCHEMA
    assert out == recs


# q21 decorrelation: the aggregate rewrite must equal the literal
# quantifier semantics on ANY line set, including duplicate rows, solo
# suppliers, multi-late orders, and all-late orders.
_q21_lines = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 3), st.booleans()),
    min_size=1,
    max_size=30,
)


@given(lines=_q21_lines)
@settings(**_SETTINGS)
def test_q21_decorrelation_matches_exists_semantics(spark, lines):
    """q21 collapses `EXISTS(other supplier) AND NOT EXISTS(other LATE
    supplier)` into one per-order aggregate (distinct-supplier count > 1
    AND distinct-late-supplier count = 1 given l1 is late). Verify the
    rewrite against a brute-force evaluation of the quantifiers."""
    from collections import Counter

    from pyspark.sql import functions as F

    expected = Counter()
    for o, s, late in lines:
        if not late:
            continue
        other = any(o2 == o and s2 != s for (o2, s2, _l) in lines)
        other_late = any(o2 == o and s2 != s and l2 for (o2, s2, l2) in lines)
        if other and not other_late:
            expected[s] += 1  # counts l1 ROWS, duplicates included

    df = spark.createDataFrame(
        lines, "l_orderkey long, l_suppkey long, late boolean"
    )
    per = df.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    got = {
        r.l_suppkey: r.numwait
        for r in (
            df.filter(F.col("late"))
            .join(per, "l_orderkey")
            .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
            .groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .collect()
        )
    }
    assert got == dict(expected)


# staged_topk must equal the single-window top-k on ANY input,
# including heavy ties (broken by the id column), keys with < k rows,
# and every row hashing into the same salt bucket.
_topk_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 5)),
    min_size=1,
    max_size=40,
)


@given(rows=_topk_rows, k=st.integers(1, 4), fanout=st.sampled_from([1, 2, 8]))
@settings(**_SETTINGS)
def test_staged_topk_equals_single_window(spark, rows, k, fanout):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        staged_topk,
    )

    # unique id per row = the total-order tiebreak + the salt source
    df = spark.createDataFrame(
        [(key, score, i) for i, (key, score, _)
         in enumerate(rows)],
        "key long, score long, rid long",
    )
    order = [F.col("score"), F.col("rid")]
    w = Window.partitionBy("key").orderBy(*order)
    direct = {
        (r.key, r.rid, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    }
    staged = {
        (r.key, r.rid, r._tk_rank)
        for r in staged_topk(df, ["key"], order, k, salt_col="rid",
                             fanout=fanout).collect()
    }
    assert staged == direct


# Degree-ordered triangle enumeration must equal brute force on ANY
# graph — random graphs exercise orientation ties, multi-hub overlap,
# and wedge-closure corner cases the hand-built shapes miss.
_graph_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=25,
)


@given(raw=_graph_edges)
@settings(**_SETTINGS)
def test_triangle_counts_match_brute_force(spark, raw):
    from collections import Counter
    from itertools import combinations

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    edges = {(min(a, b), max(a, b)) for a, b in raw}
    expected = Counter()
    for a, b, c in combinations(sorted({n for e in edges for n in e}), 3):
        if {(a, b), (a, c), (b, c)} <= edges:
            expected[a] += 1
            expected[b] += 1
            expected[c] += 1
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {r.user_id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == dict(expected)


# PageRank mass conservation: with no dangling nodes (every node in
# this graph has degree >= 1 by construction), the total rank must be
# exactly the initial mass after ANY number of damped iterations.
@given(raw=_graph_edges, iters=st.integers(1, 4))
@settings(**_SETTINGS)
def test_pagerank_conserves_mass(spark, raw, iters):
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        pagerank,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    df = spark.createDataFrame(
        [(u, v, 1) for u, v in edges], "u long, v long, w long"
    )
    ranks = [r.rank for r in pagerank(df, iters=iters).collect()]
    assert abs(sum(ranks) - 1.0) < 1e-9
    assert all(r > 0 for r in ranks)


# Co-engagement edge building vs brute force: for ANY event set, the
# bucketed pair generation must produce exactly the pairs sharing
# >= min_shared distinct (event_type, hour) buckets.
_event_rows = st.lists(
    st.tuples(st.integers(1, 6), st.sampled_from(["a", "b"]), st.integers(0, 5)),
    min_size=1,
    max_size=40,
)


@given(rows=_event_rows, min_shared=st.integers(1, 3))
@settings(**_SETTINGS)
def test_coengagement_edges_match_brute_force(spark, rows, min_shared):
    import datetime as dt
    from collections import Counter
    from itertools import combinations

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        coengagement_edges,
    )

    base = dt.datetime(2024, 1, 1)
    ev = [(u, et, base + dt.timedelta(hours=h)) for u, et, h in rows]
    buckets = {}
    for u, et, h in rows:
        buckets.setdefault((et, h), set()).add(u)
    shared = Counter()
    for users in buckets.values():
        for a, b in combinations(sorted(users), 2):
            shared[(a, b)] += 1
    expected = {p for p, n in shared.items() if n >= min_shared}
    df = spark.createDataFrame(ev, "user_id long, event_type string, ts timestamp")
    got = {(r.u, r.v) for r in coengagement_edges(df, min_shared=min_shared).collect()}
    assert got == expected


@given(rows=_event_rows, floor=st.integers(1, 3))
@settings(**_SETTINGS)
def test_pair_count_kernel_strategies_agree(spark, rows, floor):
    """r14 kernel property: the broadcast-bitmap intersection path
    (matmul counts + prefix-matmul leader election) and the
    explode+groupBy shuffle path must emit the IDENTICAL exact
    (u, v, n_shared) set — counts included — for ANY event set and
    floor, and match the brute-force bucket counting."""
    import datetime as dt
    from collections import Counter
    from itertools import combinations

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        coengagement_pair_counts,
    )

    base = dt.datetime(2024, 1, 1)
    ev = [(u, et, base + dt.timedelta(hours=h)) for u, et, h in rows]
    buckets = {}
    for u, et, h in rows:
        buckets.setdefault((et, h), set()).add(u)
    shared = Counter()
    for users in buckets.values():
        if len(users) < 2:
            continue
        for a, b in combinations(sorted(users), 2):
            shared[(a, b)] += 1
    expected = {(a, b, n) for (a, b), n in shared.items() if n >= floor}
    df = spark.createDataFrame(ev, "user_id long, event_type string, ts timestamp")
    bcast = {
        tuple(r)
        for r in coengagement_pair_counts(df, floor=floor, strategy="broadcast").collect()
    }
    shuf = {
        tuple(r)
        for r in coengagement_pair_counts(df, floor=floor, strategy="shuffle").collect()
    }
    assert bcast == shuf == expected


# BFS frontier iteration must produce exact min hop distances from the
# lowest-id node on ANY random graph — verified against a driver-side
# brute-force Dijkstra-on-unit-weights.
@given(raw=_graph_edges, max_hops=st.integers(1, 4))
@settings(**_SETTINGS)
def test_bfs_hops_match_brute_force(spark, raw, max_hops):
    from collections import deque

    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        bfs_hops,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    src = min(adj)
    expected, q = {src: 0}, deque([src])
    while q:
        n = q.popleft()
        if expected[n] >= max_hops:
            continue
        for m in adj[n]:
            if m not in expected:
                expected[m] = expected[n] + 1
                q.append(m)
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.u: r.hop for r in bfs_hops(df, max_hops=max_hops).collect()}
    assert got == expected


def test_repeated_spans_panel_matches_python_reference(spark):
    """Property: for arbitrary small corpora over a 3-token alphabet
    (maximizing cross-doc repeats and merge edge cases), the
    distributed span panel equals a pure-Python posting-list +
    interval-union reference, at k=2. Drives the same law x25/x26/o11
    share through adversarial shapes hypothesis finds: overlapping
    repeats, back-to-back islands, whole-doc repeats, sub-k docs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        repeated_spans_panel,
    )

    K = 2

    def reference(corpus):
        gram_docs = {}
        for did, words in enumerate(corpus):
            for i in range(len(words) - K + 1):
                gram_docs.setdefault(tuple(words[i : i + K]), set()).add(did)
        out = {}
        for did, words in enumerate(corpus):
            hits = [
                i
                for i in range(len(words) - K + 1)
                if len(gram_docs[tuple(words[i : i + K])]) >= 2
            ]
            spans = []
            for p in hits:
                e = p + K - 1
                if spans and p <= spans[-1][1] + 1:
                    spans[-1][1] = max(spans[-1][1], e)
                else:
                    spans.append([p, e])
            out[did] = (
                len(words),
                len(spans),
                sum(e - s + 1 for s, e in spans),
            )
        return out

    @given(
        st.lists(
            st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=8),
            min_size=2,
            max_size=5,
        )
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def run(corpus):
        df = spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.doc_tokens, r.n_spans, r.repeated_tokens)
            for r in repeated_spans_panel(df, k=K).collect()
        }
        assert got == reference(corpus)

    run()
