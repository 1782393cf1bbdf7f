"""Similarity-search tests (X2 embeddings path): cosine correctness vs
numpy, and LSH-bucketed ANN recall vs the brute-force baseline. Cited
from operators/similarity.py docstrings."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark.operators import similarity
from realtime_financial_transactions_data_pipeline_spark.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_cosine_matches_numpy(spark, emb):
    """Spark-side aggregate/zip_with cosine == numpy, to 1e-6."""
    rows = emb.filter(F.col("vec_id") < 10).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    out = similarity.cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") < 2), k=3
    ).collect()
    for r in out:
        q, c = vecs[r.query_id], vecs[r.neighbor_id]
        expected = float(q @ c / (np.linalg.norm(q) * np.linalg.norm(c)))
        assert abs(r.cosine - round(expected, 4)) <= 1e-4


def test_topk_rank_contract(emb):
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    per_query = (
        out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx"))
    ).collect()
    assert all(r.n == 3 and r.mx == 3 for r in per_query)
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_ann_lsh_finds_planted_neighbors(spark):
    """Sign-LSH's contract is high-cosine retrieval: for each of 10
    planted near-duplicate pairs (cosine ≈ 0.998, θ ≈ 4°), per-table
    hit probability is (1-θ/π)^8 ≈ 0.84, so 4 tables give ≈ 0.999 — the
    planted twin must land in the candidate union for ≥ 8/10 queries.
    (The testdata embeddings have median top-1 cosine 0.36 ≈ 69°; no
    LSH family achieves top-1 recall on effectively-random vectors, so
    recall is asserted on planted structure, brute force stays the
    exact baseline for that regime.)"""
    rng = np.random.RandomState(7)
    base = rng.randn(10, 64)
    rows = []
    for i, v in enumerate(base):
        twin = v + 0.05 * rng.randn(64)  # cosine ≈ 0.998
        rows.append((i, [float(x) for x in v]))  # query ids < 20
        rows.append((100 + i, [float(x) for x in twin]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    bucketed = df.select(
        "vec_id", F.explode(similarity.lsh_table_buckets("emb")).alias("tb")
    ).select("vec_id", "tb.table_id", "tb.bucket")
    q = bucketed.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    c = bucketed.filter(F.col("vec_id") >= 100).withColumnRenamed("vec_id", "neighbor_id")
    cands = {
        (r.query_id, r.neighbor_id)
        for r in q.join(c, ["table_id", "bucket"]).select("query_id", "neighbor_id").collect()
    }
    hits = sum(1 for i in range(10) if (i, 100 + i) in cands)
    assert hits >= 8


def test_lsh_bucket_is_deterministic(spark):
    """Same vector → same bucket across invocations (plan-literal
    hyperplanes, no executor-local randomness)."""
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(64)])],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("emb", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    b1 = df.select(similarity.lsh_bucket_col("emb").alias("b")).collect()[0].b
    b2 = df.select(similarity.lsh_bucket_col("emb").alias("b")).collect()[0].b
    assert b1 == b2


def test_ivf_finds_planted_clusters(spark):
    """IVF with a per-cluster coarse quantizer: queries drawn from a
    cluster must retrieve their own cluster's members (nprobe=1 suffices
    when clusters are separated)."""
    rng = np.random.RandomState(11)
    centers = rng.randn(4, 64) * 10
    rows = []
    for c in range(4):
        for j in range(25):
            v = centers[c] + rng.randn(64) * 0.1
            rows.append((c * 25 + j, [float(x) for x in v], c))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("emb", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    cents = similarity.ivf_centroids(df)
    assert cents.count() == 4
    assigned = similarity.ivf_assign(df, cents, nprobe=1)
    # every vector must be assigned to its own cluster's centroid
    joined = assigned.join(df.select("vec_id", "label"), "vec_id")
    assert joined.filter(F.col("list_id") != F.col("label")).count() == 0


def test_cosine_pairs_tiled_matches_bruteforce(spark):
    """Tiled-GEMM exact pair scan vs a numpy brute force, with the tile
    edge forced below N so the diagonal-vs-cross-tile logic (unordered
    pair shipped exactly once, ids normalized) is exercised."""
    rng = np.random.RandomState(3)
    n, dim, t = 120, 16, 0.3
    vecs = rng.randn(n, dim)
    rows = [
        (i, [float(x) for x in vecs[i]], "grp%d" % (i % 3)) for i in range(n)
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.StringType()),
        ]
    )
    df = similarity.with_double_embedding(spark.createDataFrame(rows, schema))
    got = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_pairs_tiled(
            df.select("vec_id", "label", "emb", "nrm"), t, tile=32
        ).collect()
    }
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    want = {
        (i, j): sims[i, j]
        for i in range(n)
        for j in range(i + 1, n)
        if sims[i, j] >= t
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9


def test_kmeans_lloyd_separates_planted_clusters(spark):
    # Two tight planted clusters far apart; k=2 must split them
    # regardless of which seeds the md5 order picks.
    import itertools
    rows = []
    for i in range(8):
        rows.append((i, [10.0 + 0.01 * i, 0.0, 0.0]))
    for i in range(8, 16):
        rows.append((i, [0.0, 10.0 + 0.01 * i, 0.0]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        kmeans_lloyd,
        with_double_embedding,
    )
    e = with_double_embedding(emb).select("vec_id", "emb", "nrm")
    assign, cents = kmeans_lloyd(e, k=2, iters=2)
    got = assign.select("vec_id", "list_id").collect()
    clusters = {}
    for r in got:
        clusters.setdefault(r.list_id, set()).add(r.vec_id)
    assert sorted(frozenset(v) for v in clusters.values()) == sorted(
        [frozenset(range(8)), frozenset(range(8, 16))]
    )
    # Deterministic: a second run yields the identical assignment.
    again, _ = kmeans_lloyd(e, k=2, iters=2)
    assert sorted(map(tuple, got)) == sorted(
        map(tuple, again.select("vec_id", "list_id").collect())
    )


def test_quantize_int8_codes_and_error(spark):
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        quantize_int8,
    )

    emb = spark.createDataFrame(
        [(1, [2.0, -1.0, 0.5]), (2, [0.0, 0.0, 0.0])], ["vec_id", "emb"]
    )
    out = {r.vec_id: r for r in quantize_int8(emb).collect()}
    assert out[1].scale == 2.0
    # codes = floor(x*127/2 + .5) -> [127, floor(-63.0)= -63... check: -1*63.5+0.5=-63 -> -63], [0.5*63.5+0.5=32.25 -> 32]
    assert out[1].codes == [127, -63, 32]
    assert out[1].recon_err > 0
    assert out[2].scale == 0.0 and out[2].codes == [0, 0, 0] and out[2].recon_err == 0.0


def test_semdedup_drops_higher_id_of_near_identical_pair(spark):
    """Two near-identical vectors land in the same cluster; the higher
    id drops. A third orthogonal-ish vector survives."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        semdedup,
        with_double_embedding,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.1]),
        (2, [1.0, 0.01, 0.0, 0.1]),   # ~0.9999 cosine with vec 1
        (3, [0.0, 1.0, 0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = with_double_embedding(df).select("vec_id", "emb", "nrm")
    dropped = {r.vec_id for r in semdedup(emb, k=1, iters=1, threshold=0.95).collect()}
    assert dropped == {2}


def test_pq_codes_and_lloyd_descent(spark, sf_dir):
    """PQ invariants: every code is a seed vec_id, recon_err >= 0, and
    the mean squared reconstruction error does not increase from the
    seed codebook to the updated one (Lloyd descent, global)."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        _PQ_K,
        pq_train_encode,
        with_double_embedding,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    emb = with_double_embedding(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "emb"
    )
    out = pq_train_encode(emb)
    seeds = {
        r.vec_id
        for r in emb.select("vec_id")
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h")
        .limit(_PQ_K)
        .collect()
    }
    rows = out.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert r.recon_err >= 0
        for c in (r.code_0, r.code_1, r.code_2, r.code_3):
            assert c in seeds


def test_sign_bits_packed_matches_python_reference(spark):
    """The packed word's bits are exactly [v_d > 0] at bit d — checked
    against a pure-Python pack over crafted vectors including the
    bit-63 (sign bit) and all-zero edges."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        _BINARY_DIM,
        sign_bits_packed,
    )

    vecs = [
        [0.0] * _BINARY_DIM,                                  # no bit set (0 is not > 0)
        [1.0] * _BINARY_DIM,                                  # all 64 bits -> -1 as i64
        [(1.0 if d == 63 else -1.0) for d in range(_BINARY_DIM)],  # only the sign bit
        [((d % 3) - 1.0) for d in range(_BINARY_DIM)],        # mixed pattern
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: r.w
        for r in df.select("vec_id", sign_bits_packed().alias("w")).collect()
    }

    def ref(v):
        w = 0
        for d, x in enumerate(v):
            if x > 0:
                w |= 1 << d
        return w - (1 << 64) if w >= (1 << 63) else w  # to signed i64

    for i, v in enumerate(vecs):
        assert got[i] == ref(v), i
    assert got[0] == 0 and got[1] == -1 and got[2] == -(1 << 63)


def test_x2r_recall_accounting_mechanics(spark):
    """The recall accounting itself (VERDICT r11 #7): hit counting via
    the exact∩ann join, zero-hit queries RETAINED at recall 0.0 (a
    left join from the exact side — an inner join would silently drop
    them and overstate mean recall), and the recall division."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        _recall_against,
    )

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "query_id long, neighbor_id long",
    )
    # query 1: 2 of 3 hit (one extra non-exact neighbor is ignored);
    # query 2: nothing hit -> must still appear with recall 0.0
    ann = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 77), (2, 78), (2, 79)],
        "query_id long, neighbor_id long",
    )
    rows = {
        r.query_id: r for r in _recall_against("m", ann, exact, 3).collect()
    }
    assert rows[1].n_hits == 2 and abs(rows[1].recall - 2 / 3) < 1e-12
    assert rows[2].n_hits == 0 and rows[2].recall == 0.0
    assert all(r.method == "m" for r in rows.values())


def test_x2s_agrees_with_full_adc_on_shared_pairs(spark):
    """IVF pruning must change WHICH vectors are scored, never their
    scores: any (query, neighbor) pair appearing in both x2s (IVF-
    pruned ADC) and x2p (full-corpus ADC) must carry the identical
    rounded ADC distance — same codebooks, same lookup table, same
    ordered subspace fold."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        x2p_pq_adc_topk,
        x2s_ivf_pq_search,
    )

    sf = "/root/testdata/sf0.001"
    full = {
        (r.q_id, r.neighbor_id): r.adc_dist
        for r in x2p_pq_adc_topk(spark, sf).collect()
    }
    pruned = x2s_ivf_pq_search(spark, sf).collect()
    assert pruned, "IVF-pruned search returned nothing"
    shared = [r for r in pruned if (r.q_id, r.neighbor_id) in full]
    assert shared, "no overlap between pruned and full top-k to compare"
    for r in shared:
        assert full[(r.q_id, r.neighbor_id)] == r.adc_dist


def test_residual_pq_reduces_reconstruction_error(spark):
    """The reason FAISS encodes residuals: after subtracting the coarse
    centroid, vectors concentrate near the origin and the same 8-bit
    PQ budget quantizes them with lower error. Verify mean
    reconstruction error drops vs raw-vector PQ on the same corpus."""
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        pq_train,
        with_double_embedding,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    emb = with_double_embedding(
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ).select("vec_id", "emb", "nrm", "label")

    def mean_err(vectors):
        a2, _c1, _sub = pq_train(vectors)
        return (
            a2.groupBy("vec_id")
            .agg(F.sum("sqdist").alias("e2"))
            .agg(F.avg("e2"))
            .first()[0]
        )

    raw_err = mean_err(emb.select("vec_id", "emb"))
    cents = ivf_centroids(emb)
    re = (
        ivf_assign(emb, cents, nprobe=1)
        .join(F.broadcast(cents.select("list_id", "centroid")), "list_id")
        .select(
            "vec_id",
            F.expr("zip_with(emb, centroid, (a, b) -> a - b)").alias("emb"),
        )
    )
    res_err = mean_err(re)
    assert res_err < raw_err, (res_err, raw_err)


def test_x2u_sweep_finds_target_recall_config(spark, sf_dir):
    """VERDICT r12 #4: the tuned sweep must pin exactly one chosen
    config, and it must clear recall@5 >= 0.8 while scanning less than
    the full corpus (nprobe=10 would be exhaustive; the point is that
    a cheaper setting clears the bar)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        x2u_recall_tuned,
    )

    rows = x2u_recall_tuned(spark, sf_dir).collect()
    chosen = [r for r in rows if r.chosen]
    assert len(chosen) == 1
    assert chosen[0].mean_recall >= 0.8
    assert chosen[0].scan_frac < 1.0
    # monotone: more lists probed never hurts recall
    by_np = sorted(rows, key=lambda r: r.nprobe)
    recalls = [r.mean_recall for r in by_np]
    assert recalls == sorted(recalls)
    assert by_np[-1].mean_recall == 1.0  # full coverage == exhaustive


def test_x2v_refine_reranks_within_adc_shortlist(spark):
    """IndexRefineFlat contract: every refined neighbor must come from
    the ADC shortlist (floats move only for shortlisted vectors), the
    refined ranking must be by exact L2^2 (verified by recomputing the
    distance from the raw embeddings), and refine can only improve the
    ADC ranking's agreement with the exact ranking, never change the
    candidate universe."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        _X2V_SHORTLIST,
        _ivfpq_residual_scored,
        with_double_embedding,
        x2v_ivfpq_refine,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    refined = x2v_ivfpq_refine(spark, sf).collect()
    assert refined, "refine returned nothing"
    w = Window.partitionBy("q_id").orderBy("qdist", "vec_id")
    shortlist = {
        (r.q_id, r.vec_id)
        for r in _ivfpq_residual_scored(spark, sf)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _X2V_SHORTLIST)
        .select("q_id", "vec_id")
        .collect()
    }
    emb = {
        r.vec_id: r.emb
        for r in with_double_embedding(load_table(spark, sf, "embeddings"))
        .select("vec_id", "emb")
        .collect()
    }
    per_q = {}
    for r in refined:
        assert (r.q_id, r.neighbor_id) in shortlist
        d2 = sum(
            (a - b) * (a - b) for a, b in zip(emb[r.q_id], emb[r.neighbor_id])
        )
        assert abs(d2 - r.l2_dist) < 5e-4, (r, d2)
        per_q.setdefault(r.q_id, []).append((r.rnk, r.l2_dist))
    for q, rows in per_q.items():
        rows.sort()
        assert [rnk for rnk, _ in rows] == list(range(1, len(rows) + 1))
        dists = [d for _, d in rows]
        assert dists == sorted(dists), (q, dists)


def test_x2w_prefix_shortlist_and_rerank_contract(spark):
    """Matryoshka contract: every returned neighbor's full-dim distance
    must match a numpy recomputation, ranks must be contiguous per
    query ordered by that distance, and the shortlist must come from
    PREFIX-dim ranking (verify membership in the numpy prefix top-20)."""
    import numpy as np
    import pandas as pd

    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        _X2W_PREFIX,
        _X2W_SHORT,
        x2w_matryoshka_prefix_search,
    )

    sf = "/root/testdata/sf0.001"
    pdf = pd.read_parquet(sf + "/embeddings.parquet")
    vecs = {r.vec_id: np.array(r.embedding, float) for r in pdf.itertuples()}
    rows = x2w_matryoshka_prefix_search(spark, sf).collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    for q, rs in per_q.items():
        pre_q = vecs[q][:_X2W_PREFIX]
        pd2 = {
            v: float(((pre_q - vec[:_X2W_PREFIX]) ** 2).sum())
            for v, vec in vecs.items()
            if v != q
        }
        shortlist = set(
            sorted(pd2, key=lambda v: (pd2[v], v))[:_X2W_SHORT]
        )
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        dists = []
        for r in rs:
            assert r.neighbor_id in shortlist, (q, r.neighbor_id)
            d2 = float(((vecs[q] - vecs[r.neighbor_id]) ** 2).sum())
            assert abs(d2 - r.l2_dist) < 5e-4
            dists.append(r.l2_dist)
        assert dists == sorted(dists)


def test_x2rb_refine_never_hurts_and_lifts_at_sf001(spark):
    """Refinement reorders within the ADC shortlist by EXACT distance,
    so against the exact reference its mean recall must be >= the raw
    ADC ranking's on any corpus; at sf0.01 the lift is strict (the
    0.267 -> 0.333 fact the panel exists to certify)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        x2rb_refine_recall,
    )

    rows = x2rb_refine_recall(spark, "/root/testdata/sf0.01").collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r.method, []).append(r.recall)
    raw = sum(by_method["ivfpq_residual_x2t"]) / len(
        by_method["ivfpq_residual_x2t"]
    )
    ref = sum(by_method["ivfpq_refined_x2v"]) / len(
        by_method["ivfpq_refined_x2v"]
    )
    assert len(by_method["ivfpq_residual_x2t"]) == len(
        by_method["ivfpq_refined_x2v"]
    )
    assert ref > raw, (raw, ref)


def test_x2z_dim_stats_numpy_parity(spark):
    """x2z parity against numpy at sf0.001 (population std, per-dim
    min/max) and the plan contract: the corpus is never exploded —
    exactly one aggregate over the scan, with the 64-way pivot
    happening on the single combine row."""
    import duckdb
    import numpy as np

    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        x2z_embedding_dim_stats,
    )

    sf = "/root/testdata/sf0.001"
    m = np.array(
        duckdb.sql(
            f"SELECT embedding FROM read_parquet('{sf}/embeddings.parquet')"
        ).fetchnumpy()["embedding"].tolist(),
        dtype=np.float64,
    )
    df = x2z_embedding_dim_stats(spark, sf)
    rows = {r.dim: r for r in df.collect()}
    assert len(rows) == m.shape[1] == 64
    for d in range(m.shape[1]):
        c = m[:, d]
        r = rows[d]
        assert r.n == len(c)
        assert abs(r.mean - round(float(c.mean()), 4)) <= 1e-9, d
        assert abs(r.std - round(float(c.std()), 4)) <= 1e-4, d
        assert abs(r.vmin - round(float(c.min()), 4)) <= 1e-9, d
        assert abs(r.vmax - round(float(c.max()), 4)) <= 1e-9, d
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    # r17 plan pin: the exploded rows must be combined MAP-SIDE by a
    # codegen-friendly HashAggregate — the partial aggregate sits
    # between the Exchange and the Generate in the executed tree, and
    # no SortAggregate appears anywhere (the pre-r17 wide
    # subscript-aggregate form broke codegen past
    # spark.sql.codegen.maxFields; see the x2z block comment).
    assert "SortAggregate" not in plan, plan
    part = plan.index("partial_count")
    assert plan.index("Exchange") < part < plan.index("Generate"), plan


def test_x2ab_drift_planted_shift(spark):
    """x2ab semantics on a crafted corpus: dimension 0 carries a
    planted +1.0 mean shift between snapshots (SMD >> 0.25 → drifted),
    dimension 1 is identically distributed (SMD ~ 0 → not drifted);
    numbers match a numpy recompute."""
    import numpy as np
    from pyspark.sql import types as T

    import realtime_financial_transactions_data_pipeline_spark.operators.similarity as sim

    rng = np.random.RandomState(5)
    rows = []
    for i in range(200):
        base = rng.randn(64) * 0.1
        if i % 2 == 1:
            base[0] += 1.0  # planted drift in dim 0 for snapshot B
        rows.append((i, [float(x) for x in base]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)

    import unittest.mock as mock

    with mock.patch.object(sim, "load_table", lambda s, d, t: df):
        got = {r.dim: r for r in sim.x2ab_embedding_drift(spark, "x").collect()}
    assert got[0].drifted and got[0].smd > 2.0
    assert not got[1].drifted and got[1].smd < 0.25
    m = np.array([r[1] for r in rows])
    a, b = m[::2], m[1::2]
    for d in (0, 1, 7):
        pooled = np.sqrt((a[:, d].std() ** 2 + b[:, d].std() ** 2) / 2)
        smd = abs(a[:, d].mean() - b[:, d].mean()) / pooled
        assert abs(got[d].smd - round(float(smd), 4)) <= 2e-4, d


def test_x34_jl_distortion_concentrates(spark):
    """JL with k=16 must keep the planted pair sample's distance
    ratios concentrated near 1 (mean in [0.7, 1.3], all pairs
    positive), and the projection must be deterministic across
    invocations (the sign matrix is a pure hash law)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        x34_jl_projection,
    )

    sf = "/root/testdata/sf0.01"
    r1 = x34_jl_projection(spark, sf).collect()[0]
    r2 = x34_jl_projection(spark, sf).collect()[0]
    assert r1 == r2
    assert r1.n_pairs > 100
    assert 0.7 <= r1.mean_ratio <= 1.3
    assert r1.min_ratio > 0
    assert r1.frac_in_band >= 0.8


def test_x2x_persisted_index_prunes_and_reloads(spark, sf_dir, tmp_path):
    """The persisted IVF layout (r17): (a) query-side list scans must
    carry a list_id PartitionFilter — the probe-set prunes at the
    scan, never a full-index read; (b) answers from the reloaded
    layout must equal the in-session IVF path's (reload fidelity —
    the probe's oracle claim, pinned here structurally); (c) the
    layout is one directory per list."""
    import os

    from pyspark.sql import functions as F

    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        _emb_base,
        ivf_centroids_memo,
        ivf_query_reloaded,
        write_ivf_index,
    )
    from realtime_financial_transactions_data_pipeline_spark.operators.similarity import (
        x2h_ann_ivf,
    )
    from realtime_financial_transactions_data_pipeline_spark.plans import inspect

    root = str(tmp_path / "ivf")
    emb = _emb_base(spark, sf_dir)
    write_ivf_index(emb, ivf_centroids_memo(spark, sf_dir), root)

    # (c) one directory per coarse list
    dirs = {d for d in os.listdir(f"{root}/lists") if d.startswith("list_id=")}
    n_lists = emb.select("label").distinct().count()
    assert len(dirs) == n_lists

    queries = emb.filter(F.col("vec_id") < 20).drop("label")
    res = ivf_query_reloaded(spark, root, queries)
    # (a) the list scan is partition-pruned on list_id
    pf = inspect.partition_filters(res)
    assert "list_id" in pf and "PartitionFilters: []" not in pf

    # (b) reload fidelity vs the in-session IVF probe
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine) for r in res.collect()
    )
    want = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine)
        for r in x2h_ann_ivf(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0
