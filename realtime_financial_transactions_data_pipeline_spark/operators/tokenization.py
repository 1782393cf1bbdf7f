"""PAN masking + FPE tokenization probes (SURVEY §2.5 U1/U2, §2.4 F1/F3/F5).

PANs are synthesized deterministically from customer keys (the test
tables carry no card numbers), then pushed through the same mask /
validate / tokenize expressions the streaming pipeline uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.functions.fpe import fpe_token_col
from realtime_financial_transactions_data_pipeline_spark.functions.scalar import (
    card_bin,
    mask_pan,
    pan_is_valid,
)
from realtime_financial_transactions_data_pipeline_spark.registry import probe
from realtime_financial_transactions_data_pipeline_spark.tables import load_table


def _synth_pan() -> F.Column:
    """Deterministic 16-digit PAN per customer key."""
    return F.lpad((F.lit(4000000000000000) + F.col("c_custkey")).cast("string"), 16, "0")


@probe(
    "u1b_mask_and_bin",
    oracle="""
    WITH pans AS (
      SELECT c_custkey,
             lpad(CAST(4000000000000000 + c_custkey AS VARCHAR), 16, '0') AS pan
      FROM customer
    )
    SELECT c_custkey,
           substring(pan, 1, 6) || '******' || substring(pan, 13, 4) AS masked_card_number,
           substring(pan, 1, 6) AS card_bin,
           (length(pan) BETWEEN 13 AND 19) AS pan_valid
    FROM pans
    """,
)
def u1b_mask_and_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masking (pipeline.py:89-90), BIN extraction
    (generate_fact_transactions_data.py:153) and length validation
    (pipeline.py:78) on synthesized PANs — the SQL-expressible half of the
    tokenization stage."""
    c = load_table(spark, sf_dir, "customer").withColumn("pan", _synth_pan())
    return c.select(
        "c_custkey",
        mask_pan(F.col("pan")).alias("masked_card_number"),
        card_bin(F.col("pan")).alias("card_bin"),
        pan_is_valid(F.col("pan")).alias("pan_valid"),
    )


def _u1_oracle() -> str:
    """Hash-checked oracle for the reference-exact tokenization stage
    (VERDICT r14 #1). DuckDB 1.0 has no sha1, so HMAC-SHA1 cannot be
    replayed in SQL the way u1c replays md5; instead the expected
    tokens are a precomputed relation — generated here by the
    vector-pinned stdlib pyffx transcription (functions/fpe.py, pinned
    bit-for-bit by pyffx's published README vectors in
    tests/test_fpe.py) over the deterministic PAN domain (custkeys
    0..1499 cover sf ≤ 0.01; the INNER JOIN surfaces any coverage gap
    as an honest row-count mismatch). The masking half stays genuine
    SQL. Cost: 1500 tokens × 10 HMAC-SHA1 rounds at import — <0.1 s."""
    from realtime_financial_transactions_data_pipeline_spark.functions.fpe import (
        TEST_KEY,
        pyffx_compat_token,
    )

    rows = ",".join(
        f"({k},'{pyffx_compat_token(TEST_KEY, str(4000000000000000 + k).zfill(16))}')"
        for k in range(1500)
    )
    return f"""
    WITH tok(c_custkey, card_token) AS (VALUES {rows}),
    pans AS (
      SELECT c_custkey,
             lpad(CAST(4000000000000000 + c_custkey AS VARCHAR), 16, '0') AS pan
      FROM customer)
    SELECT p.c_custkey,
           substring(p.pan, 1, 6) || '******' || substring(p.pan, 13, 4)
             AS masked_card_number,
           t.card_token
    FROM pans p JOIN tok t USING (c_custkey)
    """


@probe("u1_fpe_tokenize", oracle=_u1_oracle())
def u1_fpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tokenization stage, REFERENCE-EXACT: mask + pyffx token
    (pipeline.py:89-95 — ``str(pyffx.Integer(dek, length=len(pan))
    .encrypt(int(pan))).zfill(16)``) via the stdlib transcription of
    pyffx's public HMAC-SHA1 Feistel, bit-identical to a reference
    deployment under the same key (pinned by pyffx's published vectors
    in tests/test_fpe.py; prefers the real package when installed).
    The probe passes the public TEST_KEY *explicitly* (production
    resolves a real key per worker and fails closed without one). The
    keyed-BLAKE2b production tokenizer stays the streaming default for
    throughput; its structure is hash-checked by u1c and its values
    unit-tested in tests/test_fpe.py."""
    from realtime_financial_transactions_data_pipeline_spark.functions.fpe import (
        TEST_KEY,
        make_pyffx_tokenizer,
    )

    from realtime_financial_transactions_data_pipeline_spark.tables import widen_scan

    # widen_scan (r18): the 10-round Feistel per PAN is the probe's
    # whole cost and the single-file scan fed it to one task.
    c = widen_scan(load_table(spark, sf_dir, "customer")).withColumn(
        "pan", _synth_pan()
    )
    return c.select(
        "c_custkey",
        mask_pan(F.col("pan")).alias("masked_card_number"),
        make_pyffx_tokenizer(TEST_KEY)(F.col("pan")).alias("card_token"),
    )


def _u1c_oracle() -> str:
    """DuckDB replay of the 10-round Feistel over 16-digit PANs with the
    portable md5 round function (functions/fpe.py:
    ``_round_states(..., portable=True)``): prf(r, v) = first 4 bytes of
    md5(key || r || '|16|' || v) as uint32; even rounds update the right
    half, odd rounds the left, both mod 10^8. Generated as chained CTEs
    so every round's arithmetic is explicit and independently
    inspectable."""
    key = "spark-graft-default-test-dek-32B"  # public TEST_KEY bytes as text

    def prf(r: int, v: str) -> str:
        return (
            f"(('0x' || substr(md5('{key}' || '{r}|16|' || CAST({v} AS VARCHAR)), 1, 8))"
            "::UINTEGER)::BIGINT"
        )

    ctes = [
        """r_init AS (
      SELECT c_custkey,
             CAST(substring(pan, 1, 8) AS BIGINT) AS a,
             CAST(substring(pan, 9, 8) AS BIGINT) AS b
      FROM pans)"""
    ]
    prev = "r_init"
    for r in range(10):
        if r % 2 == 0:
            upd = f"a, (b + {prf(r, 'a')}) % 100000000 AS b"
        else:
            upd = f"(a + {prf(r, 'b')}) % 100000000 AS a, b"
        ctes.append(f"r{r} AS (SELECT c_custkey, {upd} FROM {prev})")
        prev = f"r{r}"
    return f"""
    WITH pans AS (
      SELECT c_custkey,
             lpad(CAST(4000000000000000 + c_custkey AS VARCHAR), 16, '0') AS pan
      FROM customer),
    {', '.join(ctes)}
    SELECT c_custkey,
           lpad(CAST(a AS VARCHAR), 8, '0') || lpad(CAST(b AS VARCHAR), 8, '0')
             AS card_token
    FROM {prev}
    """


@probe("u1c_fpe_portable", oracle=_u1c_oracle())
def u1c_fpe_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked FPE structure probe: the same 10-round Feistel
    network as u1_fpe_tokenize but with the engine-portable md5 round
    PRF (functions/fpe.py:_round_states(..., portable=True)), so DuckDB
    replays every round bit-for-bit. This certifies the Feistel
    structure — round schedule, domain halving, modular arithmetic,
    zero-padding — against an independent engine; the production keyed-BLAKE2b PRF stays
    rows-only + unit-tested (no blake2b in DuckDB), which is exactly
    the boundary a crypto twin should have."""
    from realtime_financial_transactions_data_pipeline_spark.functions.fpe import TEST_KEY

    c = load_table(spark, sf_dir, "customer").withColumn("pan", _synth_pan())
    return c.select(
        "c_custkey",
        fpe_token_col(F.col("pan"), key=TEST_KEY, portable=True).alias("card_token"),
    )


_K_ANON = 5


@probe(
    "u3_k_anonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS n
      FROM customer GROUP BY 1, 2)
    SELECT c_mktsegment, c_nationkey, CAST(n AS BIGINT) AS n,
           n < {_K_ANON} AS suppress
    FROM g
    """,
)
def u3_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier (segment, nation):
    every equivalence class with its size and a suppression flag for
    classes smaller than k={_K_ANON} — the release gate a privacy
    review runs before publishing a de-identified extract (completes
    the reference's privacy story: F1 masks direct identifiers, U1
    tokenizes them, this audits the QUASI-identifiers that re-identify
    via linkage). One partial-aggregable groupBy; the suppression flag
    is a scan-level expression on the aggregate."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("suppress", F.col("n") < _K_ANON)
    )


@probe(
    "u4_gdpr_erasure",
    oracle="""
    WITH req AS (SELECT DISTINCT user_id FROM events WHERE user_id % 101 = 7)
    SELECT 'events' AS table_name,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS rows_before,
           CAST((SELECT count(*) FROM events e
                 WHERE NOT EXISTS (SELECT 1 FROM req r
                                   WHERE r.user_id = e.user_id)) AS BIGINT)
             AS rows_after,
           CAST((SELECT count(*) FROM events e
                 WHERE EXISTS (SELECT 1 FROM req r
                               WHERE r.user_id = e.user_id)) AS BIGINT)
             AS rows_erased
    UNION ALL
    SELECT 'customer',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM req r
                                   WHERE r.user_id = c.c_custkey)) AS BIGINT),
           CAST((SELECT count(*) FROM customer c
                 WHERE EXISTS (SELECT 1 FROM req r
                               WHERE r.user_id = c.c_custkey)) AS BIGINT)
    """,
)
def u4_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure sweep (the GDPR/CCPA workload a financial
    pipeline must run): a deletion-request key set anti-joins every
    table that carries the subject's rows; the probe returns the
    per-table erasure accounting a compliance log records. The request
    set broadcasts (it is human-scale), so each table is erased in one
    scan; on the generation-pointer layout the erased copy publishes
    via `publish_generation` and old snapshots age out with
    `vacuum_generations` — erasure becomes durable at the retention
    horizon."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    req = e.filter(F.col("user_id") % 101 == 7).select("user_id").distinct()

    def account(df: DataFrame, name: str, key: str) -> DataFrame:
        keyed = df.withColumnRenamed(key, "user_id") if key != "user_id" else df
        kept = keyed.join(F.broadcast(req), "user_id", "left_anti")
        return (
            df.agg(F.count(F.lit(1)).alias("rows_before"))
            .crossJoin(kept.agg(F.count(F.lit(1)).alias("rows_after")))
            .select(
                F.lit(name).alias("table_name"),
                "rows_before",
                "rows_after",
                (F.col("rows_before") - F.col("rows_after")).alias("rows_erased"),
            )
        )

    return account(e, "events", "user_id").unionByName(
        account(c, "customer", "c_custkey")
    )


# ---------------------------------------------------------------------------
# U5 — differential-privacy noisy counts (the Laplace mechanism). The
# aggregate-release counterpart to U3's k-anonymity: counts leave the
# engine with calibrated Laplace noise (sensitivity 1 / epsilon) added
# via the inverse CDF over a COUNTER-BASED uniform — reproducible
# across engines, partitionings, and reruns, which is what a release
# pipeline needs for auditability (the draw is keyed by release seed +
# group, so re-running the release yields the identical noise, and the
# oracle replays it bit-for-bit). A production deployment would swap
# the PRF for a keyed one and drop the true counts from the output;
# the probe emits both precisely so the hash certifies the mechanism.
# ---------------------------------------------------------------------------

_U5_SEED = 91
_U5_EPSILON = 1.0  # sensitivity-1 counts -> Laplace scale b = 1/epsilon


@probe(
    "u5_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
      FROM events GROUP BY event_type),
    u AS (
      SELECT event_type, n_true,
             ((('0x' || substr(md5('{_U5_SEED}-' || event_type), 1, 8))::UINTEGER + 1)
              / 4294967298.0) AS u
      FROM g),
    n AS (
      SELECT event_type, n_true,
             -(1.0 / {_U5_EPSILON}) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))
               AS noise
      FROM u)
    SELECT event_type, n_true,
           round(noise * 1000000) / 1000000 AS noise,
           round((n_true + noise) * 1000000) / 1000000 AS n_released
    FROM n
    """,
)
def u5_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 — epsilon = {_U5_EPSILON} Laplace mechanism over per-type
    event counts: u = (first-32-bits-of-md5(seed-group) + 1) /
    (2^32 + 2) lies strictly inside (0, 1) (no ln(0) pole), noise =
    -b * sign(u - 1/2) * ln(1 - 2|u - 1/2|) is the exact Laplace
    inverse CDF, and everything is dround-ed so the hash certifies
    the draw law and the release arithmetic across engines. One
    map-side-combined aggregate; the noise is a scalar expression on
    the groups-sized result."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )

    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{_U5_SEED}-"), F.col("event_type"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            + 1
        )
        / F.lit(4294967298.0)
    )
    b = 1.0 / _U5_EPSILON
    noise = (
        F.lit(-b)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        "n_true",
        dround(noise, 6).alias("noise"),
        dround(F.col("n_true") + noise, 6).alias("n_released"),
    )


# ---------------------------------------------------------------------------
# U6 — k-anonymity ENFORCEMENT by generalization (u3 only audits): a
# declared ladder of coarsenings over the quasi-identifier tuple
# (account-balance band -> wider band -> drop band -> drop nation),
# global recoding: publish the FIRST ladder level at which every
# equivalence class reaches k. Everything is one aggregate per level
# (4 metadata-sized frames) + a 1-row broadcast chooser — the table
# itself is scanned once per level and never shuffled beyond the
# class keys.
# ---------------------------------------------------------------------------


@probe(
    "u6_k_anonymity_generalize",
    oracle=f"""
    WITH lv AS (
      SELECT 0 AS level, c_mktsegment AS seg, CAST(c_nationkey AS VARCHAR) AS nat,
             CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR) AS band
      FROM customer
      UNION ALL
      SELECT 1, c_mktsegment, CAST(c_nationkey AS VARCHAR),
             CAST(CAST(floor(c_acctbal / 5000) AS BIGINT) AS VARCHAR)
      FROM customer
      UNION ALL
      SELECT 2, c_mktsegment, CAST(c_nationkey AS VARCHAR), '*' FROM customer
      UNION ALL
      SELECT 3, c_mktsegment, '*', '*' FROM customer),
    classes AS (
      SELECT level, seg, nat, band, CAST(count(*) AS BIGINT) AS n
      FROM lv GROUP BY 1, 2, 3, 4),
    chosen AS (
      SELECT min(level) AS lvl FROM (
        SELECT level, min(n) AS min_n FROM classes GROUP BY level)
      WHERE min_n >= {_K_ANON})
    SELECT level, seg, nat, band, n
    FROM classes, chosen WHERE level = chosen.lvl
    """,
)
def u6_k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 — publish customer quasi-identifier classes at the first
    generalization level where every class holds >= k = {_K_ANON}
    members: level 0 = (segment, nation, $1000 balance band),
    level 1 widens the band to $5000, level 2 drops the band,
    level 3 drops nation (always satisfiable — 5 segment-only
    classes). The level choice is data-dependent and fully
    declarative: per-level min class size -> 1-row broadcast min-level
    gate -> filter the unioned class frames. The oracle replays the
    whole ladder, so the hash certifies the coarsening laws AND that
    the published level is exactly the first safe one."""
    c = load_table(spark, sf_dir, "customer")

    def level(lv: int, band: F.Column | None, nat_star: bool) -> DataFrame:
        return c.select(
            F.lit(lv).alias("level"),
            F.col("c_mktsegment").alias("seg"),
            (
                F.lit("*") if nat_star else F.col("c_nationkey").cast("string")
            ).alias("nat"),
            (F.lit("*") if band is None else band.cast("long").cast("string")).alias(
                "band"
            ),
        )

    lv = (
        level(0, F.floor(F.col("c_acctbal") / 1000), False)
        .unionByName(level(1, F.floor(F.col("c_acctbal") / 5000), False))
        .unionByName(level(2, None, False))
        .unionByName(level(3, None, True))
    )
    classes = lv.groupBy("level", "seg", "nat", "band").agg(
        F.count(F.lit(1)).alias("n")
    )
    chosen = (
        classes.groupBy("level")
        .agg(F.min("n").alias("min_n"))
        .filter(F.col("min_n") >= _K_ANON)
        .agg(F.min("level").alias("lvl"))
    )
    return classes.crossJoin(F.broadcast(chosen)).filter(
        F.col("level") == F.col("lvl")
    ).select("level", "seg", "nat", "band", "n")


#: l-diversity floor: an equivalence class whose sensitive attribute
#: takes fewer than this many distinct values is attack-prone even when
#: it is k-anonymous (homogeneity attack — Machanavajjhala et al.).
_L_DIVERSE = 3


@probe(
    "u7_l_diversity_audit",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS INTEGER))
                AS BIGINT) AS l_distinct,
           count(DISTINCT CAST(floor(c_acctbal / 1000) AS INTEGER))
             >= {_L_DIVERSE} AS diverse
    FROM customer GROUP BY 1, 2
    """,
)
def u7_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the (segment, nation) quasi-identifier:
    u3's k-anonymity check counts class SIZE, but a class where every
    member shares the same sensitive value leaks that value to anyone
    who can place a subject in the class (the homogeneity attack).
    Here the sensitive attribute is the $1000 account-balance band;
    each class reports its distinct-band count and a diversity flag at
    l={_L_DIVERSE}. One partial-aggregable groupBy with a distinct
    aggregate — the same shuffle shape as a10b's count-distinct, so it
    scales identically (two-phase exact distinct on the class key)."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("int")
    return (
        c.groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(band).alias("l_distinct"),
        )
        .withColumn("diverse", F.col("l_distinct") >= _L_DIVERSE)
    )


# ---------------------------------------------------------------------------
# U8 — DP with CONTRIBUTION BOUNDING: u5's Laplace release is only
# epsilon-DP if each user contributes at most one row to the counted
# set; real event streams have power users, so production DP pipelines
# first CLAMP per-user contribution to k rows per partition (bounding
# the sensitivity at k) and then add noise scaled to k/epsilon. The
# probe releases both the unbounded truth and the bounded count so the
# clamping loss is visible, with the same seeded inverse-CDF Laplace
# draw as u5 at the k-scaled width. The clamp is a per-(user, key)
# count capped with LEAST — one extra map-combinable aggregate, never
# a per-user collect.
# ---------------------------------------------------------------------------

_U8_K = 10  # max events a single user may contribute per event_type
_U8_EPSILON = 0.5
_U8_SEED = "u8-v1"


@probe(
    "u8_dp_bounded_contribution",
    oracle=f"""
    WITH per_user AS (
      SELECT event_type, user_id, count(*) AS c
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n_true,
             CAST(sum(least(c, {_U8_K})) AS BIGINT) AS n_bounded
      FROM per_user GROUP BY 1),
    u AS (
      SELECT event_type, n_true, n_bounded,
             ((('0x' || substr(md5('{_U8_SEED}-' || event_type), 1, 8))::UINTEGER + 1)
              / 4294967298.0) AS u
      FROM g),
    n AS (
      SELECT event_type, n_true, n_bounded,
             -({_U8_K} / {_U8_EPSILON}) * sign(u - 0.5)
               * ln(1 - 2 * abs(u - 0.5)) AS noise
      FROM u)
    SELECT event_type, n_true, n_bounded,
           round(noise * 1000000) / 1000000 AS noise,
           round((n_bounded + noise) * 1000000) / 1000000 AS n_released
    FROM n
    """,
)
def u8_dp_bounded_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 — contribution-bounded Laplace release (block comment above):
    per-user counts clamped at k = {_U8_K} per event_type, sensitivity
    therefore k, noise scale k/epsilon with u5's exact seeded
    inverse-CDF draw. The hash certifies the clamp, the k-scaled draw
    law, and the release arithmetic."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    g = per_user.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_true"),
        F.sum(F.least(F.col("c"), F.lit(_U8_K))).cast("long").alias("n_bounded"),
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{_U8_SEED}-"), F.col("event_type"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            + 1
        )
        / F.lit(4294967298.0)
    )
    b = _U8_K / _U8_EPSILON
    noise = (
        F.lit(-b) * F.signum(u - 0.5) * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        "n_true",
        "n_bounded",
        dround(noise, 6).alias("noise"),
        dround(F.col("n_bounded") + noise, 6).alias("n_released"),
    )


# ---------------------------------------------------------------------------
# U9 — right-to-erasure CASCADE audit: u4's sweep handles tables that
# CARRY the subject key directly; u9 is the other half of a real DSR
# job — rows reachable only THROUGH foreign keys. Customers erase
# directly, their orders via o_custkey, their line items via the
# erased orders' keys (two hops: lineitem carries no customer key, so
# u4's single-hop anti-join would strand them — the exact residue this
# audit exists to catch). Scale shape: the deletion cohort and the
# cascaded order-key set are semi-join build sides (cohort-sized, the
# broadcast pattern); each table contributes one semi-join count and
# one total count, all metadata-sized outputs.
# Reference counterpart: none (the reference retains all facts);
# pattern per DSR tooling on lakehouse tables.
# ---------------------------------------------------------------------------


@probe(
    "u9_erasure_cascade",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    del_orders AS (SELECT o_orderkey FROM orders
                   WHERE o_custkey IN (SELECT c_custkey FROM del)),
    t AS (
      SELECT 'customer' AS table_name,
             (SELECT count(*) FROM customer) AS rows_before,
             (SELECT count(*) FROM del) AS rows_erased
      UNION ALL
      SELECT 'orders',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM del_orders)
      UNION ALL
      SELECT 'lineitem',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
    )
    SELECT table_name, CAST(rows_before AS BIGINT) AS rows_before,
           CAST(rows_erased AS BIGINT) AS rows_erased,
           CAST(rows_before - rows_erased AS BIGINT) AS rows_after,
           round(rows_erased / CAST(rows_before AS DOUBLE), 6) AS erased_frac
    FROM t
    """,
)
def u9_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U9 — erasure accounting for the deletion cohort (every 97th
    customer) cascaded customer → orders → lineitem (block comment
    above): per table, rows before, rows the cascade erases, rows
    after, and the erased fraction. The hash certifies the two-hop
    cascade — lineitem's count can only be right if the order-key hop
    resolved — and the arithmetic."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    del_c = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    del_o = o.join(
        F.broadcast(del_c), o.o_custkey == del_c.c_custkey, "semi"
    ).select("o_orderkey")
    del_li = li.join(
        F.broadcast(del_o), li.l_orderkey == del_o.o_orderkey, "semi"
    )
    panels = []
    for name, full, erased in (
        ("customer", c, del_c),
        ("orders", o, del_o),
        ("lineitem", li, del_li),
    ):
        panels.append(
            full.agg(F.count(F.lit(1)).alias("rows_before")).crossJoin(
                F.broadcast(
                    erased.agg(F.count(F.lit(1)).alias("rows_erased"))
                )
            ).select(
                F.lit(name).alias("table_name"),
                "rows_before",
                "rows_erased",
                (F.col("rows_before") - F.col("rows_erased")).alias(
                    "rows_after"
                ),
                dround(
                    F.col("rows_erased")
                    / F.col("rows_before").cast("double"),
                    6,
                ).alias("erased_frac"),
            )
        )
    out = panels[0]
    for p in panels[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# u10 — token referential integrity: the privacy-engineering property
# that makes deterministic tokenization USABLE — tokenizing the same
# PAN in two different relations must preserve joinability (same
# input ⇒ same token, distinct inputs ⇒ distinct tokens), so analysts
# can join on tokens without ever seeing raw PANs. The probe tokenizes
# the customer PAN law in BOTH the customer relation and an
# orders-derived relation (via o_custkey) with the portable FPE
# (u1c's md5-Feistel, fully DuckDB-replayable) and certifies: the
# token join reproduces the raw-key join row-for-row (counts + an
# orderkey checksum), and token cardinality equals key cardinality
# (format-preserving ⇒ injective on the domain). Scale shape: the
# tokenizer is a scan-level projection; the joins are the same
# key-equi-joins the raw data would run — tokenization adds ZERO
# shuffle classes.
# ---------------------------------------------------------------------------


def _u10_oracle() -> str:
    key = "spark-graft-default-test-dek-32B"

    def prf(r: int, v: str) -> str:
        return (
            f"(('0x' || substr(md5('{key}' || '{r}|16|' || CAST({v} AS VARCHAR)), 1, 8))"
            "::UINTEGER)::BIGINT"
        )

    ctes = [
        """r_init AS (
      SELECT k,
             CAST(substring(pan, 1, 8) AS BIGINT) AS a,
             CAST(substring(pan, 9, 8) AS BIGINT) AS b
      FROM pans)"""
    ]
    prev = "r_init"
    for r in range(10):
        if r % 2 == 0:
            upd = f"a, (b + {prf(r, 'a')}) % 100000000 AS b"
        else:
            upd = f"(a + {prf(r, 'b')}) % 100000000 AS a, b"
        ctes.append(f"r{r} AS (SELECT k, {upd} FROM {prev})")
        prev = f"r{r}"
    return f"""
    WITH ks AS (
      SELECT c_custkey AS k FROM customer
      UNION
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 5 = 0),
    pans AS (
      SELECT k, lpad(CAST(4000000000000000 + k AS VARCHAR), 16, '0') AS pan
      FROM ks),
    {', '.join(ctes)},
    tok AS (SELECT k,
                   lpad(CAST(a AS VARCHAR), 8, '0')
                     || lpad(CAST(b AS VARCHAR), 8, '0') AS t
            FROM {prev}),
    c AS (SELECT c_custkey AS k FROM customer),
    o AS (SELECT o_orderkey, o_custkey AS k FROM orders
          WHERE o_orderkey % 5 = 0),
    raw_join AS (SELECT o.o_orderkey FROM c JOIN o USING (k)),
    tok_join AS (
      SELECT o.o_orderkey
      FROM (SELECT tok.t FROM c JOIN tok USING (k)) ct
      JOIN (SELECT o.o_orderkey, tok.t FROM o JOIN tok USING (k)) o
        ON ct.t = o.t)
    SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_cust,
           CAST((SELECT count(*) FROM o) AS BIGINT) AS n_orders,
           CAST((SELECT count(DISTINCT t) FROM tok) AS BIGINT)
             AS n_distinct_tokens,
           CAST((SELECT count(*) FROM ks) AS BIGINT) AS n_distinct_keys,
           CAST((SELECT count(*) FROM raw_join) AS BIGINT) AS n_join_raw,
           CAST((SELECT count(*) FROM tok_join) AS BIGINT) AS n_join_token,
           CAST((SELECT coalesce(sum(o_orderkey), 0) FROM raw_join)
                AS BIGINT) AS raw_checksum,
           CAST((SELECT coalesce(sum(o_orderkey), 0) FROM tok_join)
                AS BIGINT) AS token_checksum
    """


@probe("u10_token_referential_integrity", oracle=_u10_oracle())
def u10_token_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """u10 — deterministic-tokenization join preservation (block
    comment above): tokenize the PAN law independently in customer and
    an orders slice, then certify the token join ≡ the raw-key join
    (counts and orderkey checksums equal) and token cardinality ≡ key
    cardinality. The oracle replays the full portable Feistel on the
    union of keys and both joins."""
    from realtime_financial_transactions_data_pipeline_spark.functions.fpe import (
        TEST_KEY,
        fpe_token_col,
    )

    def pan_of(k: F.Column) -> F.Column:
        return F.lpad(
            (F.lit(4000000000000000) + k).cast("string"), 16, "0"
        )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", F.col("o_custkey").alias("k"))
    )
    ct = c.select(
        "k", fpe_token_col(pan_of(F.col("k")), key=TEST_KEY, portable=True).alias("t")
    )
    ot = o.select(
        "o_orderkey",
        "k",
        fpe_token_col(pan_of(F.col("k")), key=TEST_KEY, portable=True).alias("t"),
    )
    ks = c.select("k").union(o.select("k")).distinct()
    # ONE lazy plan, zero driver actions (r17 optimization): the old
    # shape ran SIX sequential jobs (four scalar counts + two joined
    # aggregates collected to the driver) — per-job scheduling, not
    # data, dominated its 4.5 s at sf0.1. Each aggregate is a 1-row
    # frame; chaining them through crossJoin is the repo's standard
    # broadcast scalar attach, so the whole panel evaluates as one job
    # with all six branches scheduled together (measured 1.5 s min).
    stats = (
        c.agg(F.count(F.lit(1)).alias("n_cust"))
        .crossJoin(o.agg(F.count(F.lit(1)).alias("n_orders")))
        .crossJoin(
            ks.select(
                fpe_token_col(
                    pan_of(F.col("k")), key=TEST_KEY, portable=True
                ).alias("t")
            )
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_distinct_tokens"))
        )
        .crossJoin(ks.agg(F.count(F.lit(1)).alias("n_distinct_keys")))
        .crossJoin(
            c.join(o, "k").agg(
                F.count(F.lit(1)).alias("n_join_raw"),
                F.coalesce(F.sum("o_orderkey"), F.lit(0)).alias("raw_checksum"),
            )
        )
        .crossJoin(
            ct.select("t")
            .join(ot, "t")
            .agg(
                F.count(F.lit(1)).alias("n_join_token"),
                F.coalesce(F.sum("o_orderkey"), F.lit(0)).alias(
                    "token_checksum"
                ),
            )
        )
    )
    return stats.select(
        "n_cust",
        "n_orders",
        "n_distinct_tokens",
        "n_distinct_keys",
        "n_join_raw",
        "n_join_token",
        "raw_checksum",
        "token_checksum",
    )
