"""Deduplication operators (north-star X1/X2): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design notes (each operator's shuffle is keyed so no partition
grows with corpus size squared):

- Exact dedup hashes the content column and groups on the digest — one
  shuffle keyed by digest; at 100 TB the 16-byte hashes shuffle, never
  the payloads.
- n-gram Jaccard (x2b) is an **inverted-index similarity join** (the
  sparse exact algorithm behind AllPairs, Bayardo et al., WWW 2007):
  explode word shingles → self-join keyed by the shingle → count common
  shingles per pair → Jaccard from set sizes. Work is Σ_g df(g)², which
  stays linear as long as shingle document-frequency is bounded — word
  3-grams keep max df tiny (25 at sf0.1, 1.3 M pair-occurrences vs the
  12.5 M all-pairs space), and a df cap drops degenerate stop-shingles
  at bigger scale. No O(N²) block self-join anywhere.
- MinHash+LSH (x2a, Broder 1997 + banding) buckets 48 minhashes into
  12 bands of 4; only same-bucket pairs join, buckets over a hard size
  cap are dropped (hot-bucket guard), and candidates are verified with
  exact Jaccard. All hashing is JVM-side ``xxhash64`` inside
  whole-stage codegen — no Python.
- SimHash (x2d, Charikar, STOC 2002) hashes tokens JVM-side and only
  does the bit-majority in an Arrow-batched pandas UDF (numpy,
  vectorized over the whole batch). Near-dup blocking uses Manku
  block combinations (WWW 2007): C(8,2) = 28 tables keyed by 16-bit
  block pairs — pigeonhole-complete for Hamming ≤ 6 (at most 6 of 8
  blocks can differ, so 2 survive jointly) with 65 536-value keys, so
  buckets stay tiny and the pair work stays sub-quadratic.

Word-level 3-gram shingles (not char 3-grams) are used for both x2a and
x2b: on natural text char-trigrams are near-universal and bucket half
the corpus together, while word shingles separate true near-duplicates
(Jaccard ≥ 0.9 for the planted pairs) from unrelated docs (< 0.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround
from realtime_financial_transactions_data_pipeline_spark.registry import probe
from realtime_financial_transactions_data_pipeline_spark.tables import load_table

# ---------------------------------------------------------------------------
# X1 — exact dedup
# ---------------------------------------------------------------------------


@probe(
    "x1_dedup_exact",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_rows
    FROM documents
    """,
)
def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via digest (hash-groupBy). The digest — not the
    payload — is the shuffle key, so 100 TB of text shuffles 16-byte keys."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_dup_rows"),
    )


@probe(
    "x1b_dedup_dropduplicates",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_pairs FROM
      (SELECT DISTINCT user_id, event_type FROM events)
    """,
)
def x1b_dedup_dropduplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a key subset (the reference's seen-ids set,
    generate_dim_account_data.py:69-70). Count is deterministic even
    though the representative row is not."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.dropDuplicates(["user_id", "event_type"])
        .agg(F.count(F.lit(1)).alias("n_distinct_pairs"))
    )


@probe(
    "x1c_incremental_dedup",
    oracle="""
    WITH prior AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 = 0),
    batch AS (
      SELECT lang, md5(text) AS h FROM documents WHERE doc_id % 4 <> 0)
    -- LEFT JOIN, not NOT IN: a NULL text would make md5 NULL, and NOT
    -- IN's three-valued logic would drop that row from n_new while the
    -- Spark left join counts it (round-5 ADVICE). The join mirrors the
    -- Spark plan: NULL digests never match, so they land in n_new.
    SELECT b.lang,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(*) FILTER (WHERE p.h IS NULL) AS BIGINT) AS n_new,
           CAST(count(p.h) AS BIGINT) AS n_already_ingested
    FROM batch b LEFT JOIN prior p ON b.h = p.h
    GROUP BY b.lang
    """,
)
def x1c_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the weekly-crawl workflow: drop new
    documents whose content digest already exists in the prior corpus
    snapshot (docs with ``doc_id % 4 == 0`` stand in for it). The prior
    side is reduced to DISTINCT 16-byte digests before the join; here
    it broadcasts, and at 100-TB-prior scale the same plan degrades
    gracefully to a digest-keyed shuffle join — or a Bloom-filter
    prefilter (~10 bits/digest) when only approximate early pruning is
    needed before the exact join. Payloads never move either way."""
    d = load_table(spark, sf_dir, "documents")
    prior = (
        d.filter(F.col("doc_id") % 4 == 0).select(F.md5("text").alias("h")).distinct()
    )
    batch = d.filter(F.col("doc_id") % 4 != 0).select(
        "lang", F.md5("text").alias("h")
    )
    tagged = batch.join(
        F.broadcast(prior.withColumn("_seen", F.lit(1))), "h", "left"
    )
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count(F.when(F.col("_seen").isNull(), 1)).alias("n_new"),
        F.count("_seen").alias("n_already_ingested"),
    )


_BLOOM_M = 1 << 14  # bits (positions); ~10 bits per prior element here
_BLOOM_K = 5  # hash functions


def _bloom_positions_sql(h_col: str) -> str:
    """SQL text of the k Bloom bit positions of a digest (see
    :func:`_bloom_positions`) — exposed so :func:`bloom_maybe_seen`
    can embed the identical law inside a larger expression."""
    return (
        f"transform(sequence(0, {_BLOOM_K - 1}), s -> "
        f"pmod(CAST(conv(substr(md5(concat({h_col}, ':', CAST(s AS STRING))), 1, 8),"
        f" 16, 10) AS BIGINT), {_BLOOM_M}))"
    )


def _bloom_positions(h_col: str) -> F.Column:
    """The k Bloom bit positions of a digest, ENGINE-PORTABLE: position
    s = first-8-hex-chars of md5(digest || ':' || s) mod _BLOOM_M. Both
    Spark (conv(...,16,10)) and DuckDB (CAST('0x'||... AS BIGINT))
    compute the identical unsigned 32-bit value, so the oracle replays
    the exact bit pattern — collisions and all (the u1c portable-PRF
    pattern applied to membership filtering)."""
    return F.expr(_bloom_positions_sql(h_col))


#: Shared by x1d (position-relation filter) and x1db (packed long[]
#: bitmap): the two variants are semantically identical BY CONSTRUCTION
#: — same position law, same collisions — so one oracle certifies both.
_X1D_ORACLE = f"""
    WITH prior AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 = 0),
    seeds AS (SELECT unnest(range(0, {_BLOOM_K})) AS s),
    bits AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(h || ':' || CAST(s AS VARCHAR)), 1, 8))
               AS BIGINT) % {_BLOOM_M} AS pos
      FROM prior, seeds),
    batch AS (
      SELECT doc_id, lang, md5(text) AS h FROM documents WHERE doc_id % 4 <> 0),
    bp AS (
      SELECT doc_id, lang, h,
             CAST(('0x' || substr(md5(h || ':' || CAST(s AS VARCHAR)), 1, 8))
               AS BIGINT) % {_BLOOM_M} AS pos
      FROM batch, seeds),
    hits AS (
      SELECT bp.doc_id, bp.lang, bp.h, count(bits.pos) AS nhit
      FROM bp LEFT JOIN bits ON bp.pos = bits.pos
      GROUP BY bp.doc_id, bp.lang, bp.h)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(CASE WHEN nhit = {_BLOOM_K} THEN 1 END) AS BIGINT)
             AS n_maybe_seen,
           CAST(count(p.h) AS BIGINT) AS n_truly_seen,
           CAST(count(CASE WHEN nhit = {_BLOOM_K} AND p.h IS NULL THEN 1 END)
             AS BIGINT) AS n_false_positive
    FROM hits LEFT JOIN prior p ON hits.h = p.h
    GROUP BY lang
    """


@probe("x1d_bloom_prefilter", oracle=_X1D_ORACLE)
def x1d_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup prefilter — the approximate early-pruning
    path x1c's docstring names for 100-TB-prior scale, built portably:
    the prior snapshot's digests set k = 5 md5-derived bit positions
    in an m = 16384-bit filter; the incoming batch is classified
    maybe-seen (all k positions set) vs definitely-new, and the exact
    digest join over the SAME batch exposes the filter's true/false
    positives. The filter here is a DISTINCT position relation (tiny,
    broadcast); the production variant folding the positions into a
    long[] bitmap with the identical position law is ``x1db`` below —
    the semantics, including every collision, are what the shared
    oracle replays bit-for-bit against BOTH representations. Bloom
    guarantees certified by the hash: zero false NEGATIVES (every truly
    seen doc is maybe-seen) and a deterministic false-positive count.
    At 100 TB: the bitmap broadcasts (m bits ~ MBs) while the exact
    join it prunes would shuffle the full digest set; definitely-new
    docs (the vast majority of a crawl) skip that shuffle entirely."""
    d = load_table(spark, sf_dir, "documents")
    prior = (
        d.filter(F.col("doc_id") % 4 == 0).select(F.md5("text").alias("h")).distinct()
    )
    bits = (
        prior.select(F.explode(_bloom_positions("h")).alias("pos")).distinct()
    )
    batch = d.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    hits = (
        batch.withColumn("pos", F.explode(_bloom_positions("h")))
        .join(F.broadcast(bits.withColumn("_hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "lang", "h")
        .agg(F.count("_hit").alias("nhit"))
    )
    return (
        hits.join(F.broadcast(prior.withColumn("_seen", F.lit(1))), "h", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.count(F.when(F.col("nhit") == _BLOOM_K, 1)).alias("n_maybe_seen"),
            F.count("_seen").alias("n_truly_seen"),
            F.count(
                F.when((F.col("nhit") == _BLOOM_K) & F.col("_seen").isNull(), 1)
            ).alias("n_false_positive"),
        )
    )


def bloom_bitmap_longs(prior: DataFrame, h_col: str = "h") -> list[int]:
    """The production packing x1d's docstring promises: fold the prior
    digests' Bloom positions into an m-bit bitmap stored as m/64
    longs. The bit law is ``word = pos >> 6, bit = pos & 63`` over the
    SAME portable position law as the relation variant, so membership
    — including every collision-induced false positive — is
    bit-identical (pinned by test_bloom_bitmap_equivalence and the
    x1db probe's shared oracle). The pack is a groupBy(word) bit_or —
    map-side-combined, 256 result rows for m = 16384 — and the
    collect is bounded by m/64, a constant, never by prior volume.
    At 100 TB the same plan holds: the position explode and bit_or
    shrink the prior to m/64 rows executor-side; only the packed
    words reach the driver for broadcast."""
    words = (
        prior.select(F.explode(_bloom_positions(h_col)).alias("pos"))
        .groupBy((F.col("pos") / 64).cast("long").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT)))"
            ).alias("bits")
        )
    )
    bmp = [0] * (_BLOOM_M // 64)
    for r in words.collect():
        bmp[int(r.w)] = int(r.bits)
    return bmp


def bloom_maybe_seen(bitmap: list[int], h_col: str) -> F.Column:
    """Boolean column: all k of the digest's Bloom bits are set in the
    packed bitmap. The bitmap rides the plan as a 256-long array
    literal (2 KiB — shipped with the task closure, no join at all),
    and the test is pure codegen'd long arithmetic: element_at + `&` +
    shiftleft per position."""
    arr = "array(" + ",".join(f"{v}L" for v in bitmap) + ")"
    return F.expr(
        f"forall({_bloom_positions_sql(h_col)}, p -> "
        f"(element_at({arr}, CAST(p DIV 64 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))) != 0)"
    )


@probe("x1db_bloom_bitmap", oracle=_X1D_ORACLE)
def x1db_bloom_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1db — x1d's classification through the PRODUCTION filter
    representation: the prior's positions pack into a 256-long bitmap
    (``bloom_bitmap_longs``) and the batch classifies via pure long
    arithmetic (``bloom_maybe_seen``) instead of a position-relation
    join. Shares x1d's oracle verbatim: the bitmap is a re-encoding of
    the identical bit set, so every count — including the
    collision-driven false positives — must hash-match the relation
    variant. The shape 100 TB wants: the filter is 2 KiB of literals
    in the task closure; definitely-new docs never touch a shuffle."""
    d = load_table(spark, sf_dir, "documents")
    prior = (
        d.filter(F.col("doc_id") % 4 == 0).select(F.md5("text").alias("h")).distinct()
    )
    bmp = bloom_bitmap_longs(prior)
    batch = d.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    flagged = batch.withColumn("maybe", bloom_maybe_seen(bmp, "h"))
    return (
        flagged.join(F.broadcast(prior.withColumn("_seen", F.lit(1))), "h", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.count(F.when(F.col("maybe"), 1)).alias("n_maybe_seen"),
            F.count("_seen").alias("n_truly_seen"),
            F.count(
                F.when(F.col("maybe") & F.col("_seen").isNull(), 1)
            ).alias("n_false_positive"),
        )
    )


# ---------------------------------------------------------------------------
# X2 — near-duplicate detection
# ---------------------------------------------------------------------------

_SHINGLE_WORDS = 3  # word shingles
_N_HASHES = 48
_BAND_ROWS = 4  # 12 bands × 4 rows: P(cand | J=0.9) ≈ 1 - 3e-6
_BUCKET_CAP = 200  # hot-bucket guard: drop LSH buckets larger than this
_NEARDUP_T = 0.6  # verify threshold; planted dups sit at J ≥ 0.9

#: DuckDB-side twin of :func:`word_shingles` (same slicing/clamping
#: semantics as Spark's ``slice``; both clamp short tails).
_ORACLE_SHINGLES = """
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> array_to_string(
                      string_split(text, ' ')[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)],
                      ' '))) AS grams
      FROM documents
"""

#: MinHash-LSH probe verify threshold. Deliberately ABOVE x2b's 0.6:
#: 12-band/4-row banding recall per pair is ~81 % at J = 0.6 but
#: 1 - 2.7e-6 at J ≥ 0.9 — the planted-dup regime (measured corpus: no
#: pairs in [0.6, 0.8) at sf0.01/sf0.1) — so x2a's exact-equality
#: oracle is robust to new fixtures rather than passing by luck.
#: x2b (exact algorithm) keeps the 0.6 oracle.
_LSH_VERIFY_T = 0.9


def _oracle_neardup(threshold: float) -> str:
    """Exact all-pairs near-dup oracle — DuckDB only runs this at
    sf0.01 (~500 docs); the Spark plans below compute the same result
    without ever materializing the quadratic pair space."""
    return f"""
    WITH sh AS ({_ORACLE_SHINGLES})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4)
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
          >= {threshold}
"""


_ORACLE_NEARDUP = _oracle_neardup(_NEARDUP_T)


def word_shingles(col: str, k: int = _SHINGLE_WORDS) -> F.Column:
    """Distinct word k-grams as an array column, JVM-side. Docs shorter
    than k words yield their whole text as a single shingle."""
    words = f"split({col}, ' ')"
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size({words}) - {k - 1}, 1)),"
            f" i -> concat_ws(' ', slice({words}, i, {k})))"
        )
    )


def _corpus_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, grams, n) word-shingle frame over `documents`
    — the one expensive text pass both x2a and x2b start from; computed
    once per (app, sf_dir) and reused across the suite."""
    from realtime_financial_transactions_data_pipeline_spark.caching import memo_persist

    def build() -> DataFrame:
        from realtime_financial_transactions_data_pipeline_spark.tables import (
            widen_scan,
        )

        # widen_scan (r18): the single-file documents scan is ONE task;
        # without it the shingle pass — and every downstream map pass
        # over this cached frame (x2a banding, x2ac's 16× md5
        # signatures, x16, x40) — runs serial on any core count.
        d = widen_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        return d.select("doc_id", word_shingles("text").alias("grams")).withColumn(
            "n", F.size("grams")
        )

    return memo_persist(spark, ("corpus_grams", sf_dir), build)


def _corpus_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, simhash) portable-fingerprint frame — the
    pandas-UDF pass both x2d and x2i start from."""
    from realtime_financial_transactions_data_pipeline_spark.caching import memo_persist

    def build() -> DataFrame:
        from realtime_financial_transactions_data_pipeline_spark.tables import (
            widen_scan,
        )

        d = widen_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        return d.select("doc_id", simhash_col("text", portable=True).alias("simhash"))

    return memo_persist(spark, ("corpus_simhash", sf_dir), build)


def _pair_intersection_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    sized: DataFrame | None = None,
) -> DataFrame:
    """Shared inverted-index core of the exact set-similarity joins
    (x2b Jaccard, x24 containment): (id_a, id_b, n_a, n_b, c) per
    unordered candidate pair, where c = |grams_a ∩ grams_b|. One
    shuffle keyed by shingle, one by pair; pairs generate INSIDE each
    posting list, so df=1 shingles (the vast majority) never reach a
    join."""
    if sized is None:
        sized = docs.select(
            F.col(id_col).alias("_id"), word_shingles(text_col).alias("grams")
        ).withColumn("n", F.size("grams"))
    else:
        sized = sized.select(F.col(id_col).alias("_id"), "grams", "n")
    posting = sized.select("_id", "n", F.explode("grams").alias("gram"))
    by_gram = posting.groupBy("gram").agg(
        F.array_sort(F.collect_list(F.struct("_id", "n"))).alias("ids")
    )
    cap = F.lit(max_df) if max_df is not None else F.size("ids")
    bounded = by_gram.filter((F.size("ids") >= 2) & (F.size("ids") <= cap))
    pair_gen = (
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), b -> "
        "struct(a._id AS id_a, b._id AS id_b, a.n AS n_a, b.n AS n_b))))"
    )
    return (
        bounded.select(F.explode(F.expr(pair_gen)).alias("p"))
        .select("p.*")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def jaccard_pairs_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = _NEARDUP_T,
    max_df: int | None = None,
    sized: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity join via an inverted index (AllPairs
    family). One shuffle keyed by shingle, one by pair; per-shingle work
    is df(g)², so feed ``max_df`` at open-web scale to drop degenerate
    stop-shingles. With a cap set the score becomes a LOWER BOUND:
    capped shingles are excluded from the intersection count while the
    set sizes n_a/n_b stay full, so a pair that also shares capped
    shingles scores below its true Jaccard and can fall under the
    threshold (false negatives near the cut — acceptable for dedup,
    where stop-shingle-only overlap is noise; leave ``max_df=None`` for
    the exact result). ``sized`` optionally supplies a pre-shingled
    (id, grams, n) frame (id column named ``id_col``) so callers can
    share one shingling pass across operators."""
    inter = _pair_intersection_counts(
        docs, id_col, text_col, max_df=max_df, sized=sized
    )
    return _jaccard_from_counts(inter, threshold)


def _jaccard_from_counts(inter: DataFrame, threshold: float) -> DataFrame:
    jac = F.col("c").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("c")).cast("double")
    return (
        inter.withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= threshold)
        .select("id_a", "id_b", dround("jaccard_raw", 4).alias("jaccard"))
    )


def _memo_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized corpus-wide pair-intersection frame — the Σ df(g)²
    posting-list pass both exact set-similarity probes (x2b Jaccard,
    x24 containment) score from; computed once per (app, sf_dir)
    instead of once per probe (review finding: the unmemoized form ran
    the family's dominant cost twice per suite)."""
    from realtime_financial_transactions_data_pipeline_spark.caching import memo_persist

    return memo_persist(
        spark,
        ("pair_counts", sf_dir),
        lambda: _pair_intersection_counts(
            None, sized=_corpus_grams(spark, sf_dir)
        ),
    )


@probe("x2b_ngram_jaccard", oracle=_ORACLE_NEARDUP)
def x2b_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup join over the whole corpus —
    inverted-index algorithm, identical output to the all-pairs oracle
    with no quadratic join anywhere; scores the memoized shared
    intersection frame."""
    return _jaccard_from_counts(_memo_pair_counts(spark, sf_dir), _NEARDUP_T)


#: x24 containment threshold: a pair reports when either doc's shingle
#: set is >= 70 % covered by the other — the asymmetric regime
#: (quotation, partial copy, doc-inside-doc) that symmetric Jaccard
#: scores below its threshold whenever the containing doc is large.
_CONTAIN_T = 0.7


@probe(
    "x24_containment_pairs",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.grams, b.grams)) AS c,
                 len(a.grams) AS n_a, len(b.grams) AS n_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           CAST(c AS BIGINT) AS n_common,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(CAST(c AS DOUBLE) / n_a, 4) AS containment_a_in_b,
           round(CAST(c AS DOUBLE) / n_b, 4) AS containment_b_in_a,
           CASE WHEN CAST(c AS DOUBLE) / n_a >= CAST(c AS DOUBLE) / n_b
                THEN id_a ELSE id_b END AS contained_doc
    FROM p
    WHERE greatest(CAST(c AS DOUBLE) / n_a, CAST(c AS DOUBLE) / n_b)
          >= {_CONTAIN_T}
    """,
)
def x24_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x24 — exact shingle CONTAINMENT join (Broder's containment
    coefficient |A∩B|/|A|): the asymmetric near-dup detector for
    sub-document duplication — a short doc quoted inside a long one
    sits far below any Jaccard threshold (the union is dominated by
    the long doc) but at containment ~1. Same inverted-index core as
    x2b (shared `_pair_intersection_counts`: one shingle-keyed shuffle,
    one pair-keyed, df=1 shingles never join), so the corpus-scale
    posture is identical; only the scoring changes. Reports both
    directions plus which doc is the contained one (ties to the
    smaller id, matching the oracle's CASE)."""
    inter = _memo_pair_counts(spark, sf_dir)
    ca = F.col("c").cast("double") / F.col("n_a")
    cb = F.col("c").cast("double") / F.col("n_b")
    return (
        inter.filter(F.greatest(ca, cb) >= _CONTAIN_T)
        .select(
            "id_a",
            "id_b",
            F.col("c").alias("n_common"),
            "n_a",
            "n_b",
            dround(ca, 4).alias("containment_a_in_b"),
            dround(cb, 4).alias("containment_b_in_a"),
            F.when(ca >= cb, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_doc"),
        )
    )


#: x25 span-detection granularity: a cross-doc exact repeat must be at
#: least this many tokens long to register (Lee et al., "Deduplicating
#: Training Data Makes Language Models Better", ACL 2022, use 50 BPE
#: tokens on open-web corpora; 5 fits the short synthetic docs while
#: exercising the identical merge arithmetic).
_SPAN_K = 5


@probe(
    "x25_repeated_substring_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, t.i AS pos,
             array_to_string(
               w[CAST(t.i + 1 AS INTEGER):CAST(t.i + {_SPAN_K} AS INTEGER)],
               ' ') AS gram
      FROM toks, UNNEST(range(len(w) - {_SPAN_K} + 1)) AS t(i)
      WHERE len(w) >= {_SPAN_K}),
    rep AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2),
    hit AS (
      SELECT g.doc_id, g.pos, g.pos + {_SPAN_K} - 1 AS e
      FROM grams g JOIN rep USING (gram)),
    flagged AS (
      SELECT doc_id, pos, e,
             CASE WHEN max(e) OVER w IS NULL
                    OR pos > max(e) OVER w + 1
                  THEN 1 ELSE 0 END AS is_new
      FROM hit
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    spans AS (
      SELECT doc_id, island, min(pos) AS s, max(e) AS e
      FROM (SELECT doc_id, pos, e,
                   sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS island
            FROM flagged)
      GROUP BY doc_id, island),
    panel AS (
      SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS rep_toks
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS doc_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.rep_toks, 0) AS BIGINT) AS repeated_tokens,
           round(CAST(coalesce(p.rep_toks, 0) AS DOUBLE)
                 / len(string_split(d.text, ' ')), 4) AS repeated_frac
    FROM documents d LEFT JOIN panel p USING (doc_id)
    """,
)
def x25_repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25 — EXACT cross-document repeated-substring spans, the
    span-level (not doc-level) dedup accounting of Lee et al. (ACL
    2022): for every doc, every maximal token span whose length-K
    windows ALL appear in at least one other document, plus the
    per-doc repeated-token fraction a curation gate thresholds on.
    Suffix arrays don't distribute; the Spark-first equivalent is a
    posting-list pass — explode K-token windows with their start
    positions, keep windows whose document frequency is >= 2
    (groupBy(gram) + left-semi join back), and merge each doc's
    surviving window intervals [pos, pos+K-1] into maximal spans with
    one interval-union window pass (running max(e) over preceding
    rows -> island ids). Detects exactly the spans whose every
    K-window repeats elsewhere — the same guarantee a suffix array
    gives for repeats of length >= 2K-1, without ever materializing a
    pair: unlike x2b/x24 there is no Σ df(g)² term AT ALL, so the
    shuffle is linear in corpus token count. At 100 TB: grams shuffle
    as xxhash64 digests — (h, doc_id, pos) fixed-width rows in ONE
    shuffle, the 44-char strings never leave the map side — and
    "repeated across docs" is min(doc_id) != max(doc_id) over the
    digest partition: one window, no groupBy+semi-join, no second
    shingle pass (the naive two-pass string-keyed form measured
    87 s / 466 MB at 10x vs ~12 s / ~270 MB for this shape). A 64-bit
    collision needs two DIFFERENT grams in different docs sharing a
    hash and can only spuriously MERGE coverage, never split it
    (~n²/2^65 ≈ 2e-5 at 25 M grams, zero observed — the sf0.01
    oracle replays the STRING-keyed law every round and would
    hash-mismatch on any collision); at open-web gram counts widen
    to a 128-bit digest the way x1 does. The island window
    partitions by doc_id, so no executor ever holds more than one
    document's positions."""
    from realtime_financial_transactions_data_pipeline_spark.tables import widen_scan

    # widen_scan (r18): the window-digest transform is scan-adjacent
    # dominant compute; the single-file scan ran it on one task.
    d = widen_scan(load_table(spark, sf_dir, "documents"))
    return repeated_spans_panel(d)


def merge_covered_spans(hit: DataFrame) -> DataFrame:
    """Interval-union span merge over a (doc_id, pos, e) hit frame —
    THE law x25 (repeated spans), x26 (decontamination removal), and
    o11's islands share: sort each doc's hits by pos, open a new
    island when pos exceeds the running max(e) by more than 1
    (touching-or-overlapping coverage fuses; a >=1-token clean gap
    splits), and collapse islands to (doc_id, s, e) spans. One
    doc-keyed window pass; extracted so the hypothesis property test
    drives every consumer's copy, not just x25's."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hit.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_e").isNull() | (F.col("pos") > F.col("prev_e") + 1), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("is_new").over(w_run))
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("e").alias("e"))
    )


def repeated_spans_panel(d: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """x25's core over any (doc_id, text) frame — exposed so property
    tests can drive it with constructed corpora (hypothesis generates
    token lists, a pure-Python interval union is the reference)."""
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    grams = (
        toks.filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.expr(
                f"explode(transform(sequence(0, size(w) - {k}),"
                f" i -> struct(i AS pos,"
                f" xxhash64(concat_ws(' ', slice(w, i + 1, {k}))) AS h)))"
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    w_g = Window.partitionBy("h")
    hit = (
        grams.withColumn("_mn", F.min("doc_id").over(w_g))
        .withColumn("_mx", F.max("doc_id").over(w_g))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "pos", (F.col("pos") + k - 1).alias("e"))
    )
    spans = merge_covered_spans(hit)
    panel = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + F.lit(1)).alias("repeated_tokens"),
    )
    return (
        d.select(
            "doc_id", F.size(F.split("text", " ")).cast("long").alias("doc_tokens")
        )
        .join(panel, "doc_id", "left")
        .select(
            "doc_id",
            "doc_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("repeated_tokens", F.lit(0))
            .cast("long")
            .alias("repeated_tokens"),
            dround(
                F.coalesce("repeated_tokens", F.lit(0)).cast("double")
                / F.col("doc_tokens"),
                4,
            ).alias("repeated_frac"),
        )
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    grams_col: str | None = None,
    digest_col: str | None = None,
) -> DataFrame:
    """Append `sig` (array<bigint>, length _N_HASHES): per-seed min of
    xxhash64 over the word-shingle set. Pure built-ins → codegen'd.
    Pass ``grams_col`` when the shingle array is already materialized
    (x2a shares one persisted shingling pass between the signature and
    the exact-Jaccard verify instead of re-shingling per consumer).
    Pass ``digest_col`` to ALSO keep the per-gram ``xxhash64`` digest
    array (array<bigint>) under that name — it is computed here anyway
    as the signature's first hashing pass, and a consumer that carries
    digests instead of gram strings (x2n's index state) gets its
    fixed-width verify payload for free."""
    if grams_col is None:
        df = df.withColumn("_shingles", word_shingles(text_col))
        src = "_shingles"
    else:
        src = grams_col
    # Hash each shingle STRING once; the per-seed family re-hashes the
    # resulting 8-byte long (fixed-width input), so the 48 passes cost
    # 48 × |grams| long-hashes instead of 48 full string scans. The
    # seed loop lives INSIDE one nested lambda (seed = the sequence
    # element, fed to xxhash64 as its second input — value-identical to
    # the literal-seed form) rather than as 48 sibling expressions:
    # per-plan Catalyst analysis cost collapses ~48×, which matters in
    # foreachBatch consumers (x2n) where every micro-batch re-analyzes
    # the plan.
    df = df.withColumn("_hg", F.expr(f"transform({src}, s -> xxhash64(s))"))
    tmp = ["_hg"] if grams_col is not None else ["_hg", "_shingles"]
    out = df.withColumn(
        "sig",
        F.expr(
            f"transform(sequence(0, {_N_HASHES - 1}),"
            f" i -> array_min(transform(_hg, v -> xxhash64(v, i))))"
        ),
    )
    if digest_col is not None:
        return out.withColumn(digest_col, F.col("_hg")).drop(*tmp)
    return out.drop(*tmp)


def banded_keys(sigs: DataFrame, id_col: str) -> DataFrame:
    """Explode each row's signature into its LSH band keys: one row per
    (``_id``, band_id, band_hash). Shared by ``lsh_candidate_pairs``
    (pair generation) and the x2n streaming index (band-partitioned
    state layout + probe-side pruning) so both sides of an index probe
    compute byte-identical bucket keys."""
    n_bands = _N_HASHES // _BAND_ROWS
    return sigs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.hash(F.slice("sig", b * _BAND_ROWS + 1, _BAND_ROWS)).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bucket_cap: int = _BUCKET_CAP
) -> DataFrame:
    """Band the signature and pair up ids *within* each (band_id,
    band_hash) bucket. Returns distinct candidate (id_a, id_b) with
    id_a < id_b. One shuffle (groupBy the bucket key) — singleton
    buckets vanish in the aggregate, and buckets larger than
    ``bucket_cap`` are dropped outright so one hot bucket can never go
    quadratic (near-dup clusters are small; a mega-bucket is a
    hash-collision pathology, not signal)."""
    banded = banded_keys(sigs, id_col)
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= bucket_cap))
    )
    pair_gen = (
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), b -> "
        "struct(a AS id_a, b AS id_b))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_gen)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


@probe("x2a_minhash_lsh_neardup", oracle=_oracle_neardup(_LSH_VERIFY_T))
def x2a_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline: word shingles → 48 minhashes →
    12-band bucketing (+ hot-bucket cap) → candidate equi-join → exact
    Jaccard verify ≥ 0.9 (see ``_LSH_VERIFY_T`` for why the probe
    verifies in the planted-dup regime rather than at x2b's 0.6). The
    exact verify makes false positives impossible; at J ≥ 0.9 banding
    recall is ≈ 1 - 2.7e-6 per pair, so the output matches the exact
    all-pairs oracle. Properties (planted near-dups found, parity with
    x2b) are unit-tested in tests/test_dedup.py."""
    grams = _corpus_grams(spark, sf_dir)
    sigs = minhash_signature(grams, grams_col="grams").select("doc_id", "sig")
    # Materialize the candidate pairs once (they feed BOTH the id
    # prune and the verify join), then SEMI-JOIN the corpus down to
    # candidate ids BEFORE the verify join ships any gram array.
    # Pre-r12 this joined cands against the FULL corpus: past the
    # broadcast threshold both gram sides shuffled whole (the 73.7×
    # shuffle blow-up at the 10× smoke, PLANS.md). Candidate ids are
    # O(near-dup pairs) — linear in planted dups, tiny vs corpus — so
    # broadcasting the id set keeps the gram shuffle proportional to
    # CANDIDATES at any corpus size. When even the candidate-id set
    # exceeds broadcast (adversarially duplicated corpora), the
    # documented 100 TB route is x2n's band-partitioned incremental
    # index, not this batch probe (PLANS.md §scale-smoke).
    cands = lsh_candidate_pairs(sigs, "doc_id").localCheckpoint(eager=False)
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    cand_grams = grams.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    docs_a = cand_grams.select(
        F.col("doc_id").alias("id_a"), F.col("grams").alias("sh_a"), F.col("n").alias("n_a")
    )
    docs_b = cand_grams.select(
        F.col("doc_id").alias("id_b"), F.col("grams").alias("sh_b"), F.col("n").alias("n_b")
    )
    return (
        cands.join(docs_a, "id_a")
        .join(docs_b, "id_b")
        .withColumn("c", F.size(F.array_intersect("sh_a", "sh_b")).cast("double"))
        .withColumn(
            "jaccard_raw",
            F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")).cast("double"),
        )
        .filter(F.col("jaccard_raw") >= _LSH_VERIFY_T)
        .select("id_a", "id_b", dround("jaccard_raw", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash (pandas-UDF path — the Arrow-batched custom-operator pattern)
# ---------------------------------------------------------------------------

_SIMHASH_BLOCKS = 8  # 64 bits split into 8 blocks of 8 bits
_SIMHASH_MAX_HAMMING = 6
_SIMHASH_BUCKET_CAP = 200  # same hot-bucket guard as the minhash LSH path


@F.pandas_udf(T.LongType())
def simhash_from_hashes(token_hashes: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Bit-majority SimHash over pre-hashed tokens. Token hashing runs
    JVM-side (xxhash64 in codegen); Python does only the bit-majority,
    vectorized across the WHOLE Arrow batch: all rows' hashes are
    flattened into one array, per-row bit sums come from
    ``np.add.reduceat`` over the row offsets — no per-row Python loop
    (the per-row variant cost ~3 s at 5 k docs; this runs in ~0.1 s)."""
    shifts = np.arange(64, dtype=np.uint64)

    for batch in token_hashes:
        vals = batch.to_numpy(dtype=object)
        lens = np.array(
            [len(v) if v is not None else 0 for v in vals], dtype=np.int64
        )
        out = np.zeros(len(vals), dtype=np.uint64)
        nonempty = lens > 0
        if nonempty.any():
            flat = np.concatenate(
                [np.asarray(v, dtype=np.int64) for v in vals[nonempty]]
            ).astype(np.uint64)
            starts = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
            ones = np.add.reduceat(bits, starts, axis=0).astype(np.int64)
            majority = (ones * 2 > lens[nonempty, None]).astype(np.uint64)
            out[nonempty] = (majority << shifts).sum(axis=1, dtype=np.uint64)
        signed = out.view(np.int64)
        yield pd.Series(
            [None if v is None else int(s) for v, s in zip(vals, signed)]
        )


def simhash_col(text_col: str, portable: bool = False) -> F.Column:
    """SimHash fingerprint of whitespace-lowered tokens (int64 carrying
    the raw 64-bit pattern two's-complement-reinterpreted).

    ``portable=False`` (the scale path) hashes tokens with JVM
    ``xxhash64``. ``portable=True`` derives the 64-bit token hash from
    the first 16 hex chars of ``md5(token)`` — marginally slower, but
    reproducible in any engine with md5 (the same construction as
    datagen's counter-based uniforms), which is what lets the x2d probe
    be value-checked against a DuckDB twin instead of rows-only. Both
    run the identical bit-majority + Manku banding code path."""
    if portable:
        # Two-stage transform so md5 runs ONCE per token — the single
        # expression with two substr(md5(t), ...) references is not
        # reliably subexpression-eliminated inside a lambda.
        hashed = F.expr(
            f"transform(transform(split(lower({text_col}), ' '), t -> md5(t)), h -> "
            "shiftleft(CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT), 32) | "
            "CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT))"
        )
    else:
        hashed = F.expr(f"transform(split(lower({text_col}), ' '), t -> xxhash64(t))")
    return simhash_from_hashes(hashed)


def simhash_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = _SIMHASH_MAX_HAMMING,
    bucket_cap: int = _SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ ``max_hamming`` via Manku
    block combinations (Manku, Jain & Das Sarma, WWW 2007): the 64-bit
    fingerprint splits into 8 blocks of 8 bits; distance ≤ 6 flips bits
    in at most 6 blocks, so ≥ 2 blocks survive untouched — every
    qualifying pair shares the JOINT value of some block pair. Blocking
    on all C(8,2) = 28 block-pair tables of 16-bit compound keys is
    therefore pigeonhole-complete for the ≤ 6 predicate, with 65 536
    distinct values per table instead of a single block's 256 — bucket
    population falls ~256× versus single-block blocking, which is what
    keeps the in-bucket pair generation sub-quadratic at corpus scale.

    Identical fingerprints (Hamming 0 — the usual cause of huge
    buckets: exact-duplicate clusters) are handled by an exact
    ``groupBy(simhash)`` path FIRST, so a duplicate cluster of any size
    loses no pairs; banding then runs over one representative per
    DISTINCT fingerprint, and qualifying fingerprint pairs expand back
    to member pairs afterwards. ``bucket_cap`` therefore bounds
    distinct fingerprints per 16-bit compound key — over-cap there is a
    genuine hash-collision pathology, not a duplicate cluster — and the
    x2d DuckDB oracle (an uncapped all-pairs twin) enforces that
    nothing is dropped on the probe corpora."""
    groups = fp.groupBy(sim_col).agg(
        F.array_sort(F.collect_list(id_col)).alias("_members")
    )
    # Exact path: all pairs within an identical-fingerprint group.
    within_gen = (
        "flatten(transform(_members, (a, i) -> "
        "transform(slice(_members, i + 2, size(_members)), b -> "
        "struct(a AS id_a, b AS id_b))))"
    )
    within = (
        groups.filter(F.size("_members") >= 2)
        .select(F.explode(F.expr(within_gen)).alias("p"))
        .select("p.id_a", "p.id_b", F.lit(0).cast("int").alias("hamming"))
    )
    # The 28 compound keys are generated with one nested-lambda
    # expression over a small block array rather than 28 inlined struct
    # literals: an unrolled 28-struct array is a huge codegen tree that
    # costs multiple seconds of one-time janino compilation for zero
    # runtime benefit at 28 × N rows.
    blocks = F.array(
        *[
            F.shiftrightunsigned(sim_col, 8 * b).bitwiseAND(F.lit(255))
            for b in range(_SIMHASH_BLOCKS)
        ]
    )
    keys = F.expr(
        "flatten(transform(sequence(0, 6), i -> "
        "transform(sequence(i + 1, 7), j -> "
        "struct(i * 8 + j AS table_id, "
        "element_at(_blk, i + 1) * 256 + element_at(_blk, j + 1) AS key))))"
    )
    banded = (
        groups.select(
            F.col(sim_col).alias("_sim"), "_members", blocks.alias("_blk")
        )
        .select("_sim", "_members", F.explode(keys).alias("tk"))
        .select("_sim", "_members", "tk.table_id", "tk.key")
    )
    buckets = (
        banded.groupBy("table_id", "key")
        .agg(F.array_sort(F.collect_list(F.struct("_sim", "_members"))).alias("fps"))
        .filter((F.size("fps") >= 2) & (F.size("fps") <= bucket_cap))
    )
    pair_gen = (
        "flatten(transform(fps, (a, i) -> "
        "transform(slice(fps, i + 2, size(fps)), b -> "
        "struct(a._sim AS sim_a, b._sim AS sim_b, "
        "a._members AS mem_a, b._members AS mem_b))))"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    cross = (
        buckets.select(F.explode(F.expr(pair_gen)).alias("p"))
        .select("p.*")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        # Dedup FINGERPRINT pairs (same pair surfaces in up to 28
        # tables) before the member expansion — far cheaper than
        # distinct over expanded id pairs.
        .dropDuplicates(["sim_a", "sim_b"])
        .select(F.explode("mem_a").alias("_ma"), "mem_b", "hamming")
        .select("_ma", F.explode("mem_b").alias("_mb"), "hamming")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


#: DuckDB CTE computing the portable-simhash near-dup pairs
#: (id_a < id_b, Hamming <= 6) as an UNCAPPED all-pairs twin — shared by
#: the x2d oracle and the x2i connected-components oracle.
_PORTABLE_SIMHASH_PAIRS_CTE = """
    toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                  FROM documents),
    th AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
           FROM toks),
    cnt AS (SELECT doc_id, count(*) AS n FROM th GROUP BY doc_id),
    bits AS (SELECT doc_id, b,
                    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones
             FROM th, (SELECT unnest(generate_series(0, 63)) AS b) g
             GROUP BY doc_id, b),
    fp AS (SELECT bits.doc_id,
                  CAST(sum(CASE WHEN 2 * ones > n
                                THEN (CAST(1 AS UBIGINT) << b)
                                ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sim
           FROM bits JOIN cnt USING (doc_id) GROUP BY bits.doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
              FROM fp a JOIN fp b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.sim, b.sim)) <= 6)
"""


@probe(
    "x2d_simhash",
    oracle=f"""
    WITH {_PORTABLE_SIMHASH_PAIRS_CTE}
    SELECT id_a, id_b, hamming FROM pairs
    """,
)
def x2d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ 6 with Manku
    block-combination blocking (see :func:`simhash_pairs` — 28 tables
    of 16-bit compound keys, pigeonhole-complete, bucket-capped on
    DISTINCT fingerprints only). Hash-checked: tokens hash via the
    md5-derived portable construction, so DuckDB computes the identical
    fingerprints with plain arithmetic and an UNCAPPED all-pairs twin —
    the oracle match certifies both the fingerprint math and banding
    completeness. The xxhash64 fast path and the block-pair recall
    guarantee are unit-tested in tests/test_dedup.py."""
    return simhash_pairs(_corpus_simhash(spark, sf_dir))


# ---------------------------------------------------------------------------
# Connected-components canonicalization — the step AFTER pair generation
# in a real dedup pipeline: near-duplication is transitive in practice
# (A~B, B~C ⇒ keep one of {A,B,C}), but pairwise drop-the-b-side keeps
# both endpoints of any chain the pair generator didn't emit directly.
# Components + keep-the-minimum closes the chains.
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Min-label propagation over an undirected edge list: every node's
    label converges to the smallest id reachable from it. Returns
    ``(doc_id, canonical_id)`` for every node that appears in an edge.

    Each round is one shuffle join + one aggregation — the standard
    distributed-CC shape (GraphX/Pregel label propagation). Rounds
    needed = graph diameter; duplicate clusters are dense, so real
    corpora converge in a handful — x2i's simhash edges at sf0.1 take
    11 of the ``max_iters`` rounds, which bound pathological chains.
    The per-round convergence check is a metadata-sized aggregate
    (count of changed labels), not a data collect. The converged
    labels come back as a DISTRIBUTED frame (a
    localCheckpoint-materialized LogicalRDD), never collected to the
    driver; write it to a table downstream at corpus scale.

    Lineage is truncated EVERY round with ``localCheckpoint(eager=True)``.
    Persisting alone is not enough: persist caches the *data* but the
    *logical plan* for round k still embeds round k-1's whole tree twice
    (once in the union, once in the propagation join), so the plan
    doubles per round — Catalyst analysis went exponential and the
    round-4 bench run stalled for hours producing 2 GiB plan strings.
    localCheckpoint replaces the plan with a materialized LogicalRDD
    leaf, keeping every round's plan constant-size; superseded
    checkpoint blocks are reclaimed by the ContextCleaner once the
    previous round's frame goes out of scope. On a cluster where
    executor loss must be survivable mid-computation, swap for reliable
    ``checkpoint()`` (HDFS/object-store backed) or a per-round table
    write — same constant-plan property, durable blocks."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("canonical_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # The iterated state is the dup-cluster node set — orders of
    # magnitude smaller than the corpus (only docs appearing in a
    # near-dup edge). Rounds used to pin spark.sql.shuffle.partitions=4
    # session-globally for the loop's duration; r18 (VERDICT r17 #3)
    # replaces the pin with explicit count-derived repartitions: a
    # fixed width of 4 is sized to probe-scale edge lists and would
    # serialize the loop at corpus scale, and mutating session state
    # is unsafe under any concurrent query on a shared session. Each
    # round now pays the SAME three exchanges the pinned shape paid —
    # labels (explicit, hash(doc_id, w); reused by both the join and
    # the union branch), edges (implicit, matched to w by the join),
    # the pre-aggregate union (explicit) — at a width derived from the
    # materialized edge count instead of a constant.
    from realtime_financial_transactions_data_pipeline_spark.operators.graph import (
        _cc_loop_width,
    )

    w = _cc_loop_width(edges.count())
    for _ in range(max_iters):
        labels_w = labels.repartition(w, "doc_id")
        prop = edges.join(
            labels_w, edges.dst == labels_w.doc_id, "inner"
        ).select(
            F.col("src").alias("doc_id"),
            "canonical_id",
            F.lit(False).alias("_is_old"),
        )
        # The convergence check rides the SAME aggregation: each
        # doc's previous label is tagged into the union and carried
        # out as `_old` by the min-over-tagged aggregate, so
        # n_changed is a filter-count over the just-materialized
        # checkpoint — no per-round join-with-previous shuffle (the
        # old shape ran one extra shuffle join every round purely
        # for the check).
        new_full = (
            labels_w.withColumn("_is_old", F.lit(True))
            .unionByName(prop)
            .repartition(w, "doc_id")
            .groupBy("doc_id")
            .agg(
                F.min("canonical_id").alias("canonical_id"),
                F.min(
                    F.when(F.col("_is_old"), F.col("canonical_id"))
                ).alias("_old"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = (
            new_full.filter(F.col("canonical_id") != F.col("_old")).count()
        )
        labels = new_full.select("doc_id", "canonical_id")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    return labels


@probe(
    "x2i_neardup_components",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_SIMHASH_PAIRS_CTE},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(node, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.src, w.reach FROM edges e JOIN walk w ON w.node = e.dst
    )
    SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS canonical_id
    FROM walk GROUP BY node
    """,
)
def x2i_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization: simhash pairs (the x2d edge
    set) → connected components → ``canonical_id`` = the smallest doc id
    in each cluster. Hash-checked: DuckDB computes the same components
    via a recursive reachability CTE over the same portable-simhash
    pairs, so the oracle certifies the iterative label propagation
    converged to the true transitive closure."""
    return _memo_simhash_cc(spark, sf_dir)


def _memo_simhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized simhash-component labels (the _memo_pairs pattern,
    r17 optimization): x2i, x2y and x22 each ran the SAME multi-round
    min-label loop over the same simhash edge set — ~3 blocking jobs
    per round per probe. One shared build serves all three; the label
    frame is dup-cluster-sized (ids only), the class this cache holds
    everywhere else."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        memo_persist,
    )

    return memo_persist(
        spark,
        ("simhash_cc", sf_dir),
        lambda: connected_components(
            simhash_pairs(_corpus_simhash(spark, sf_dir))
        ),
    )


@probe(
    "x16_crossdoc_dup_fraction",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    eg AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
    dfreq AS (SELECT gram, count(*) AS n_docs FROM eg GROUP BY gram),
    per AS (
      SELECT e.doc_id,
             count(*) AS n_grams,
             sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
      FROM eg e JOIN dfreq d USING (gram) GROUP BY e.doc_id)
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_shared AS BIGINT) AS n_shared,
           round(CAST(n_shared AS DOUBLE) / n_grams, 4) AS dup_frac
    FROM per
    """,
)
def x16_crossdoc_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated n-gram fraction (the RefinedWeb/Gopher
    CORPUS-level repetition signal, complementing x3h's within-doc
    metrics): for each document, the share of its distinct word
    3-grams that also appear in at least one other document. High
    dup_frac flags boilerplate/templated docs that exact and near-dup
    passes both miss.

    Plan: reuses the memoized corpus shingle pass (shared with
    x2a/x2b), explodes to (doc_id, gram), aggregates document
    frequency per gram, and joins the df back — two gram-keyed
    exchanges plus the per-doc rollup, Σ_g df(g) work, no pair space.
    At 100 TB the gram explode dominates; hash the grams to 8-byte
    xxhash64 before the shuffle (as x2a does) to cut exchange bytes."""
    grams = _corpus_grams(spark, sf_dir)
    # Hash each gram to 8 bytes BEFORE the exchanges: the df groupBy and
    # the join back then shuffle longs, not 20-byte strings (the scale
    # rule the x2a pipeline already follows). The oracle still works on
    # raw strings — a collision would fail the hash check; at 2^64 the
    # expected collision count is ~1e-7 for a trillion-gram corpus.
    eg = grams.select(
        "doc_id", F.explode("grams").alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("gram"))
    dfreq = eg.groupBy("gram").agg(F.count("*").alias("n_docs"))
    return (
        eg.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            dround(F.col("n_shared") / F.col("n_grams"), 4).alias("dup_frac"),
        )
    )


@probe(
    "er1_entity_resolution",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey + 1000000 AS dirty_id,
             c_custkey AS true_key,
             substr(c_name, 1, CAST(c_custkey % length(c_name) AS INTEGER))
               || substr(c_name, CAST(c_custkey % length(c_name) AS INTEGER) + 2)
               AS dirty_name
      FROM customer),
    variants AS (
      SELECT c_custkey AS cand_key, c_name,
             unnest(list_distinct(list_transform(
               range(1, length(c_name) + 1),
               i -> substr(c_name, 1, CAST(i - 1 AS INTEGER))
                    || substr(c_name, CAST(i + 1 AS INTEGER))))) AS variant
      FROM customer),
    cand AS (
      SELECT d.dirty_id, d.true_key, v.cand_key,
             levenshtein(d.dirty_name, v.c_name) AS dist
      FROM dirty d JOIN variants v ON d.dirty_name = v.variant),
    best AS (
      SELECT dirty_id, true_key, cand_key, dist,
             row_number() OVER (PARTITION BY dirty_id
                                ORDER BY dist, cand_key) AS rn
      FROM cand)
    SELECT dirty_id, cand_key AS matched_key, CAST(dist AS BIGINT) AS dist,
           cand_key = true_key AS correct
    FROM best WHERE rn = 1
    """,
)
def er1_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (MDM / dirty-dimension matching) via
    SymSpell-style DELETION-NEIGHBORHOOD indexing: every canonical name
    emits its single-deletion variants (length-L strings, L variants);
    a dirty name (one character deleted at a key-dependent position)
    matches its sources by EXACT equi-join on the variant — no edit
    distance in the join at all. Levenshtein runs only on the matched
    candidates (for ranking/reporting), and best-match ranking (min
    distance, lowest key) resolves collisions deterministically; the
    `correct` flag reports per-row accuracy.

    Scale: the index is L·N rows of short strings — LINEAR in the
    table, unlike attribute blocking whose block sizes (and pair
    counts) grow quadratically when the blocking key is weakly
    selective (this name distribution's nationkey blocks cost 26 s at
    sf0.1; this plan is sub-second). The same index handles edit
    distance k by emitting k-deletion variants of both sides."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty = c.select(
        (F.col("c_custkey") + 1000000).alias("dirty_id"),
        F.col("c_custkey").alias("true_key"),
        F.concat(
            F.expr("substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT))"),
            F.expr(
                "substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2)"
            ),
        ).alias("dirty_name"),
    )
    variants = c.select(
        F.col("c_custkey").alias("cand_key"),
        "c_name",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(c_name)),"
                    " i -> concat(substr(c_name, 1, i - 1),"
                    "             substr(c_name, i + 1)))"
                )
            )
        ).alias("variant"),
    )
    cand = dirty.join(
        variants, dirty.dirty_name == variants.variant
    ).withColumn("dist", F.levenshtein("dirty_name", "c_name"))
    w = Window.partitionBy("dirty_id").orderBy("dist", "cand_key")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            F.col("cand_key").alias("matched_key"),
            F.col("dist").cast("long").alias("dist"),
            (F.col("cand_key") == F.col("true_key")).alias("correct"),
        )
    )


@probe(
    "x1e_stream_dedup_ingest",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, lang, text FROM documents WHERE doc_id % 7 = 0),
    r AS (SELECT doc_id, lang, md5(text) AS h, doc_id % 4 AS b FROM corpus),
    w AS (
      SELECT doc_id, lang, h,
             row_number() OVER (PARTITION BY h ORDER BY b, doc_id) AS rn
      FROM r)
    SELECT doc_id, lang FROM w WHERE rn = 1
    """,
)
def x1e_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus ingestion with online exact-dedup — the
    realtime twin of x1c's weekly-crawl workflow: documents (plus
    planted duplicates) arrive as four deterministic micro-batches;
    each batch anti-joins its content digests against the
    accepted-digest snapshot, appends only first-seen docs, and
    publishes the updated snapshot (foreachBatch, generation-pointer
    layout). Keep-first-ARRIVAL: the oracle ranks by (batch, doc_id),
    so the hash certifies the cross-batch dedup order, not just the
    final set. At scale the digest snapshot is the only state — 16
    bytes per accepted doc, broadcast or digest-shuffled; payloads
    stream straight to the accepted sink."""
    from realtime_financial_transactions_data_pipeline_spark.registry import pin_result
    from realtime_financial_transactions_data_pipeline_spark.streaming.run import probe_scratch

    corpus = x1e_corpus_fixture(spark, sf_dir)
    with probe_scratch() as root:
        accepted_dir = run_stream_dedup_ingest(spark, corpus, root)
        # batch=N subdirs surface as a discovered partition column; project
        # it away so the result schema is unchanged by the idempotent layout.
        return pin_result(spark.read.parquet(accepted_dir).select("doc_id", "lang"))


def x1e_corpus_fixture(spark: SparkSession, sf_dir: str) -> str:
    """x1e's input: `documents` plus a planted duplicate of every 7th
    doc, as four JSON slices (``doc_id % 4``) with pinned mtimes."""
    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
        spark_json_slices,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "lang", "text"
        )
    )
    return disk_fixture(
        "x1e-corpus-4slice",
        source_fingerprint(sf_dir, "documents"),
        lambda tmp: spark_json_slices(corpus, tmp, 4, slice_col=F.col("doc_id")),
    )


def run_stream_dedup_ingest(spark: SparkSession, input_dir: str, root: str) -> str:
    """Stream ``input_dir``'s JSON documents one file per micro-batch
    through x1e's exact-dedup ingest, with the digest snapshot and the
    checkpoint under ``root``. Returns the accepted-docs directory,
    which holds one ``batch=N`` subdirectory per micro-batch."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        current_table_path,
        init_pointer_table,
        publish_generation,
    )
    from realtime_financial_transactions_data_pipeline_spark.streaming.run import (
        run_available_now,
    )

    digests_root = f"{root}/digests"
    accepted_dir = f"{root}/accepted"
    empty = spark.createDataFrame([], T.StructType([T.StructField("h", T.StringType())]))
    init_pointer_table(empty, digests_root)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        seen = s.read.parquet(current_table_path(digests_root))
        hashed = batch.withColumn("h", F.md5("text"))
        # dedup WITHIN the batch (keep lowest doc_id) then against the
        # snapshot
        w = Window.partitionBy("h").orderBy("doc_id")
        fresh = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .join(seen, "h", "left_anti")
        )
        # Exactly-once under micro-batch RETRY (the Delta-foreachBatch
        # batch_id pattern): each batch OVERWRITES its own
        # batch_id-keyed subdirectory instead of appending, so a
        # replayed batch rewrites the same rows rather than doubling
        # them. One crash window remains — digest publish committed but
        # the retry recomputes `fresh` as empty against the NEW
        # snapshot — detected by (subdir exists AND fresh empty), in
        # which case the committed rows are left untouched.
        part_dir = f"{accepted_dir}/batch={batch_id}"
        # Existence via the Hadoop FileSystem API, not os.path.isdir:
        # foreachBatch runs on the driver either way, but the Hadoop FS
        # resolves s3a:// / gs:// object stores (which have no
        # directories) exactly like local paths (VERDICT r07 #7).
        jvm = s._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(part_dir)
        hfs = hpath.getFileSystem(s._jsc.hadoopConfiguration())
        already_applied = hfs.exists(hpath) and fresh.limit(1).count() == 0
        if not already_applied:
            fresh.select("doc_id", "lang").write.mode("overwrite").parquet(part_dir)
        publish_generation(seen.unionByName(fresh.select("h")), digests_root)

    run_available_now(
        spark,
        lambda child: child.readStream.schema("doc_id LONG, lang STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", f"{root}/_cp"),
        input_dirs=[input_dir],
    )
    return accepted_dir


# ---------------------------------------------------------------------------
# Streaming NEAR-dup ingestion (x2n) — the x1e workflow upgraded from
# exact digests to MinHash/LSH: continuously-arriving documents are
# checked against the accepted corpus for near-duplicates before
# admission, and the accepted set's signatures form an incrementally
# maintained LSH index. This is the 100 TB shape for dedup-at-ingest:
# per batch the work is (batch bands) ⋈ (index bands) — bounded
# candidate fan-out, never batch × corpus — plus an exact verify on
# the candidates only.
# ---------------------------------------------------------------------------


def _verified_pairs(
    cand: DataFrame,
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    grams_col: str = "grams",
) -> DataFrame:
    """Exact-Jaccard verify of candidate (id_a, id_b) pairs: join each
    side's gram set, keep pairs at or above ``threshold``. Runs only on
    the LSH candidates — the pair space is bounded by banding, so the
    array_intersect cost is per-candidate, never per-cross-pair.

    ``grams_col`` may name either the raw gram-string arrays or the
    fixed-width ``xxhash64(gram)`` digest arrays (x2n ships digests:
    shingles are distinct, so elementwise xxhash64 preserves set
    cardinality and the intersection arithmetic is IDENTICAL modulo
    64-bit collisions — and a collision can only INFLATE the
    intersection, i.e. over-verify a pair into a rejection, never
    under-verify a true near-dup into admission; at p ≈ n²·2⁻⁶⁴
    per doc pair that is ~5e-11 even for million-gram docs).

    Shuffle shape (r17, the second half of the VERDICT r16 #2 fix):
    each payload side is attached INDEPENDENTLY by broadcasting the
    candidate pair relation into it — pairs are two-int rows and
    banding-bounded (O(batch), never batch x corpus, in the x2n
    ingest; the caller checkpoints them to a leaf), so the broadcast
    is always small and each payload side streams map-side with ZERO
    shuffle — and the two attached sides then equi-join on the pair
    key, shuffling only O(pairs) x payload bytes. The old shape
    (cand join payload join payload) moved EVERY doc's payload per
    trigger once batches outgrew auto-broadcast — the one-time 229x
    shuffle step the r16 100x smoke caught."""
    a = left.select(
        F.col("doc_id").alias("id_a"), F.col(grams_col).alias("_ga")
    ).join(F.broadcast(cand), "id_a")
    b = right.select(
        F.col("doc_id").alias("id_b"), F.col(grams_col).alias("_gb")
    ).join(F.broadcast(cand.select("id_a", "id_b")), "id_b")
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = (F.size("_ga") + F.size("_gb")).cast("double") - F.size(
        F.array_intersect("_ga", "_gb")
    )
    return (
        a.join(b, ["id_a", "id_b"])
        .filter(inter / union >= threshold)
        .select("id_a", "id_b")
    )


def neardup_admit(
    state: DataFrame,
    b: DataFrame,
    threshold: float = _LSH_VERIFY_T,
    grams_col: str = "grams",
) -> DataFrame:
    """One ingest step's admission decision, factored out of the stream
    so the classification semantics are unit-testable with crafted
    corpora: ONE banding pass over index ∪ batch, then classify each
    verified pair — a pair with exactly one side in the batch is a
    cross-match (reject the batch side); a pair with both sides in the
    batch applies the pairwise smaller-id-wins rule, provided the
    smaller side was not itself cross-rejected. Equivalent to the
    two-pass (index-probe, then survivors-only LSH) formulation —
    index-index pairs cannot exist by induction (one side would have
    rejected the other at its own admission) — but HALF the plan: per
    micro-batch the driver pays Catalyst analysis per action, so plan
    size, not row count, dominates small-batch latency. Both inputs
    carry (doc_id, grams, sig) plus passenger columns on ``b``;
    returns the admitted subset of ``b``.

    ``threshold`` only TIGHTENS the exact verification — candidate
    generation is the fixed 12-band/4-row banding, whose recall is
    tuned for the _LSH_VERIFY_T = 0.9 operating point (~81 % per pair
    at J = 0.6). Passing a materially lower threshold silently misses
    pairs; re-derive the banding from the threshold (more bands, fewer
    rows) before operating there.

    ``grams_col`` names the verify payload on BOTH inputs — gram
    strings ("grams", the unit-test default) or xxhash64 digests
    ("gramsd", what x2n ships; see :func:`_verified_pairs` for the
    collision-direction argument)."""
    uni = state.select("doc_id", grams_col, "sig").unionByName(
        b.select("doc_id", grams_col, "sig")
    )
    # Eagerly materialized: the candidate pair set is referenced THREE
    # times downstream (both participant-cut broadcasts in
    # _verified_pairs plus the verify equi-join) — left lazy, each
    # reference re-runs the banding self-join (measured at the r17
    # 100x smoke: the re-evaluations pushed the 100x ingest past its
    # wall budget), and the admit DAG re-analyzes the banding subtree
    # per reference. Pairs are banding-bounded (O(batch) rows of two
    # ids), so the checkpoint is small by construction.
    cand = lsh_candidate_pairs(
        uni.select("doc_id", "sig"), "doc_id"
    ).localCheckpoint(eager=True)
    vp = _verified_pairs(cand, uni, uni, threshold, grams_col=grams_col)
    bids = b.select("doc_id")
    flagged = vp.join(
        bids.select(F.col("doc_id").alias("id_a"), F.lit(True).alias("_a_in")),
        "id_a",
        "left",
    ).join(
        bids.select(F.col("doc_id").alias("id_b"), F.lit(True).alias("_b_in")),
        "id_b",
        "left",
    )
    cross_matched = (
        flagged.filter(F.col("_a_in").isNull() | F.col("_b_in").isNull())
        .select(
            F.when(F.col("_a_in").isNotNull(), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    within_rejects = (
        flagged.filter(F.col("_a_in").isNotNull() & F.col("_b_in").isNotNull())
        .join(
            cross_matched.select(F.col("doc_id").alias("id_a")),
            "id_a",
            "left_anti",
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return b.join(
        cross_matched.unionByName(within_rejects), "doc_id", "left_anti"
    )


#: Partition-group fan-out for the x2n on-disk index state. Band-index
#: rows land in ``bg = pmod(hash(band_id, band_hash), G)`` directories
#: and doc-state rows in ``dg = pmod(hash(doc_id), G)`` directories, so
#: a micro-batch's probe reads only the groups its own keys hash into —
#: O(batch × bands) pruned reads instead of an O(corpus) scan per
#: trigger. 16 keeps the probe's file count sane at sf0.01; a
#: production deployment raises it (e.g. 4096) so each group stays
#: row-group-sized — the probe-side cost is unchanged because pruning
#: is driven by the batch's own key set, never by G.
_X2N_STATE_GROUPS = 16


#: Compacted x2n index generations are written as ``batch=<BASE+g>``
#: dirs — far above any real micro-batch id, so a folded generation can
#: never collide with a replayed stream batch's own ``batch=N``
#: overwrite.
_X2N_COMPACT_GEN_BASE = 1_000_000_000

#: Auto-compaction trigger for the streaming ingest: once either index
#: store accumulates this many ``batch=`` dirs, the ingest folds them
#: into one generation. The x2n probe's 3 triggers never reach it; the
#: retention unit test drives 9 ingest steps and pins that dir counts
#: stay flat at the threshold.
_X2N_COMPACT_THRESHOLD = 6


def _x2n_batch_ids(spark: SparkSession, d: str) -> list[int]:
    """The ``batch=N`` generation ids currently on disk under ``d``
    (Hadoop FS API, so the same code serves local tmp and object
    stores). Bounded by the compaction threshold in steady state."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(d)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return []
    ids = []
    for st in fs.listStatus(p):
        n = st.getPath().getName()
        if st.isDirectory() and n.startswith("batch="):
            ids.append(int(n.split("=", 1)[1]))
    return sorted(ids)


def compact_x2n_index(
    spark: SparkSession,
    state_dir: str,
    bands_dir: str,
    min_batch_dirs: int = _X2N_COMPACT_THRESHOLD,
    n_groups: int = _X2N_STATE_GROUPS,
) -> bool:
    """Fold the x2n index's accumulated ``batch=N`` generations into
    ONE compacted generation per store (VERDICT r16 #5 — the k8b-style
    retention half of the append-only design: without it the batch
    dirs, and with them the per-probe file-listing cost, grow forever
    at ingest scale).

    Returns True when a compaction ran (either store held at least
    ``min_batch_dirs`` generations), False for the cheap no-op.

    Crash-safety is ORDER, not locking, exactly as in ``_ingest``: the
    union of the current generations is written to the NEW generation
    dir FIRST, and the folded dirs are deleted only after that write
    commits. Every intermediate state the probe can observe is a
    SUPERSET of the index with duplicate rows — and every admission
    consumer is set-shaped (candidate ``distinct()``, verified-pair
    ``distinct()``s, the final anti-join), so duplicates change
    nothing; the next compaction's key-level ``dropDuplicates`` is
    also where any crash-window duplicates get reclaimed. Compacted
    generations land at ``batch=`` ids offset by
    ``_X2N_COMPACT_GEN_BASE`` so a replayed stream batch's idempotent
    ``batch=N`` overwrite can never collide with one.

    Scale shape: compaction reads and rewrites the accepted corpus's
    state ONCE per ~threshold batches — amortized O(corpus/threshold)
    per trigger, the standard LSM trade — and the rewrite is
    ``repartition(group).partitionBy(group)``, one file per group, so
    probe-side pruned reads stay one-file-per-touched-group no matter
    how many generations were folded."""
    sids = _x2n_batch_ids(spark, state_dir)
    bids = _x2n_batch_ids(spark, bands_dir)
    if len(sids) < min_batch_dirs and len(bids) < min_batch_dirs:
        return False
    prev_gens = [i for i in sids + bids if i >= _X2N_COMPACT_GEN_BASE]
    gen = max(prev_gens, default=_X2N_COMPACT_GEN_BASE - 1) + 1
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for d, ids, part, keys in (
        (state_dir, sids, "dg", ["doc_id"]),
        (bands_dir, bids, "bg", ["doc_id", "band_id", "band_hash"]),
    ):
        if not ids:
            continue
        src = [f"{d}/batch={i}" for i in ids]
        (
            # basePath keeps multi-dir partition discovery coherent;
            # the discovered batch column is dropped — the folded rows
            # belong to the new generation alone.
            spark.read.option("basePath", d)
            .parquet(*src)
            .drop("batch")
            .dropDuplicates(keys)
            .repartition(part)
            .write.mode("overwrite")
            .partitionBy(part)
            .parquet(f"{d}/batch={gen}")
        )
        p0 = jvm.org.apache.hadoop.fs.Path(d)
        fs = p0.getFileSystem(hconf)
        for i in ids:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{d}/batch={i}"), True)
    return True


def _group_values(df: DataFrame, col: str, n_groups: int) -> list[int]:
    """The distinct partition-group ids a frame touches — at most
    ``n_groups`` ints by construction (the collect is bounded by the
    constant, not by data volume), destined for an ``isin`` partition
    filter."""
    return [r[0] for r in df.select(col).distinct().collect()]


def _candidate_ids(
    spark: SparkSession,
    bands_dir: str,
    batch_bands: DataFrame,
    bgs: list[int],
    n_groups: int,
) -> DataFrame:
    """The lazy bg-pruned candidate-doc plan — extracted so the plan
    test can assert the band-group partition filter BEFORE
    :func:`pruned_index_state` checkpoints it away."""
    # Explicit broadcast of the batch's own key relation (r15 100x
    # smoke): at 500 k docs the ~1 M-row key set outgrew the
    # auto-broadcast estimate and the equi-join degraded to shuffling
    # the ACCUMULATED index every trigger (272x shuffle for 100x
    # input). The keys are batch-bounded by construction — broadcast
    # them and the index side is filtered map-side: per-trigger
    # shuffle returns to O(batch), and the only index cost is the
    # bg-pruned READ. (At batch sizes where even the key broadcast
    # hurts, shrink the trigger — the documented production knob.)
    return (
        spark.read.parquet(bands_dir)
        .filter(F.col("bg").isin(bgs))
        .join(
            F.broadcast(batch_bands.select("band_id", "band_hash").distinct()),
            ["band_id", "band_hash"],
        )
        .select("doc_id")
        .distinct()
        .withColumn("dg", F.pmod(F.hash("doc_id"), F.lit(n_groups)))
    )


def pruned_index_state(
    spark: SparkSession,
    state_dir: str,
    bands_dir: str,
    batch_bands: DataFrame,
    n_groups: int = _X2N_STATE_GROUPS,
    grams_col: str = "grams",
    grams_type: str = "array<string>",
) -> DataFrame:
    """Probe the band-partitioned x2n index WITHOUT scanning it: read
    only the band-group (``bg``) partitions the batch's own band keys
    hash into, equi-join on the exact (band_id, band_hash) bucket key
    to find the index docs sharing a bucket with the batch, then fetch
    just those docs' (grams, sig) state rows — again pruned, via the
    doc-group (``dg``) partitions the candidate ids hash into, plus a
    semi-join down to the exact ids.

    Equivalence to the full-state probe (pinned by
    test_pruned_index_state_equivalence): ``lsh_candidate_pairs`` can
    only emit a cross pair for docs sharing a (band_id, band_hash)
    bucket, and every index doc sharing a bucket with ANY batch doc is
    retrieved here — so ``neardup_admit(pruned, b)`` admits exactly
    what ``neardup_admit(full, b)`` does. (Index-index pairs inside
    batch-free buckets are never generated from the pruned frame, but
    those pairs cannot exist at the verify threshold by induction —
    one side would have rejected the other at its own admission — and
    even when banding false-positives them, their ids are absent from
    ``b`` so the admission anti-join ignores them.)

    Latency shape (r14 trim): exactly TWO driver actions per probe —
    each wrapped quantity is batch-bounded by construction. Action 1
    collects the batch's distinct (band_id, band_hash, bg) keys (≤
    batch × bands rows), so the band-group list AND the bucket-key
    join relation come from one job and the key join against the
    band parquet is a local relation (broadcast, no recompute of the
    batch's banding inside the scan plan). Action 2 collects the
    candidate (doc_id, dg) ids (≤ docs sharing a bucket with the
    batch), replacing the old localCheckpoint + second collect — the
    dg list and the semi-join relation again come from one job. The
    previous shape paid three actions plus a checkpoint; per-trigger
    latency here is action-count-bound, not row-bound
    (neardup_admit docstring)."""
    batch_bands = batch_bands.withColumn(
        "bg", F.pmod(F.hash("band_id", "band_hash"), F.lit(n_groups))
    )
    keys = (
        batch_bands.select("band_id", "band_hash", "bg").distinct().collect()
    )
    # Plain empty local relation — a coalesce(1)'d empty side makes a
    # downstream union's checkpoint task hang ~5.5 s (r14 x2n bisect;
    # same fix as the batch-0 empty state below).
    empty = spark.createDataFrame(
        [],
        f"doc_id long, lang string, {grams_col} {grams_type},"
        " sig array<bigint>",
    )
    if not keys:
        return empty
    bgs = sorted({r.bg for r in keys})
    key_df = spark.createDataFrame(
        [(r.band_id, r.band_hash) for r in keys], "band_id int, band_hash int"
    )
    cand = _candidate_ids(spark, bands_dir, key_df, bgs, n_groups).collect()
    if not cand:
        return empty
    dgs = sorted({r.dg for r in cand})
    ids_df = spark.createDataFrame([(r.doc_id,) for r in cand], "doc_id long")
    return (
        spark.read.parquet(state_dir)
        .filter(F.col("dg").isin(dgs))
        .join(F.broadcast(ids_df), "doc_id", "semi")
        .select("doc_id", "lang", grams_col, "sig")
    )


@probe(
    "x2n_stream_neardup_ingest",
    oracle=f"""
    WITH sh0 AS ({_ORACLE_SHINGLES}),
    sh AS MATERIALIZED (SELECT * FROM sh0 WHERE doc_id % 2 = 0),
    -- ps = the SYMMETRIC closure of the exact-Jaccard pair relation,
    -- materialized once. Every admission check below is then a single
    -- equi-correlated NOT EXISTS (decorrelates to a hash anti-join);
    -- the first draft's OR-of-two-directions EXISTS forced DuckDB into
    -- per-row nested loops and ran ~70 s.
    ps AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
            >= {_LSH_VERIFY_T}),
    d AS (SELECT doc_id, lang, (doc_id // 2) % 3 AS b FROM documents
          WHERE doc_id % 2 = 0),
    acc0 AS (
      SELECT doc_id, lang FROM d y WHERE b = 0 AND NOT EXISTS (
        SELECT 1 FROM ps JOIN d x ON ps.id_a = x.doc_id
        WHERE x.b = 0 AND ps.id_a < ps.id_b AND ps.id_b = y.doc_id)),
    s1 AS (
      SELECT doc_id, lang FROM d y WHERE b = 1 AND NOT EXISTS (
        SELECT 1 FROM ps JOIN acc0 a ON ps.id_a = a.doc_id
        WHERE ps.id_b = y.doc_id)),
    acc1 AS (
      SELECT doc_id, lang FROM s1 y WHERE NOT EXISTS (
        SELECT 1 FROM ps JOIN s1 x ON ps.id_a = x.doc_id
        WHERE ps.id_a < ps.id_b AND ps.id_b = y.doc_id)),
    acc01 AS (SELECT * FROM acc0 UNION ALL SELECT * FROM acc1),
    s2 AS (
      SELECT doc_id, lang FROM d y WHERE b = 2 AND NOT EXISTS (
        SELECT 1 FROM ps JOIN acc01 a ON ps.id_a = a.doc_id
        WHERE ps.id_b = y.doc_id)),
    acc2 AS (
      SELECT doc_id, lang FROM s2 y WHERE NOT EXISTS (
        SELECT 1 FROM ps JOIN s2 x ON ps.id_a = x.doc_id
        WHERE ps.id_a < ps.id_b AND ps.id_b = y.doc_id))
    SELECT * FROM acc01 UNION ALL SELECT * FROM acc2
    """,
)
def x2n_stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingestion with online NEAR-dup rejection: documents
    arrive as three deterministic micro-batches (even doc_ids, batch = (doc_id/2) % 3);
    each batch minhashes its docs, probes the accepted corpus's LSH
    band index for candidates, exact-verifies candidates at
    J >= 0.9 (_LSH_VERIFY_T, x2a's threshold — banding recall there is 1 - 2.7e-6, so
    the exact-SQL oracle is sound), drops within-batch near-dups by
    the pairwise smaller-id-wins rule, appends the admitted docs, and
    APPENDS their (gram-digest, signature) rows to the index — the index is
    an append-only batch=N layout, never rewritten: a generation-
    pointer snapshot (x1e's digest pattern) would rewrite the whole
    accepted corpus's state every batch, which at ingest scale is the
    difference between O(batch) and O(corpus) I/O per trigger. Both
    state stores are GROUP-PARTITIONED on disk (band index by
    ``bg = pmod(hash(band_id, band_hash), G)``, doc state by
    ``dg = pmod(hash(doc_id), G)``), and the per-batch probe goes
    through ``pruned_index_state``: read only the partitions the
    batch's own keys hash into, so probe-side I/O is O(batch × bands)
    pruned reads — the COMPUTE side matches the WRITE side's O(batch)
    instead of rescanning the whole accepted corpus every trigger.
    x1e's replay-after-publish guard carries over (a replayed batch
    sees its own docs in the index, admits nothing, and must not
    clobber its committed rows). The oracle unrolls the batch evolution as
    chained CTEs over the exact-Jaccard pair relation, so the hash
    certifies the ORDER of admission, the index probe, and both dedup
    rules — not just the final set. State per accepted doc =
    fixed-width xxhash64(gram) digest array (``gramsd``) + 48-long
    signature — gram STRINGS never enter the index or the verify join
    (r17, VERDICT r16 #2: the string payload was the suite's one
    perf-weak edge — at ~83 k-doc batches it pushed the exact-verify
    join past the broadcast threshold into a one-time 2,137 MB
    shuffle at the 100x smoke). Shingles are distinct, so elementwise
    xxhash64 preserves set cardinality and the Jaccard arithmetic is
    identical modulo 64-bit collisions, which can only over-verify
    (reject), never under-verify (_verified_pairs docstring); the
    digests come free as the signature's first hashing pass
    (minhash_signature digest_col)."""
    import os

    from realtime_financial_transactions_data_pipeline_spark.caching import (
        disk_fixture,
        source_fingerprint,
        spark_json_slices,
    )
    from realtime_financial_transactions_data_pipeline_spark.registry import pin_result
    from realtime_financial_transactions_data_pipeline_spark.streaming.run import (
        probe_scratch,
        run_available_now,
    )

    # The even-doc_id half of the corpus, batched round-robin by
    # doc_id/2 — the j3 sizing pattern: the ingest mechanics (index
    # probe, verify, admission order) are exercised identically at half
    # of the full corpus volume, and the oracle filters on the same
    # rule. The WHOLE slice recipe lives inside the build lambda so the
    # fixture's recipe token captures it (caching.py convention: a
    # build lambda closing over an upstream DataFrame hides that
    # frame's definition from the cache key).
    flat = disk_fixture(
        "x2n-docs-3slice",
        source_fingerprint(sf_dir, "documents"),
        lambda tmp: spark_json_slices(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "lang", "text"),
            tmp,
            3,
            slice_col=F.expr("CAST(doc_id / 2 AS LONG)"),
        ),
    )

    with probe_scratch() as root:
        state_dir = f"{root}/state"
        bands_dir = f"{root}/bands"
        accepted_dir = f"{root}/accepted"
        state_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField("gramsd", T.ArrayType(T.LongType())),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        )

        def _ingest(batch: DataFrame, batch_id: int) -> None:
            s = batch.sparkSession
            jvm = s._jvm
            hconf = s._jsc.hadoopConfiguration()
            # The micro-batch arrives as ONE json file = one partition;
            # spread it before the shingle+signature pass or the whole
            # minhash computation runs on a single task.
            # Eager localCheckpoint, not persist (r15 trim, the r14
            # `admitted` lesson applied to the batch frame itself): every
            # downstream plan — the banded-keys collect, the pruned-probe
            # joins, the admit DAG, the sink writes — analyzes a LogicalRDD
            # leaf instead of re-walking the minhash lineage, and the
            # batch-0 cache race (three uni subtrees racing an un-filled
            # persist into ~3 concurrent minhash passes) cannot exist:
            # the checkpoint materializes exactly once, up front.
            b = minhash_signature(
                batch.repartition(8).withColumn("grams", word_shingles("text")),
                grams_col="grams",
                digest_col="gramsd",
            ).select("doc_id", "lang", "gramsd", "sig").localCheckpoint(eager=True)
            try:
                bpath = jvm.org.apache.hadoop.fs.Path(bands_dir)
                if bpath.getFileSystem(hconf).exists(bpath):
                    # Band-partitioned probe (VERDICT r10 #2): read only the
                    # bg/dg partition groups the batch's own keys hash into
                    # — O(batch × bands) pruned reads per trigger, never an
                    # O(corpus) index scan. Persisted because the admission
                    # result is evaluated several times per batch (replay
                    # check + the three sink writes) and the candidate set
                    # is batch-bounded by construction.
                    state = pruned_index_state(
                        s,
                        state_dir,
                        bands_dir,
                        banded_keys(b, "doc_id"),
                        grams_col="gramsd",
                        grams_type="array<bigint>",
                    ).persist()
                else:
                    # Plain empty local relation — do NOT coalesce(1) it:
                    # measured at sf0.1, a coalesced empty side made the
                    # downstream union's checkpoint task hang ~5.5 s (6.0 s
                    # vs 0.49 s for the plain form; r14 x2n trim bisect).
                    state = s.createDataFrame([], state_schema)
                # Write-first, NO admit checkpoint (r15 trim): the accepted
                # write itself executes the admit DAG — one heavy
                # analysis+job — and the two index writes re-derive their
                # rows as b-leaf ⋈ accepted-parquet semi-joins, so every
                # downstream plan is leaf-sized without paying a separate
                # localCheckpoint action per batch (the r14 shape spent one;
                # measured ~0.4 s/trigger here). The replay check only
                # evaluates the admit plan on the rare replay path — the
                # normal path short-circuits on dir absence.
                admitted = neardup_admit(state, b, grams_col="gramsd")
                part_dir = f"{accepted_dir}/batch={batch_id}"
                hpath = jvm.org.apache.hadoop.fs.Path(part_dir)
                hfs = hpath.getFileSystem(hconf)
                # Replay-after-publish: the batch's own docs are already in
                # the index, match themselves at J=1, and `admitted` comes
                # back empty — the committed rows must be left untouched.
                already_applied = hfs.exists(hpath) and admitted.limit(1).count() == 0
                if not already_applied:
                    # ORDER IS LOAD-BEARING: accepted commits BEFORE the
                    # index subdirs. Crash after accepted, before index →
                    # replay recomputes `admitted` against an index without
                    # this batch, gets it NON-empty, and rewrites all three
                    # sinks idempotently. (The reverse order would leave a
                    # window where the index already contains the batch, so
                    # a replay's `admitted` comes back EMPTY while the
                    # accepted rows were never committed — data loss.)
                    admitted.select("doc_id", "lang").write.mode(
                        "overwrite"
                    ).parquet(part_dir)
                    # Append-only index growth: this batch's state rows
                    # land in their own batch= subdir — doc-state
                    # partitioned by doc group, band index by band group —
                    # and a replay overwrites the same subdirs idempotently.
                    # repartition on the partition column first: one file
                    # per touched group instead of one per task per group
                    # (the many-executor small-file guard). The two index
                    # writes run CONCURRENTLY (driver threads) — they are
                    # commit-latency-bound at batch scale, and every crash
                    # window stays replay-safe: a missing bg subdir means
                    # the batch's docs surface no band candidates, a
                    # missing dg subdir drops their grams from verification
                    # — either way `admitted` comes back NON-empty on
                    # replay and all three sinks are rewritten (r14 trim).
                    from concurrent.futures import ThreadPoolExecutor

                    adm = b.join(
                        s.read.parquet(part_dir).select("doc_id"),
                        "doc_id",
                        "semi",
                    )

                    def _write_dg() -> None:
                        adm.withColumn(
                            "dg",
                            F.pmod(F.hash("doc_id"), F.lit(_X2N_STATE_GROUPS)),
                        ).repartition("dg").write.mode("overwrite").partitionBy(
                            "dg"
                        ).parquet(f"{state_dir}/batch={batch_id}")

                    def _write_bg() -> None:
                        banded_keys(adm, "doc_id").select(
                            F.col("_id").alias("doc_id"),
                            "band_id",
                            "band_hash",
                            F.pmod(
                                F.hash("band_id", "band_hash"),
                                F.lit(_X2N_STATE_GROUPS),
                            ).alias("bg"),
                        ).repartition("bg").write.mode("overwrite").partitionBy(
                            "bg"
                        ).parquet(f"{bands_dir}/batch={batch_id}")

                    with ThreadPoolExecutor(2) as pool:
                        for fut in [pool.submit(_write_dg), pool.submit(_write_bg)]:
                            fut.result()
                    # Retention: fold accumulated batch= generations once
                    # either store crosses the threshold (no-op below it —
                    # two FS listings). The 3-trigger probe never compacts;
                    # the 9-step retention test pins flat dir counts.
                    compact_x2n_index(s, state_dir, bands_dir)
            finally:
                try:
                    state.unpersist()
                except NameError:  # pruned-read failed before `state` bound
                    pass

        # Pre-create the checkpoint dir (r18, VERDICT r17 #5): the stream's
        # first batch otherwise pays the offset-log directory setup inside
        # its trigger.
        os.makedirs(f"{root}/_cp", exist_ok=True)
        run_available_now(
            spark,
            lambda child: child.readStream.schema("doc_id LONG, lang STRING, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(flat)
            .writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", f"{root}/_cp"),
            input_dirs=[flat],
        )
        return pin_result(spark.read.parquet(accepted_dir).select("doc_id", "lang"))


# ---------------------------------------------------------------------------
# ER2 — fuzzy entity matching: block-then-verify with an edit-distance
# scorer, the classic record-linkage shape complementing er1's
# SymSpell deletion-neighborhood (er1 needs no distance calls at all;
# er2 is what you run when the catalog is small enough to verify
# candidates directly and typos aren't pure deletions). Blocking on
# (length, prefix) bounds the candidate space; levenshtein runs ONLY
# on in-block pairs; a per-record window keeps the best match.
# ---------------------------------------------------------------------------


@probe(
    "er2_fuzzy_match",
    oracle="""
    WITH catalog AS (SELECT DISTINCT p_name FROM part),
    dirty AS (
      SELECT p_partkey,
             substr(p_name, 1, 2 + p_partkey % (len(p_name) - 3))
               || 'x'
               || substr(p_name, 4 + p_partkey % (len(p_name) - 3)) AS q
      FROM part WHERE p_partkey % 10 = 0),
    cand AS (
      SELECT d.p_partkey, d.q, c.p_name,
             levenshtein(d.q, c.p_name) AS dist
      FROM dirty d JOIN catalog c
        ON len(d.q) = len(c.p_name)
       AND substr(d.q, 1, 2) = substr(c.p_name, 1, 2)
      WHERE levenshtein(d.q, c.p_name) <= 1),
    best AS (
      SELECT p_partkey, q, p_name, dist,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY dist, p_name) AS rn
      FROM cand)
    SELECT p_partkey, q AS dirty_name, p_name AS matched_name,
           CAST(dist AS BIGINT) AS distance
    FROM best WHERE rn = 1
    """,
)
def er2_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER2 — every tenth part's name gets a deterministic mid-string
    character substitution (position 3 + partkey % (len-3), both
    engines build the identical dirty string), then each dirty record
    is linked back to the distinct-name catalog: block on (length,
    2-char prefix) — a substitution never changes either — verify
    in-block candidates with levenshtein <= 1, and keep the best
    (distance, name) match per record. The hash certifies blocking
    recall, the edit-distance arithmetic, and the tie-break. At 100 TB
    the same plan holds: the catalog blocks broadcast, the record side
    streams, and the quadratic scorer only ever sees one block."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part")
    catalog = p.select("p_name").distinct()
    dirty = p.filter(F.col("p_partkey") % 10 == 0).select(
        "p_partkey",
        F.concat(
            F.expr("substr(p_name, 1, CAST(2 + pmod(p_partkey, length(p_name) - 3) AS INT))"),
            F.lit("x"),
            F.expr("substr(p_name, CAST(4 + pmod(p_partkey, length(p_name) - 3) AS INT))"),
        ).alias("q"),
    )
    cand = (
        dirty.join(
            F.broadcast(catalog),
            (F.length("q") == F.length("p_name"))
            & (F.substring("q", 1, 2) == F.substring("p_name", 1, 2)),
        )
        .withColumn("dist", F.levenshtein("q", "p_name"))
        .filter(F.col("dist") <= 1)
    )
    w = Window.partitionBy("p_partkey").orderBy("dist", "p_name")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            F.col("q").alias("dirty_name"),
            F.col("p_name").alias("matched_name"),
            F.col("dist").cast("long").alias("distance"),
        )
    )


# ---------------------------------------------------------------------------
# ER3 — golden-record survivorship: the step AFTER matching (er1/er2).
# Once duplicate records are clustered, MDM systems "survive" one
# golden record per entity with per-attribute rules; the classic set is
# completeness (longest non-null), frequency (mode across sources),
# source priority (first non-null by system rank), and recency/extremum
# (max). The probe plants three deterministic source-system variants
# per customer (truncated name, corrupted segment, parity-gated
# nationkey, per-source balance jitter) and survives each attribute
# under a different rule — so the hash certifies all four rule kinds
# and their tie-breaks at once. Every rule partitions on the entity
# key: on a layout bucketed by that key the whole survivorship pass is
# exchange-free; here the windows/aggregations share one hash exchange.
# Reference counterpart: none (the reference dedupes exact rows only);
# pattern per the MDM survivorship literature.
# ---------------------------------------------------------------------------


@probe(
    "er3_golden_record",
    oracle="""
    WITH v AS (
      SELECT c_custkey, src,
             CASE src WHEN 1 THEN c_name
                      WHEN 2 THEN substr(c_name, 1,
                                         CAST(length(c_name) - 3 AS INTEGER))
             END AS name_v,
             CASE src WHEN 2 THEN 'X' || substr(c_mktsegment, 2)
                      ELSE c_mktsegment END AS seg_v,
             CASE WHEN (c_custkey + src) % 2 = 1 THEN c_nationkey + src
             END AS nat_v,
             c_acctbal + ((c_custkey * src) % 7) AS bal_v
      FROM customer CROSS JOIN (SELECT unnest([1, 2, 3]) AS src)),
    n1 AS (SELECT c_custkey, name_v AS name FROM (
             SELECT c_custkey, name_v,
                    row_number() OVER (PARTITION BY c_custkey
                                       ORDER BY length(name_v) DESC, name_v)
                      AS rn
             FROM v WHERE name_v IS NOT NULL) WHERE rn = 1),
    sc AS (SELECT c_custkey, seg_v, count(*) AS cnt FROM v
           WHERE seg_v IS NOT NULL GROUP BY 1, 2),
    s1 AS (SELECT c_custkey, seg_v AS segment FROM (
             SELECT c_custkey, seg_v,
                    row_number() OVER (PARTITION BY c_custkey
                                       ORDER BY cnt DESC, seg_v) AS rn
             FROM sc) WHERE rn = 1),
    na AS (SELECT c_custkey, nat_v FROM (
             SELECT c_custkey, nat_v,
                    row_number() OVER (PARTITION BY c_custkey ORDER BY src)
                      AS rn
             FROM v WHERE nat_v IS NOT NULL) WHERE rn = 1),
    b AS (SELECT c_custkey, round(max(bal_v), 2) AS acctbal
          FROM v GROUP BY 1)
    SELECT n1.c_custkey, name, segment, CAST(nat_v AS INTEGER) AS nationkey,
           acctbal
    FROM n1 JOIN s1 USING (c_custkey) JOIN na USING (c_custkey)
    JOIN b USING (c_custkey)
    """,
)
def er3_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER3 — one golden record per customer from three planted source
    variants (block comment above): name by COMPLETENESS (longest
    non-null, lexicographic tie-break), segment by FREQUENCY (mode,
    count-then-value tie-break), nationkey by SOURCE PRIORITY (first
    non-null in system rank), balance by EXTREMUM (max, rounded).
    Every window and aggregation partitions on c_custkey, so the four
    rules share one hash exchange; at 100 TB a layout bucketed on the
    entity key makes the pass exchange-free."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    v = (
        c.select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "c_acctbal",
            "c_nationkey",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("src"),
        )
        .select(
            "c_custkey",
            "src",
            F.when(F.col("src") == 1, F.col("c_name"))
            .when(
                F.col("src") == 2,
                F.expr("substr(c_name, 1, CAST(length(c_name) - 3 AS INT))"),
            )
            .alias("name_v"),
            F.when(
                F.col("src") == 2,
                F.concat(F.lit("X"), F.expr("substr(c_mktsegment, 2)")),
            )
            .otherwise(F.col("c_mktsegment"))
            .alias("seg_v"),
            # nat_v differs PER SOURCE (+src), so the survived value
            # certifies the src-ordered pick, not just "any non-null"
            # (ADVICE r13: a source-invariant variant made the SOURCE
            # PRIORITY rule indistinguishable from coalesce).
            F.when(
                F.pmod(F.col("c_custkey") + F.col("src"), F.lit(2)) == 1,
                F.col("c_nationkey") + F.col("src"),
            ).alias("nat_v"),
            (
                F.col("c_acctbal")
                + F.pmod(F.col("c_custkey") * F.col("src"), F.lit(7))
            ).alias("bal_v"),
        )
    )
    wn = Window.partitionBy("c_custkey").orderBy(
        F.length("name_v").desc(), F.asc("name_v")
    )
    n1 = (
        v.filter(F.col("name_v").isNotNull())
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("name_v").alias("name"))
    )
    sc = (
        v.filter(F.col("seg_v").isNotNull())
        .groupBy("c_custkey", "seg_v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ws = Window.partitionBy("c_custkey").orderBy(F.desc("cnt"), F.asc("seg_v"))
    s1 = (
        sc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("seg_v").alias("segment"))
    )
    wa = Window.partitionBy("c_custkey").orderBy("src")
    na = (
        v.filter(F.col("nat_v").isNotNull())
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("nat_v").cast("int").alias("nationkey"))
    )
    b = v.groupBy("c_custkey").agg(dround(F.max("bal_v"), 2).alias("acctbal"))
    return (
        n1.join(s1, "c_custkey")
        .join(na, "c_custkey")
        .join(b, "c_custkey")
        .select("c_custkey", "name", "segment", "nationkey", "acctbal")
    )


# ---------------------------------------------------------------------------
# ER4 — blocking-quality accounting: the two numbers every record-
# linkage textbook demands before trusting a blocking scheme —
# REDUCTION RATIO (how much of the dirty×catalog pair space the blocks
# prune) and PAIR COMPLETENESS (what fraction of TRUE matches survive
# into the candidate set). er2's planted corruption makes ground truth
# known exactly, so both metrics are computable — and the (length,
# 2-prefix) blocking is substitution-invariant at the planted
# positions, so completeness must be exactly 1.0: the probe certifies
# the blocking INVARIANT, the same way x2r certifies ANN recall.
# Counts are one aggregate over the blocked join (pairs never
# materialize wide); the pair-space denominator is a scalar product.
# ---------------------------------------------------------------------------


@probe(
    "er4_blocking_quality",
    oracle="""
    WITH catalog AS (SELECT DISTINCT p_name FROM part),
    dirty AS (
      SELECT p_partkey, p_name AS true_name,
             substr(p_name, 1, 2 + p_partkey % (len(p_name) - 3))
               || 'x'
               || substr(p_name, 4 + p_partkey % (len(p_name) - 3)) AS q
      FROM part WHERE p_partkey % 10 = 0),
    nc AS (SELECT count(*) AS n_catalog FROM catalog),
    nd AS (SELECT count(*) AS n_dirty FROM dirty),
    cand AS (SELECT count(*) AS n_candidates
             FROM dirty d JOIN catalog c
               ON len(d.q) = len(c.p_name)
              AND substr(d.q, 1, 2) = substr(c.p_name, 1, 2)),
    found AS (SELECT count(*) AS n_truth_found
              FROM dirty d
              WHERE len(d.q) = len(d.true_name)
                AND substr(d.q, 1, 2) = substr(d.true_name, 1, 2))
    SELECT CAST(n_dirty AS BIGINT) AS n_dirty,
           CAST(n_catalog AS BIGINT) AS n_catalog,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           round(1 - n_candidates / (CAST(n_dirty AS DOUBLE) * n_catalog), 6)
             AS reduction_ratio,
           CAST(n_truth_found AS BIGINT) AS n_truth_found,
           round(n_truth_found / CAST(n_dirty AS DOUBLE), 6)
             AS pair_completeness
    FROM nd, nc, cand, found
    """,
)
def er4_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER4 — reduction ratio and pair completeness of er2's (length,
    2-char-prefix) blocking against the planted ground truth (block
    comment above). One blocked-join count plus three scalar counts;
    the hash certifies the metric arithmetic and the completeness-1.0
    invariant."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )

    p = load_table(spark, sf_dir, "part")
    catalog = p.select("p_name").distinct()
    dirty = p.filter(F.col("p_partkey") % 10 == 0).select(
        "p_partkey",
        F.col("p_name").alias("true_name"),
        F.concat(
            F.expr(
                "substr(p_name, 1, CAST(2 + pmod(p_partkey, length(p_name) - 3) AS INT))"
            ),
            F.lit("x"),
            F.expr(
                "substr(p_name, CAST(4 + pmod(p_partkey, length(p_name) - 3) AS INT))"
            ),
        ).alias("q"),
    )
    nc = catalog.agg(F.count(F.lit(1)).alias("n_catalog"))
    nd = dirty.agg(F.count(F.lit(1)).alias("n_dirty"))
    cand = (
        dirty.join(
            F.broadcast(catalog),
            (F.length("q") == F.length("p_name"))
            & (F.substring("q", 1, 2) == F.substring("p_name", 1, 2)),
        )
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    found = (
        dirty.filter(
            (F.length("q") == F.length("true_name"))
            & (F.substring("q", 1, 2) == F.substring("true_name", 1, 2))
        )
        .agg(F.count(F.lit(1)).alias("n_truth_found"))
    )
    return (
        nd.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(found))
        .select(
            F.col("n_dirty").cast("long").alias("n_dirty"),
            F.col("n_catalog").cast("long").alias("n_catalog"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            dround(
                F.lit(1.0)
                - F.col("n_candidates")
                / (F.col("n_dirty").cast("double") * F.col("n_catalog")),
                6,
            ).alias("reduction_ratio"),
            F.col("n_truth_found").cast("long").alias("n_truth_found"),
            dround(
                F.col("n_truth_found") / F.col("n_dirty").cast("double"), 6
            ).alias("pair_completeness"),
        )
    )


@probe(
    "x2y_neardup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_SIMHASH_PAIRS_CTE},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(node, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.src, w.reach FROM edges e JOIN walk w ON w.node = e.dst
    ),
    comp AS (SELECT node AS doc_id, min(reach) AS canonical_id
             FROM walk GROUP BY node),
    clusters AS (
      SELECT c.canonical_id,
             count(*) AS cluster_size,
             sum(CASE WHEN c.doc_id <> c.canonical_id
                      THEN length(d.text) ELSE 0 END) AS chars_saved
      FROM comp c JOIN documents d USING (doc_id)
      GROUP BY c.canonical_id)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size - 1) AS BIGINT) AS dup_docs,
           CAST(sum(chars_saved) AS BIGINT) AS chars_saved
    FROM clusters GROUP BY cluster_size
    """,
)
def x2y_neardup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2y — the dedup ACCOUNTING panel every corpus-curation run
    reports: near-dup cluster size histogram with, per size, the
    cluster count, the documents a keep-the-minimum survivorship drops
    (size − 1 each), and the characters those drops save. Composes the
    x2i component pass (simhash pairs → min-label CC) with one join to
    the documents table — the panel itself is two metadata-sized
    aggregations over the (dup-cluster-sized, corpus-small) label
    frame. The oracle recomputes components via the recursive closure
    and the identical rollup, so the hash certifies membership AND the
    savings arithmetic."""
    comp = _memo_simhash_cc(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("_len")
    )
    clusters = (
        comp.join(docs, "doc_id")
        .groupBy("canonical_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum(
                F.when(F.col("doc_id") != F.col("canonical_id"), F.col("_len"))
                .otherwise(F.lit(0))
            ).alias("chars_saved"),
        )
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).alias("dup_docs"),
        F.sum("chars_saved").alias("chars_saved"),
    )


# ---------------------------------------------------------------------------
# x22 — cluster-safe train/val/test split: x17's md5-uniform holdout is
# leakage-safe against RE-RUNS, but it splits by doc_id — a near-dup
# pair can land one twin in train and one in test, which for LLM eval
# is contamination by construction. The fix every serious corpus
# pipeline ships: split by the near-dup CLUSTER representative, so an
# entire cluster moves as one unit. Composition of existing machinery
# (simhash pairs → connected components → canonical_id), plus the
# same counter-based md5 uniform — still partitioning-independent and
# re-run stable, now also twin-safe.
# ---------------------------------------------------------------------------

_X22_SEED = 77


@probe(
    "x22_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_SIMHASH_PAIRS_CTE},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(node, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.src, w.reach FROM edges e JOIN walk w ON w.node = e.dst
    ),
    cc AS (SELECT node AS doc_id, min(reach) AS canonical_id
           FROM walk GROUP BY node),
    reps AS (
      SELECT d.doc_id,
             coalesce(cc.canonical_id, d.doc_id) AS cluster_rep,
             cc.doc_id IS NOT NULL AS is_clustered
      FROM documents d LEFT JOIN cc USING (doc_id)),
    u AS (
      SELECT *,
             (('0x' || substr(md5('{_X22_SEED}-' || CAST(cluster_rep AS VARCHAR)), 1, 8))::UINTEGER
              / 4294967296.0) AS uu
      FROM reps)
    SELECT doc_id, CAST(cluster_rep AS BIGINT) AS cluster_rep, is_clustered,
           CASE WHEN uu < 0.90 THEN 'train'
                WHEN uu < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM u
    """,
)
def x22_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x22 — per-document (cluster_rep, split) under the cluster-safe
    holdout (block comment above): near-dup components give each doc
    its cluster's smallest id as representative (singletons represent
    themselves), and the 90/5/5 split is the counter-based md5 uniform
    of the REPRESENTATIVE — so split membership is a pure function of
    (seed, cluster), twins can never straddle an eval boundary, and
    adding documents never re-deals existing ones (they either join an
    existing cluster and inherit its side, or form a new one). The
    label side is x2i's measured-linear-to-100x component pass; the
    split itself is shuffle-free arithmetic."""
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        hash_uniform,
    )
    from realtime_financial_transactions_data_pipeline_spark.tables import load_table

    cc = _memo_simhash_cc(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    reps = d.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", "doc_id").alias("cluster_rep"),
        F.col("canonical_id").isNotNull().alias("is_clustered"),
    )
    u = hash_uniform(_X22_SEED, "cluster_rep")
    return reps.select(
        "doc_id",
        "cluster_rep",
        "is_clustered",
        F.when(u < 0.90, "train").when(u < 0.95, "val").otherwise("test").alias(
            "split"
        ),
    )


@probe(
    "x35_cross_source_dup_matrix",
    oracle="""
    WITH t AS (
      SELECT source,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS h
      FROM documents),
    c AS (SELECT h, source, count(*) AS n FROM t GROUP BY 1, 2),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CASE WHEN a.source = b.source THEN a.n * (a.n - 1) / 2
                  ELSE a.n * b.n END AS np
      FROM c a JOIN c b ON a.h = b.h AND a.source <= b.source
      WHERE a.source < b.source OR (a.source = b.source AND a.n >= 2))
    SELECT src_a, src_b,
           CAST(sum(np) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY src_a, src_b
    """,
)
def x35_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35 — duplicate-pair matrix by source pair: for every ordered
    source pair (src_a <= src_b), how many pairs of DISTINCT documents
    share a content fingerprint — the curation diagnostic that tells
    you WHERE duplication comes from (the diagonal = re-crawls within
    one source, off-diagonal = mirrors/syndication across sources)
    before x1/x2 remove it. The key is the ORDER-INSENSITIVE word-set
    fingerprint (md5 of the sorted distinct words — x3d's family):
    strict byte-equality finds nothing at sf0.01 (this corpus's
    planted dups reorder words), while the set key surfaces both the
    within-source and cross-source structure. Pair counts come from
    per-(fingerprint, source) group sizes (C(n,2) on the diagonal,
    n_a*n_b off it), so nothing pairwise ever materializes: one
    digest-keyed aggregate and a self-join whose per-key width is the
    number of SOURCES carrying the digest. Payloads never move."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )
    c = d.groupBy(fp.alias("h"), "source").agg(F.count(F.lit(1)).alias("n"))
    a = c.select("h", F.col("source").alias("src_a"), F.col("n").alias("na"))
    b = c.select("h", F.col("source").alias("src_b"), F.col("n").alias("nb"))
    pairs = (
        a.join(b, "h")
        .filter(
            (F.col("src_a") < F.col("src_b"))
            | ((F.col("src_a") == F.col("src_b")) & (F.col("na") >= 2))
        )
        .withColumn(
            "np",
            F.when(
                F.col("src_a") == F.col("src_b"),
                F.col("na") * (F.col("na") - 1) / 2,
            ).otherwise(F.col("na") * F.col("nb")),
        )
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.sum("np").cast("long").alias("n_dup_pairs")
    )


# ---------------------------------------------------------------------------
# er5 — sorted-neighborhood blocking (Hernández–Stolfo 1995), the
# third candidate-generation strategy in the ER family: er1/er2 block
# by equality keys (pair space Σ block²), er4 audits that trade-off;
# SNM instead SORTS by a fuzzy key and pairs each record with its w
# nearest neighbors in sort order — pair space is EXACTLY n·w
# regardless of key skew, the property that makes it the go-to when
# equality blocks explode. The classic formulation is a global sort +
# sliding window — i.e. the SinglePartition hazard — so this probe
# rides the r16 two-phase rank (range-partition on the key, prefix-sum
# offsets, in-partition row_number) and converts the w-window into w
# EQUI-joins on rank+d (a posexploded d ∈ 1..w fan-out, one hash join
# — never a range/theta join). Per-distance panel: candidate counts,
# same-nation and close-balance agreement rates, and a pair checksum
# pinning exact membership.
# ---------------------------------------------------------------------------

_ER5_W = 3  # neighborhood width
_ER5_BAL = 150_00  # "close balance": |Δ| <= $150 in cents


@probe(
    "er5_sorted_neighborhood",
    oracle=f"""
    WITH k AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             lower(substr(reverse(c_name), 1, 8)) AS sk
      FROM customer),
    r AS (SELECT k.*, row_number() OVER (ORDER BY sk, c_custkey) AS rnk
          FROM k),
    p AS (
      SELECT d.d, a.c_custkey AS ka, b.c_custkey AS kb,
             a.c_nationkey = b.c_nationkey AS same_nation,
             abs(a.cents - b.cents) <= {_ER5_BAL} AS close_bal
      FROM (SELECT unnest([{','.join(str(d) for d in range(1, _ER5_W + 1))}])
              AS d) d
      JOIN r a ON TRUE
      JOIN r b ON b.rnk = a.rnk + d.d)
    SELECT CAST(d AS INT) AS d,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE same_nation) AS BIGINT)
             AS n_same_nation,
           CAST(count(*) FILTER (WHERE close_bal) AS BIGINT) AS n_close_bal,
           CAST(sum(ka + kb) AS BIGINT) AS pair_checksum
    FROM p GROUP BY d
    """,
)
def er5_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """er5 — sorted-neighborhood candidate generation (block comment
    above): two-phase global rank on the fuzzy key (reversed-name
    prefix — the testdata's only high-variety string; custkey tiebreak), each record paired with its next w=3 neighbors
    via posexploded rank+d equi-joins, per-distance agreement panel.
    The oracle is the naive global-window + self-join SQL."""
    from realtime_financial_transactions_data_pipeline_spark.operators.scale import (
        two_phase_rank,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
        F.lower(F.substring(F.reverse("c_name"), 1, 8)).alias("sk"),
    )
    ranked, _ = two_phase_rank(c, ["sk", F.col("c_custkey")], "rnk")
    left = ranked.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_nationkey").alias("na"),
        F.col("cents").alias("ca"),
        F.explode(
            F.array(*[F.lit(d) for d in range(1, _ER5_W + 1)])
        ).alias("d"),
        F.col("rnk"),
    ).withColumn("rnk_b", F.col("rnk") + F.col("d"))
    right = ranked.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("nb"),
        F.col("cents").alias("cb"),
        F.col("rnk").alias("rnk_b"),
    )
    pairs = left.join(right, "rnk_b").select(
        "d",
        "ka",
        "kb",
        (F.col("na") == F.col("nb")).alias("same_nation"),
        (F.abs(F.col("ca") - F.col("cb")) <= _ER5_BAL).alias("close_bal"),
    )
    return pairs.groupBy(F.col("d").cast("int").alias("d")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.when(F.col("same_nation"), F.lit(1))).alias("n_same_nation"),
        F.count(F.when(F.col("close_bal"), F.lit(1))).alias("n_close_bal"),
        F.sum(F.col("ka") + F.col("kb")).cast("long").alias("pair_checksum"),
    )


# ---------------------------------------------------------------------------
# x2ac — MinHash estimator calibration: before trusting an LSH banding
# threshold at corpus scale you measure how accurate the signature IS
# at your k — per true near-dup pair, estimate Ĵ = matching-position
# fraction of a k-hash signature against the exact Jaccard (Broder's
# unbiasedness: E[Ĵ] = J, sd = sqrt(J(1-J)/k)). The production x2a
# signature uses JVM xxhash64 (not replayable in DuckDB), so the
# calibration signature uses the PORTABLE md5 family (the u1c/x5d
# discipline: same construction, engine-replayable PRF) — k=16 mins of
# uint32(md5('s:gram')) — making the ENTIRE estimator, not just its
# inputs, oracle-certified. Scale shape: signatures are one scan-level
# transform over the memoized shingle frame; the pair set is the
# bounded exact-Jaccard relation (≥ 0.5) from the shared posting-list
# pass; the match count is a zip_with fold — no new shuffle classes.
# ---------------------------------------------------------------------------

_X2AC_K = 16
_X2AC_J = 0.5


def _x2ac_oracle() -> str:
    return f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.grams, b.grams)) AS c,
                 len(a.grams) AS n_a, len(b.grams) AS n_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
    pj AS (SELECT id_a, id_b,
                  CAST(c AS DOUBLE) / (n_a + n_b - c) AS j
           FROM p WHERE CAST(c AS DOUBLE) / (n_a + n_b - c) >= {_X2AC_J}),
    sg AS (SELECT sh.doc_id, t.s,
                  list_min(list_transform(grams,
                    g -> ('0x' || substr(md5(CAST(t.s AS VARCHAR) || ':' || g),
                                         1, 8))::UINTEGER)) AS mh
           FROM sh, range({_X2AC_K}) t(s)),
    m AS (SELECT pj.id_a, pj.id_b, pj.j,
                 count(*) FILTER (WHERE sa.mh = sb.mh) AS n_match
          FROM pj
          JOIN sg sa ON sa.doc_id = pj.id_a
          JOIN sg sb ON sb.doc_id = pj.id_b AND sb.s = sa.s
          GROUP BY 1, 2, 3)
    SELECT id_a, id_b, round(j, 4) AS jaccard,
           CAST(n_match AS INT) AS n_match,
           round(n_match / {float(_X2AC_K)}, 4) AS est_jaccard,
           round(abs(n_match / {float(_X2AC_K)} - j), 4) AS abs_err
    FROM m
    """


@probe("x2ac_minhash_calibration", oracle=_x2ac_oracle())
def x2ac_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2ac — per-pair MinHash-vs-exact calibration panel (block
    comment above): for every exact-Jaccard ≥ {_X2AC_J} pair, the
    16-hash portable-md5 signature match count, the estimate, and the
    absolute error. The oracle replays the shingles, every signature
    min, and the estimator arithmetic."""
    grams = _corpus_grams(spark, sf_dir)
    mins = [
        F.expr(
            f"array_min(transform(grams, g -> cast(conv(substr("
            f"md5(concat('{s}:', g)), 1, 8), 16, 10) as bigint)))"
        ).alias(f"_m{s}")
        for s in range(_X2AC_K)
    ]
    sigs = grams.select("doc_id", F.array(*mins).alias("psig"))
    pc = _memo_pair_counts(spark, sf_dir)
    j = F.col("c").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    pairs = pc.filter(j >= _X2AC_J).select("id_a", "id_b", j.alias("j"))
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("psig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("psig").alias("sb"))
    m = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "n_match",
            F.expr(
                "aggregate(zip_with(sa, sb,"
                " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
                " 0, (acc, v) -> acc + v)"
            ),
        )
    )
    est = F.col("n_match") / float(_X2AC_K)
    return m.select(
        "id_a",
        "id_b",
        dround(F.col("j"), 4).alias("jaccard"),
        F.col("n_match").cast("int").alias("n_match"),
        dround(est, 4).alias("est_jaccard"),
        dround(F.abs(est - F.col("j")), 4).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# x40 — duplication taxonomy: the strategy-sizing panel a dedup
# pipeline runs FIRST — of all duplicated documents, how many are
# EXACT copies (cheap digest groupBy catches them) vs near-dups ONLY
# (need the expensive shingle/LSH machinery)? If exact covers 95 % you
# ship x1 now and schedule x2 later; if near-only dominates you don't.
# One panel row: corpus size, docs in exact-dup groups, docs in
# ≥ 0.6-Jaccard pairs, the near-ONLY remainder (near ∖ exact), clean
# docs, and doc-id checksums pinning each set exactly. Scale shape:
# the exact side is the x1 digest groupBy (16-byte md5s shuffle, never
# payloads); the near side REUSES the memoized posting-list pair frame
# (no new Σ df² pass); the taxonomy is two semi-join-shaped membership
# flags and one aggregate.
# ---------------------------------------------------------------------------


@probe(
    "x40_dup_taxonomy",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    ex AS (SELECT doc_id,
                  count(*) OVER (PARTITION BY md5(text)) > 1 AS is_exact
           FROM documents),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.grams, b.grams)) AS c,
                 len(a.grams) AS n_a, len(b.grams) AS n_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
    np AS (SELECT id_a, id_b FROM p
           WHERE CAST(c AS DOUBLE) / (n_a + n_b - c) >= {_NEARDUP_T}),
    nd AS (SELECT DISTINCT doc_id FROM (
             SELECT id_a AS doc_id FROM np
             UNION ALL SELECT id_b FROM np)),
    t AS (SELECT ex.doc_id, ex.is_exact,
                 nd.doc_id IS NOT NULL AS is_near
          FROM ex LEFT JOIN nd USING (doc_id))
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE is_exact) AS BIGINT) AS n_exact_dup,
           CAST(count(*) FILTER (WHERE is_near) AS BIGINT) AS n_near_dup,
           CAST(count(*) FILTER (WHERE is_near AND NOT is_exact) AS BIGINT)
             AS n_near_only,
           CAST(count(*) FILTER (WHERE NOT is_near AND NOT is_exact)
                AS BIGINT) AS n_clean,
           CAST(coalesce(sum(doc_id) FILTER (WHERE is_exact), 0) AS BIGINT)
             AS exact_checksum,
           CAST(coalesce(sum(doc_id) FILTER (WHERE is_near AND NOT is_exact),
                         0) AS BIGINT) AS near_only_checksum
    FROM t
    """,
)
def x40_dup_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x40 — exact-vs-near duplication taxonomy panel (block comment
    above): membership flags from the x1 digest groupBy and the
    memoized exact-Jaccard pair frame, one aggregate, checksums
    pinning each set. The oracle replays digests, pairs, and the set
    algebra."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    groups = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("h")
    )
    ex = d.select(
        "doc_id", F.md5("text").alias("h")
    ).join(F.broadcast(groups.withColumn("_e", F.lit(True))), "h", "left")
    pc = _memo_pair_counts(spark, sf_dir)
    jac = F.col("c").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("c")
    )
    np_ids = (
        pc.filter(jac >= _NEARDUP_T)
        .select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .distinct()
        .withColumn("_n", F.lit(True))
    )
    t = ex.join(F.broadcast(np_ids), "doc_id", "left").select(
        "doc_id",
        F.coalesce("_e", F.lit(False)).alias("is_exact"),
        F.coalesce("_n", F.lit(False)).alias("is_near"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("is_exact"), 1)).alias("n_exact_dup"),
        F.count(F.when(F.col("is_near"), 1)).alias("n_near_dup"),
        F.count(F.when(F.col("is_near") & ~F.col("is_exact"), 1)).alias(
            "n_near_only"
        ),
        F.count(F.when(~F.col("is_near") & ~F.col("is_exact"), 1)).alias(
            "n_clean"
        ),
        F.coalesce(
            F.sum(F.when(F.col("is_exact"), F.col("doc_id"))), F.lit(0)
        ).cast("long").alias("exact_checksum"),
        F.coalesce(
            F.sum(
                F.when(F.col("is_near") & ~F.col("is_exact"), F.col("doc_id"))
            ),
            F.lit(0),
        ).cast("long").alias("near_only_checksum"),
    )
