"""End-to-end corpus-curation pipeline (north-star X1+X2+X3 composed):
the shape of a real LLM training-data job, as one declarative plan.

Stages (all deterministic, so the WHOLE pipeline is oracle-checked):

1. **Exact dedup** — canonical doc per md5(text) group (keep lowest
   doc_id). Shuffles 16-byte digests, not payloads.
2. **Quality gate** — drop docs below a surface-statistics quality
   threshold (same formula as x3c_quality_score).
3. **Near-dup removal** — exact word-3-gram Jaccard pairs ≥ 0.6 via the
   inverted-index similarity join (dedup.jaccard_pairs_exact — no
   quadratic self-join); for each pair the later doc (higher id) drops,
   keeping the canonical earlier one. Single-level drop (the standard
   keep-first heuristic), not transitive clustering — SQL-expressible
   and deterministic.
4. **Corpus stats** — per-language doc counts, token totals, mean
   quality: the numbers a dataset card reports.

At 100 TB: stage 1 is one digest-keyed shuffle; stage 2 is a scan-level
filter; stage 3's work is bounded by shingle document frequency (word
3-grams), with a df cap available for degenerate stop-shingles; stage 4
is a partial-aggregated groupBy on ~30 language keys. Nothing in the
plan holds state proportional to corpus size on any single node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.functions.compat import dround
from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
    jaccard_pairs_exact,
)
from realtime_financial_transactions_data_pipeline_spark.registry import probe
from realtime_financial_transactions_data_pipeline_spark.tables import load_table

_QUALITY_MIN = 0.3
_NEARDUP_T = 0.6
_TOKEN_RE = "[a-zA-Z0-9]+"


def quality_col(text_col: str = "text") -> F.Column:
    """Surface-statistics quality score — the x3c formula, shared so the
    gate and the probe stay in lockstep."""
    n = F.length(text_col).cast("double")
    punct = (n - F.length(F.regexp_replace(text_col, "[.,;:!?]", ""))) / n
    digit = (n - F.length(F.regexp_replace(text_col, "[0-9]", ""))) / n
    return F.least(n / 500.0, F.lit(1.0)) * (1 - punct) * (1 - digit)


def exact_dedup_keep_first(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id doc of each exact-content group. The window
    partitions on the 16-byte digest, so the shuffle key is fixed-width
    regardless of document size."""
    w = Window.partitionBy(F.md5(text_col)).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def drop_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = _NEARDUP_T,
    max_df: int | None = None,
) -> DataFrame:
    """Remove the later (higher-id) document of every near-dup pair.
    Pairs come from the inverted-index exact-Jaccard join; the drop is
    a left_anti against the distinct id_b set."""
    pairs = jaccard_pairs_exact(
        docs, id_col=id_col, text_col=text_col, threshold=threshold, max_df=max_df
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def curate(docs: DataFrame, quality_min: float = _QUALITY_MIN) -> DataFrame:
    """The full curation chain: exact dedup → quality gate → near-dup
    drop. Returns the surviving documents with their quality score."""
    deduped = exact_dedup_keep_first(docs)
    gated = deduped.withColumn("quality", quality_col()).filter(
        (F.length("text") > 0) & (F.col("quality") >= quality_min)
    )
    # The gated set feeds BOTH the pair join and the anti-join's left
    # side; a lazy localCheckpoint materializes it once, on the first
    # job that reads it, so the dedup window + quality regexes run once.
    # (At cluster scale this is where you'd checkpoint the curated
    # snapshot anyway — it IS the dataset being produced.)
    return drop_near_duplicates(gated.localCheckpoint(eager=False))


#: Shared CTE chain replaying dedup -> quality gate -> near-dup drop;
#: the x6 and x18 oracles both build on the curated `final` set.
_X6_KEPT_CTE = f"""
    WITH dedup AS (
      SELECT * FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1),
    gated AS (
      SELECT doc_id, lang, text,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
             * (1 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                    / length(text))
             * (1 - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                    / length(text)) AS quality
      FROM dedup WHERE length(text) > 0),
    kept AS (SELECT * FROM gated WHERE quality >= {_QUALITY_MIN}),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> array_to_string(
                      string_split(text, ' ')[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)],
                      ' '))) AS grams
      FROM kept),
    losers AS (
      SELECT DISTINCT b.doc_id
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
            >= {_NEARDUP_T}),
    final AS (
      SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM losers))
"""


def _curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized curated snapshot of `documents` — the expensive
    dedup/gate/near-dup chain both x6 and x18 start from; derived once
    per (app, sf_dir) and reused across the suite (same policy as the
    shared shingle pass)."""
    from realtime_financial_transactions_data_pipeline_spark.caching import memo_persist

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        return curate(d)

    return memo_persist(spark, ("curated", sf_dir), build)


@probe(
    "x6_corpus_curation",
    oracle=f"""{_X6_KEPT_CTE}
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS n_tokens,
           round(avg(quality), 4) AS avg_quality
    FROM final GROUP BY lang
    """,
)
def x6_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline probe: documents → exact dedup →
    quality gate → near-dup removal → per-language dataset-card stats.
    Every stage is deterministic, so the whole chain is hash-verified
    against the DuckDB oracle."""
    final = _curated(spark, sf_dir)
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).cast("long").alias("n_tokens"),
        dround(F.avg("quality"), 4).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# X7-X9 — the rest of the training-data toolchain: benchmark
# decontamination, mixture sampling, token-budget sharding.
# ---------------------------------------------------------------------------

_CONTAM_K = 5  # word n-gram width for the decontamination join
_SHARD_TOKEN_BUDGET = 20_000

#: DuckDB twin of word_shingles(k=5) (same clamping as Spark's slice).
_ORACLE_SHINGLES5 = """
      SELECT doc_id, lang, list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1),
               i -> array_to_string(
                      string_split(text, ' ')[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)],
                      ' '))) AS grams
      FROM documents
"""


def contamination_check(
    docs: DataFrame,
    bench_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    k: int = _CONTAM_K,
) -> DataFrame:
    """Benchmark decontamination (the n-gram overlap check every LLM
    training pipeline runs before training): a training document is
    contaminated if it shares ANY word k-gram with the held-out
    benchmark set. ``bench_pred`` is a Column predicate selecting the
    benchmark docs.

    Scale shape: benchmarks are tiny (MBs) next to the corpus, so the
    distinct benchmark-gram set BROADCASTS and the training side
    streams through one semi-join — no shuffle of the corpus at all;
    the only wide operation is the distinct on the contaminated-id set,
    which is bounded by the corpus row count (ids, not text)."""
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        word_shingles,
    )

    # Materialized once (lazy localCheckpoint): three plan branches
    # consume the shingle pass (the benchmark gram set, the training
    # posting list, and the final per-group tally) — left as a plain
    # plan, each branch re-shingles the whole corpus (r17 optimization:
    # x7 measured 4.8 -> 2.0 s min at sf0.1).
    sh = docs.select(
        F.col(id_col), F.col(group_col), word_shingles(text_col, k).alias("grams")
    ).localCheckpoint(eager=False)
    bench_grams = (
        sh.filter(bench_pred).select(F.explode("grams").alias("gram")).distinct()
    )
    train = sh.filter(~bench_pred)
    posting = train.select(id_col, group_col, F.explode("grams").alias("gram"))
    contaminated = (
        posting.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col, group_col)
        .distinct()
    )
    return (
        train.select(id_col, group_col)
        .join(contaminated.select(id_col).withColumn("_c", F.lit(1)), id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count("_c").alias("n_contaminated"),
        )
    )


@probe(
    "x7_contamination_check",
    oracle=f"""
    WITH sh AS ({_ORACLE_SHINGLES5}),
    bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    cont AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(grams) AS gram FROM train) t
      JOIN bench USING (gram))
    SELECT train.lang,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(count(cont.doc_id) AS BIGINT) AS n_contaminated
    FROM train LEFT JOIN cont USING (doc_id)
    GROUP BY train.lang
    """,
)
def x7_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — train/benchmark n-gram decontamination: docs with
    ``doc_id % 97 == 0`` stand in for the benchmark; per-language
    contaminated counts over the rest (exact duplicates planted in the
    corpus guarantee non-zero hits)."""
    from realtime_financial_transactions_data_pipeline_spark.tables import widen_scan

    # widen_scan (r18): the shared shingle pass (checkpointed, consumed by
    # three branches) otherwise builds on the single-file scan's one task.
    d = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    return contamination_check(d, F.col("doc_id") % 97 == 0)


#: Mixture weights for the sampling probe (per-language keep rates —
#: the "data mixing" knob of a training pipeline). Drives BOTH the
#: Spark when-chain and the oracle CASE below, so editing a rate cannot
#: desynchronize them.
_MIX_RATES = {"en": 0.5, "zh": 0.3}
_MIX_DEFAULT_RATE = 0.1
_MIX_SEED = 77

_MIX_SQL_CASE = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {rate}" for lang, rate in _MIX_RATES.items()
) + f" ELSE {_MIX_DEFAULT_RATE} END"


@probe(
    "x8_stratified_sample",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             (('0x' || substr(md5('{_MIX_SEED}-' || CAST(doc_id AS VARCHAR)), 1, 8))::UINTEGER
              / 4294967296.0) AS u,
             len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS n_tok
      FROM documents),
    kept AS (
      SELECT * FROM d
      WHERE u < {_MIX_SQL_CASE})
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM kept GROUP BY lang
    """,
)
def x8_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 — deterministic stratified sampling (mixture weighting): keep
    each doc iff its counter-based uniform (md5(seed-doc_id)) falls
    under the language's mixture rate. The deterministic twin of
    ``df.sampleBy`` — same one-pass, shuffle-free scan shape, but
    reproducible across engines, partitionings and reruns (which is
    also what you want in production: resampling a 100 TB corpus must
    not depend on task scheduling)."""
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        hash_uniform,
    )

    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(_MIX_DEFAULT_RATE)
    for lang, r in reversed(_MIX_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    n_tok = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
    return (
        d.withColumn("_u", hash_uniform(_MIX_SEED, "doc_id"))
        .filter(F.col("_u") < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(n_tok).cast("long").alias("n_tokens"),
        )
    )


@probe(
    "x9_token_sharding",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS n_tok
      FROM documents),
    c AS (
      SELECT lang, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM d),
    s AS (
      SELECT lang,
             CAST(floor((cum - n_tok) / {_SHARD_TOKEN_BUDGET}.0) AS BIGINT) AS shard_id,
             n_tok
      FROM c)
    SELECT lang, shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens
    FROM s GROUP BY lang, shard_id
    """,
)
def x9_token_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 — token-budget sharding: assign documents to fixed-token-
    budget shards per language (the layout step before sequence packing
    in a training-data pipeline) via a running token total. Shard id is
    the budget-quotient of each doc's START offset, so a doc never
    splits. One window shuffle keyed by language; at 100 TB you'd
    sub-partition the window key (e.g. lang × date) to keep any single
    ordering partition bounded — the assignment rule is unchanged."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    return (
        d.select("doc_id", "lang", n_tok.alias("n_tok"))
        .withColumn(
            "shard_id",
            F.floor((cum - F.col("n_tok")) / float(_SHARD_TOKEN_BUDGET)).cast("long"),
        )
        .groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("shard_tokens"),
        )
    )


_SHUFFLE_SEED = 1234


@probe(
    "x11_deterministic_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             md5('{_SHUFFLE_SEED}-' || CAST(doc_id AS VARCHAR)) AS sk
      FROM documents)
    SELECT doc_id, lang,
           CAST(row_number() OVER (ORDER BY sk, doc_id) AS BIGINT) AS shuffle_pos
    FROM keyed
    ORDER BY shuffle_pos
    LIMIT 100
    """,
)
def x11_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 — deterministic global shuffle: the training-order step after
    packing/sharding. Ordering by ``md5(seed-doc_id)`` gives a
    reproducible pseudo-random permutation — independent of
    partitioning, task scheduling, and engine — which is what lets two
    training runs (or a resumed run) see the identical example order.
    The probe emits the first 100 positions; at corpus scale the same
    sort key drives a ``repartitionByRange`` + within-partition sort
    write (a total ordering without any single-node sort — Spark's
    range exchange samples the keys, and md5 keys are uniform so range
    bounds are balanced by construction)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = d.withColumn(
        "_sk",
        F.md5(F.concat(F.lit(f"{_SHUFFLE_SEED}-"), F.col("doc_id").cast("string"))),
    )
    # Distributed top-K first (TakeOrderedAndProject: per-partition
    # heaps, no global sort), THEN rank the 100 survivors — a global
    # row_number window over the full table would drag every row into
    # one partition.
    head = keyed.orderBy("_sk", "doc_id").limit(100)
    w = Window.orderBy("_sk", "doc_id")
    return (
        head.withColumn("shuffle_pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "lang", "shuffle_pos")
    )


# ---------------------------------------------------------------------------
# X12 — per-domain quota capping (C4 / RefinedWeb-style source caps):
# no single domain may contribute more than `cap` documents, and which
# documents survive must be deterministic and seed-driven, not
# partition-order luck. Extension beyond the reference surface.
# ---------------------------------------------------------------------------

_QUOTA_CAP = 20
_QUOTA_SEED = 77


def cap_per_domain(
    docs: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    seed: int = _QUOTA_SEED,
) -> DataFrame:
    """Keep at most ``cap`` documents per domain, selected by a
    deterministic md5 priority (seeded, engine-portable — the same
    construction as X8's mixture sampler and X11's global shuffle, so
    reruns and resumed jobs keep the identical subset).

    One window shuffle keyed by domain. Domain cardinality is Zipf-ish
    at corpus scale and a mega-domain's partition holds at most its
    pre-cap rows; if one domain dominates the corpus outright, the
    standard refinement is a two-phase count-then-sample (count per
    domain, then per-row keep iff md5-rank percentile <= cap/count) —
    noted here because the window formulation is the right default, not
    the only shape."""
    w = Window.partitionBy(domain_col).orderBy("_pri", id_col)
    return (
        docs.withColumn(
            "_pri",
            F.md5(
                F.concat(F.lit(f"{seed}-"), F.col(id_col).cast("string"))
            ),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_pri", "_rn")
    )


@probe(
    "x12_domain_quota",
    oracle=f"""
    WITH ranked AS (
      SELECT source, lang,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('{_QUOTA_SEED}-' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM ranked WHERE rn <= {_QUOTA_CAP}
    GROUP BY source
    """,
)
def x12_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 — cap every source domain at {cap} documents with seeded
    md5 priority; report per-domain kept counts and language spread.
    Hash-checked: DuckDB replays the same priority and window."""
    d = load_table(spark, sf_dir, "documents")
    kept = cap_per_domain(d, _QUOTA_CAP)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("lang").alias("n_langs"),
    )


def quantile_gate(
    docs: DataFrame,
    score_col: F.Column,
    q: float,
) -> DataFrame:
    """X13 — corpus-relative quality gate: keep documents whose score is
    at or above the corpus's exact ``q``-quantile (computed on THIS
    corpus, not a hand-tuned absolute threshold — the way production
    pipelines set per-source floors that track distribution drift).

    Scale shape: the quantile is one scalar aggregate (exact
    ``percentile`` here; swap to ``percentile_approx`` / GK at 100 TB
    for single-pass bounded memory — the filter logic is unchanged),
    broadcast back as a 1-row frame; the corpus itself is filtered in
    place with no shuffle.
    """
    scored = docs.withColumn("_score", score_col)
    thr = scored.agg(F.percentile("_score", q).alias("_thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("_score") >= F.col("_thr"))
        .drop("_thr")
    )


@probe(
    "x13_quantile_gate",
    oracle="""
    WITH scored AS (
      SELECT lang,
             least(length(text) / 500.0, 1.0)
               * (1 - (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0 / length(text))
               * (1 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text))
               AS s
      FROM documents WHERE length(text) > 0
    ),
    thr AS (SELECT quantile_cont(s, 0.25) AS t FROM scored)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_retained,
           round(avg(s), 4) AS avg_quality
    FROM scored, thr WHERE s >= t
    GROUP BY lang
    """,
)
def x13_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: drop the bottom quality quartile of the corpus (threshold =
    exact P25 of the x3c surface-statistics score, computed over the
    corpus itself), report retained docs + mean quality per language.
    Spark `percentile` and DuckDB `quantile_cont` share linear
    interpolation on identical doubles, so the gate boundary is
    bit-identical in both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    kept = quantile_gate(docs, quality_col(), q=0.25)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_retained"),
        dround(F.avg("_score"), 4).alias("avg_quality"),
    )


_SPLIT_SEED = 271828


@probe(
    "x17_train_val_test_split",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             (('0x' || substr(md5('{_SPLIT_SEED}-' || CAST(doc_id AS VARCHAR)), 1, 8))::UINTEGER
              / 4294967296.0) AS u
      FROM documents),
    s AS (
      SELECT lang, n_chars,
             CASE WHEN u < 0.90 THEN 'train'
                  WHEN u < 0.95 THEN 'val'
                  ELSE 'test' END AS split
      FROM u)
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM s GROUP BY split, lang
    """,
)
def x17_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by counter-based
    md5 uniform of the doc id — the standard leakage-safe holdout:
    membership is a pure function of (seed, doc_id), so re-running the
    pipeline, adding documents, or changing partitioning NEVER moves an
    existing doc across splits (a random() split re-deals everything).
    Shuffle-free on the corpus; the only exchange is the (split, lang)
    accounting rollup returned here."""
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        hash_uniform,
    )

    d = load_table(spark, sf_dir, "documents")
    u = hash_uniform(_SPLIT_SEED, "doc_id")
    split = (
        F.when(u < 0.90, "train").when(u < 0.95, "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


_PIPE_SHARD_BUDGET = 2_000


@probe(
    "x18_full_corpus_pipeline",
    oracle=f"""{_X6_KEPT_CTE},
    withu AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tok,
             (('0x' || substr(md5('{_SPLIT_SEED}-' || CAST(doc_id AS VARCHAR)), 1, 8))::UINTEGER
              / 4294967296.0) AS u
      FROM final),
    sp AS (
      SELECT doc_id, lang, n_tok,
             CASE WHEN u < 0.90 THEN 'train'
                  WHEN u < 0.95 THEN 'val'
                  ELSE 'test' END AS split
      FROM withu),
    cum AS (
      SELECT split, lang, n_tok,
             sum(n_tok) OVER (PARTITION BY split, lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
      FROM sp),
    sh2 AS (
      SELECT split, lang, n_tok,
             CAST(floor((c - n_tok) / {_PIPE_SHARD_BUDGET}.0) AS BIGINT) AS shard_id
      FROM cum)
    SELECT split, lang, shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens
    FROM sh2 GROUP BY split, lang, shard_id
    """,
)
def x18_full_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data run, one declarative plan: curation
    (exact dedup → quality gate → near-dup drop, the x6 chain) →
    deterministic 90/5/5 holdout split (x17's md5 uniform) →
    token-budget sharding per (split, lang) (x9's running-total rule,
    2k-token shards) → the per-shard accounting a dataset card ships.
    Every stage is deterministic, so the WHOLE pipeline is one hash —
    the oracle replays curation, split, and sharding in a single CTE
    chain. Plan: curation's digest/posting shuffles, then one window
    shuffle on (split, lang); the corpus text never shuffles after the
    curation stage because split and shard are pure functions of
    (doc_id, token count)."""
    kept = _curated(spark, sf_dir)
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        hash_uniform,
    )

    u = hash_uniform(_SPLIT_SEED, "doc_id")
    split = F.when(u < 0.90, "train").when(u < 0.95, "val").otherwise("test")
    n_tok = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
    staged = kept.select(
        "doc_id", "lang", split.alias("split"), n_tok.alias("n_tok")
    )
    w = (
        Window.partitionBy("split", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    return (
        staged.withColumn(
            "shard_id",
            F.floor((cum - F.col("n_tok")) / float(_PIPE_SHARD_BUDGET)).cast("long"),
        )
        .groupBy("split", "lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("shard_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# X19 — temperature-scaled domain-mixture rebalancing. x8/x12 apply
# FIXED per-domain rates/quotas; production mixture tuning (Pile-style
# flattening, DoReMi-ish reweighting) derives the rates FROM the
# corpus itself: kept_d ∝ count_d^T, so T=1 keeps the natural mix and
# T→0 flattens toward uniform. Two passes, both shuffle-light: a
# domain-count aggregate (|domains| rows, broadcast back), then the
# one-pass deterministic acceptance filter.
# ---------------------------------------------------------------------------

_X19_SEED = 83
_X19_T = 0.5  # exactly sqrt — correctly-rounded in both engines


@probe(
    "x19_mixture_rebalance",
    oracle=f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_total
      FROM documents GROUP BY lang),
    m AS (SELECT min(n_total) AS cmin FROM c),
    p AS (
      SELECT lang, n_total,
             power(CAST(cmin AS DOUBLE) / n_total, 1 - {_X19_T}) AS pk
      FROM c, m),
    k AS (
      SELECT d.lang, p.n_total, p.pk
      FROM documents d JOIN p USING (lang)
      WHERE (('0x' || substr(md5('{_X19_SEED}-' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UINTEGER
             / 4294967296.0) < p.pk)
    SELECT lang, n_total,
           round(pk * 1000000) / 1000000 AS p_keep,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM k GROUP BY lang, n_total, pk
    """,
)
def x19_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 — data-dependent mixture weighting: per-domain acceptance
    probability p_d = (c_min / c_d)^(1-T) (T = {_X19_T}: the kept
    distribution is ∝ c_d^T — the rarest domain keeps everything,
    dominant domains are subsampled toward balance), applied with the
    x8 counter-based md5 uniform so the sample is partitioning- and
    rerun-stable. Plan shape: domain-count aggregate (|domains| rows)
    → 1-row broadcast min gate → broadcast join of the probability
    table onto the corpus → one-pass filter; the corpus itself never
    shuffles. T = 1/2 makes the power an exact sqrt (correctly rounded
    in both engines), and p_keep is emitted dround-ed so the hash
    certifies the derived rates, not just the kept counts. At 100 TB
    the count pass is a map-side-combined aggregate and everything
    after is map-only."""
    from realtime_financial_transactions_data_pipeline_spark.functions.compat import (
        dround,
    )
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        hash_uniform,
    )

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    probs = (
        counts.crossJoin(
            F.broadcast(counts.agg(F.min("n_total").alias("_cmin")))
        )
        .withColumn(
            "pk",
            F.pow(F.col("_cmin").cast("double") / F.col("n_total"), 1 - _X19_T),
        )
        .drop("_cmin")
    )
    kept = (
        d.select("doc_id", "lang")
        .join(F.broadcast(probs), "lang")
        .withColumn("_u", hash_uniform(_X19_SEED, "doc_id"))
        .filter(F.col("_u") < F.col("pk"))
    )
    return (
        kept.groupBy("lang", "n_total", "pk")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .select(
            "lang",
            "n_total",
            dround("pk", 6).alias("p_keep"),
            "n_kept",
        )
    )


# ---------------------------------------------------------------------------
# X20 — corpus version diff: the dataset-versioning primitive (what
# changed between corpus v1 and v2, by content digest) that gates
# retraining decisions and incremental re-processing. Digest-level
# compare means payloads never move: the diff shuffles 16-byte
# digests + ids, never text.
# ---------------------------------------------------------------------------


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str, digest) -> DataFrame:
    """Per-document change classification between two corpus versions:
    'added' (id only in new), 'removed' (only in old), 'changed' (both,
    digest differs), 'unchanged'. One full-outer join on the id over
    (id, digest) projections — O(|old| + |new|) and payload-free."""
    o = old.select(F.col(id_col), digest.alias("_od"))
    n = new.select(F.col(id_col), digest.alias("_nd"))
    return (
        o.join(n, id_col, "full_outer")
        .withColumn(
            "change",
            F.when(F.col("_od").isNull(), F.lit("added"))
            .when(F.col("_nd").isNull(), F.lit("removed"))
            .when(F.col("_od") == F.col("_nd"), F.lit("unchanged"))
            .otherwise(F.lit("changed")),
        )
        .select(id_col, "change")
    )


@probe(
    "x20_corpus_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, md5(text) AS d FROM documents WHERE doc_id % 5 <> 0),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS d
      FROM documents WHERE doc_id % 7 <> 0),
    j AS (
      SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
             CASE WHEN old.d IS NULL THEN 'added'
                  WHEN new.d IS NULL THEN 'removed'
                  WHEN old.d = new.d THEN 'unchanged'
                  ELSE 'changed' END AS change
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
    SELECT change, CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM j GROUP BY change
    """,
)
def x20_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20 — diff two deterministic corpus versions: v1 drops every
    fifth doc, v2 drops every seventh and edits every third's text —
    so all four change classes occur. The probe returns per-class
    counts plus min/max doc ids (pins that classification lands on the
    right documents, not just the right totals); the oracle re-derives
    both versions and the same full-outer classification."""
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    diff = corpus_diff(old, new, "doc_id", F.md5("text"))
    return diff.groupBy("change").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# x23 — probability-proportional-to-size (Poisson PPS) sampling: the
# importance-sampling primitive behind "sample the corpus with
# inclusion probability ∝ quality weight" (upweighting long/high-value
# documents without duplicating them). Each doc draws its
# counter-based md5 uniform and is kept iff u < w/max(w) — one scan,
# no shuffle for the decision itself (max(w) is a 1-row broadcast),
# reproducible across engines/partitionings like every sampler here.
# The panel reports exact-integer accounting per source (counts, kept
# weight mass, an id checksum that pins the exact inclusion SET) plus
# the expected draw count Σw/max(w) — a single division of exact
# bigints, so the whole panel is bit-deterministic.
# ---------------------------------------------------------------------------

_PPS_SEED = 4242


def _x23_oracle() -> str:
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        sql_uniform,
    )

    return f"""
    WITH mx AS (SELECT max(n_chars) AS mw FROM documents),
    s AS (SELECT d.source, d.doc_id, d.n_chars, mx.mw,
                 {sql_uniform(_PPS_SEED, 'd.doc_id')} AS u
          FROM documents d CROSS JOIN mx),
    f AS (SELECT source, doc_id, n_chars, mw,
                 u < (n_chars * 1.0 / mw) AS take
          FROM s)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(sum(n_chars) * 1.0 / max(mw), 4) AS expected_sampled,
           CAST(count(*) FILTER (WHERE take) AS BIGINT) AS n_sampled,
           CAST(coalesce(sum(n_chars) FILTER (WHERE take), 0) AS BIGINT)
             AS sum_chars_sampled,
           CAST(coalesce(sum(doc_id) FILTER (WHERE take), 0) AS BIGINT)
             AS id_checksum
    FROM f GROUP BY source
    """


@probe("x23_pps_sample", oracle=_x23_oracle())
def x23_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x23 — Poisson PPS sample of `documents` with weight = n_chars
    (block comment above): keep each doc iff its md5 uniform falls
    under w/max(w). Per source the panel carries total and kept doc
    counts, total and kept weight mass, the expected draw count, and a
    doc-id checksum over the kept set — the checksum (plus count and
    mass) pins the exact membership of the sample, so a single flipped
    inclusion anywhere fails the hash. At 100 TB: the max(w) scalar
    broadcasts, the decision is a scan-level predicate, and the panel
    is one partial-aggregable groupBy."""
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        hash_uniform,
    )

    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("mw"))
    s = d.crossJoin(F.broadcast(mx)).withColumn(
        "u", hash_uniform(_PPS_SEED, "doc_id")
    )
    take = F.col("u") < F.col("n_chars") / F.col("mw").cast("double")
    f = s.withColumn("take", take)
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        dround(
            F.sum("n_chars") / F.max("mw").cast("double"), 4
        ).alias("expected_sampled"),
        F.count(F.when(F.col("take"), F.lit(1))).alias("n_sampled"),
        F.coalesce(
            F.sum(F.when(F.col("take"), F.col("n_chars"))), F.lit(0)
        ).cast("long").alias("sum_chars_sampled"),
        F.coalesce(
            F.sum(F.when(F.col("take"), F.col("doc_id"))), F.lit(0)
        ).cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# X26 — span-level benchmark decontamination (the curation ACTION x7
# only measures): x7 reports which docs overlap the benchmark; this
# operator REMOVES the overlapping spans and emits the cleaned text —
# the surgical alternative to dropping a whole document because one
# quoted benchmark item contaminates it (the standard practice for
# eval decontamination of pretraining corpora). Machinery is x25's
# interval union pointed cross-corpus: a corpus token is contaminated
# iff some K-window covering it appears verbatim in ANY benchmark doc.
# ---------------------------------------------------------------------------

_X26_BENCH_MOD = 7  # doc_id % 7 == 0 stands in for the benchmark set


def _x26_oracle() -> str:
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        _SPAN_K,
    )

    k = _SPAN_K
    gram = (
        f"array_to_string(w[CAST(t.i + 1 AS INTEGER):"
        f"CAST(t.i + {k} AS INTEGER)], ' ')"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT DISTINCT {gram} AS gram
      FROM toks, UNNEST(range(len(w) - {k} + 1)) AS t(i)
      WHERE doc_id % {_X26_BENCH_MOD} = 0 AND len(w) >= {k}),
    cg AS (
      SELECT doc_id, t.i AS pos, {gram} AS gram
      FROM toks, UNNEST(range(len(w) - {k} + 1)) AS t(i)
      WHERE doc_id % {_X26_BENCH_MOD} <> 0 AND len(w) >= {k}),
    hit AS (
      SELECT cg.doc_id, cg.pos, cg.pos + {k} - 1 AS e
      FROM cg JOIN bg USING (gram)),
    flagged AS (
      SELECT doc_id, pos, e,
             CASE WHEN max(e) OVER win IS NULL
                    OR pos > max(e) OVER win + 1
                  THEN 1 ELSE 0 END AS is_new
      FROM hit
      WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    spans AS (
      SELECT doc_id, island, min(pos) AS s, max(e) AS e
      FROM (SELECT doc_id, pos, e,
                   sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS island
            FROM flagged)
      GROUP BY doc_id, island),
    covered AS (
      SELECT doc_id, u.pos FROM spans, UNNEST(range(s, e + 1)) AS u(pos)),
    tok AS (
      SELECT doc_id, t.i AS pos, w[CAST(t.i + 1 AS INTEGER)] AS tk
      FROM toks, UNNEST(range(len(w))) AS t(i)
      WHERE doc_id % {_X26_BENCH_MOD} <> 0),
    clean AS (
      SELECT t.doc_id, string_agg(t.tk, ' ' ORDER BY t.pos) AS clean_text
      FROM tok t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.pos IS NULL
      GROUP BY t.doc_id),
    panel AS (
      SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS removed
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(d.w) AS BIGINT) AS doc_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.removed, 0) AS BIGINT) AS removed_tokens,
           coalesce(c.clean_text, '') AS clean_text
    FROM toks d
    LEFT JOIN panel p USING (doc_id)
    LEFT JOIN clean c USING (doc_id)
    WHERE d.doc_id % {_X26_BENCH_MOD} <> 0
    """


@probe("x26_span_decontamination", oracle=_x26_oracle())
def x26_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26 — span-level benchmark decontamination (block comment
    above): remove from every corpus doc exactly the maximal token
    spans whose K-windows appear verbatim in the benchmark set
    (doc_id % 7 == 0 stands in), and return the CLEANED TEXT itself
    under the hash — reassembly is verified character-for-character,
    not just counted. Plan shape: benchmark grams distinct (bounded
    by benchmark size — broadcastable at any corpus scale, benchmarks
    are small by nature), corpus grams left-semi against them, x25's
    interval-union window per doc, covered positions exploded from
    spans (linear in removed tokens), token-level anti join keyed
    (doc_id, pos), and one per-doc sorted fold for reassembly. Every
    shuffle is doc-keyed or benchmark-bounded; nothing is pairwise.
    At 100 TB: grams travel as digests, and the reassembly fold
    holds one document per group — the same bound every per-doc
    operator in this engine lives under."""
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        _SPAN_K,
    )

    k = _SPAN_K
    from realtime_financial_transactions_data_pipeline_spark.tables import widen_scan

    # widen_scan (r18): the gram digest transform is the scan-adjacent
    # dominant compute; the single-file scan ran it on one task.
    d = widen_scan(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    # Grams travel as xxhash64 digests, the x25 discipline: the bench
    # distinct and the semi join move 8-byte keys whether the join
    # broadcasts or shuffles — the string-keyed form fell out of
    # broadcast at the 10x smoke and shuffled 27x the gram bytes for
    # 10x input. A collision can only ever over-REMOVE (mark a clean
    # K-window contaminated, ~n²/2^65); the sf0.01 oracle replays the
    # string-keyed law every round and would hash-mismatch on one.
    grams_expr = F.expr(
        f"explode(transform(sequence(0, size(w) - {k}),"
        f" i -> struct(i AS pos,"
        f" xxhash64(concat_ws(' ', slice(w, i + 1, {k}))) AS h)))"
    )
    bench = toks.filter(F.col("doc_id") % _X26_BENCH_MOD == 0)
    corpus = toks.filter(F.col("doc_id") % _X26_BENCH_MOD != 0)
    bg = (
        bench.filter(F.size("w") >= k)
        .select(grams_expr.alias("g"))
        .select(F.col("g.h").alias("h"))
        .distinct()
    )
    cg = (
        corpus.filter(F.size("w") >= k)
        .select("doc_id", grams_expr.alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    # Benchmarks are bounded by nature (eval suites, not corpora) —
    # broadcast the digest set explicitly; on size ESTIMATES the
    # planner dropped to a shuffle join at the 10x smoke and moved
    # every corpus gram digest (153 MB) for a 3 MB build side.
    hit = cg.join(F.broadcast(bg), "h", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + k - 1).alias("e")
    )
    from realtime_financial_transactions_data_pipeline_spark.operators.dedup import (
        merge_covered_spans,
    )

    spans = merge_covered_spans(hit)
    covered = spans.select(
        "doc_id", F.explode(F.expr("sequence(s, e)")).alias("pos")
    )
    tok = corpus.select(
        "doc_id", F.posexplode("w").alias("pos", "tk")
    )
    clean = (
        tok.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, tk))),"
                    " x -> x.tk)"
                ),
            ).alias("clean_text")
        )
    )
    panel = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + F.lit(1)).alias("removed"),
    )
    return (
        corpus.select("doc_id", F.size("w").cast("long").alias("doc_tokens"))
        .join(panel, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "doc_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed", F.lit(0)).cast("long").alias("removed_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# X36 — priority sampling (Duffield–Lund–Thorup, CACM 2007): the exact-k
# companion to x23's Poisson PPS. Each doc draws priority q = w/u with
# w = n_chars and u the shared counter-based md5 uniform; the sample is
# the k docs with the largest priorities and the threshold τ is the
# (k+1)-th priority, giving the unbiased per-item mass estimator
# max(w, τ). This is THE fixed-budget weighted subsample a training-data
# pipeline draws when it wants exactly k quality-weighted documents, not
# a Poisson-variable count. Scale shape: priorities are a scan-level
# projection (u and the division are pure row functions), the top-(k+1)
# is TakeOrderedAndProject — per-partition heaps of k+1 rows, driver
# merges k+1, NO global sort, NO window — and the panel is a groupBy
# over the k survivors joined to a partial-aggregated per-source rollup.
# Determinism: u is bit-identical across engines (hash_uniform /
# sql_uniform) and IEEE division is correctly rounded, so priorities,
# the top-k membership, and τ match bit-for-bit; the estimator is
# integer millis (floor(τ·1000 + 0.5) once, then integer greatest/sum)
# so no order-dependent float accumulation touches the hash.
# ---------------------------------------------------------------------------

_X36_SEED = 9090
_X36_K = 100


def _x36_oracle() -> str:
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import sql_uniform

    return f"""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             n_chars / greatest({sql_uniform(_X36_SEED, "doc_id")},
                                2.3283064365386963e-10) AS pri
      FROM documents),
    top AS (SELECT * FROM s ORDER BY pri DESC, doc_id LIMIT {_X36_K + 1}),
    tau AS (SELECT CAST(floor(min(pri) * 1000 + 0.5) AS BIGINT)
              AS tau_millis FROM top),
    samp AS (SELECT * FROM top ORDER BY pri DESC, doc_id LIMIT {_X36_K}),
    panel AS (
      SELECT source,
             count(*) AS n_sampled,
             sum(n_chars) AS sum_chars_sampled,
             sum(doc_id) AS id_checksum,
             sum(greatest(n_chars * 1000, tau.tau_millis)) AS est_mass_millis
      FROM samp, tau GROUP BY source),
    tot AS (SELECT source, count(*) AS n_docs, sum(n_chars) AS sum_chars
            FROM documents GROUP BY source)
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.sum_chars AS BIGINT) AS sum_chars,
           CAST(coalesce(p.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(coalesce(p.sum_chars_sampled, 0) AS BIGINT)
             AS sum_chars_sampled,
           CAST(coalesce(p.id_checksum, 0) AS BIGINT) AS id_checksum,
           CAST(coalesce(p.est_mass_millis, 0) AS BIGINT) AS est_mass_millis
    FROM tot t LEFT JOIN panel p USING (source)
    """


@probe("x36_priority_sample", oracle=_x36_oracle())
def x36_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x36 — exact-k priority sample of `documents` weighted by
    n_chars (block comment above): q = w/u, keep the top k=100 by
    (q desc, doc_id), τ = the 101st priority, per-source panel with
    the DLT estimator Σ max(w·1000, τ_millis) plus the membership
    checksum that pins the exact sample. The oracle replays priorities,
    the top-k cut, τ, and the estimator from the same md5 uniforms."""
    from realtime_financial_transactions_data_pipeline_spark.sources.datagen import (
        hash_uniform,
    )

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "source",
        "n_chars",
        # The uniform is lower-bounded at 2^-32 (its own smallest
        # nonzero value) before the divide: an exactly-zero draw
        # (prob 2^-32 per doc — unreachable at test scale, latent at
        # billion-doc scale) makes Spark double division yield Infinity
        # while DuckDB yields NULL, diverging top-k membership and tau.
        # greatest() is applied identically in both engines (ADVICE r16).
        (
            F.col("n_chars")
            / F.greatest(
                hash_uniform(_X36_SEED, "doc_id"),
                F.lit(2.3283064365386963e-10),
            )
        ).alias("pri"),
    )
    # TakeOrderedAndProject: per-partition (k+1)-heaps, driver merge.
    top = s.orderBy(F.col("pri").desc(), "doc_id").limit(_X36_K + 1)
    tau = top.agg(
        F.floor(F.min("pri") * 1000 + F.lit(0.5)).cast("long").alias(
            "tau_millis"
        )
    )
    samp = top.orderBy(F.col("pri").desc(), "doc_id").limit(_X36_K)
    panel = (
        samp.crossJoin(F.broadcast(tau))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sum_chars_sampled"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum(
                F.greatest(
                    F.col("n_chars").cast("long") * 1000,
                    F.col("tau_millis"),
                )
            ).cast("long").alias("est_mass_millis"),
        )
    )
    tot = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    return tot.join(F.broadcast(panel), "source", "left").select(
        "source",
        "n_docs",
        "sum_chars",
        F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        F.coalesce("sum_chars_sampled", F.lit(0)).cast("long").alias(
            "sum_chars_sampled"
        ),
        F.coalesce("id_checksum", F.lit(0)).cast("long").alias("id_checksum"),
        F.coalesce("est_mass_millis", F.lit(0)).cast("long").alias(
            "est_mass_millis"
        ),
    )


# ---------------------------------------------------------------------------
# X37 — URL canonicalization + dedup: the FIRST dedup any web corpus
# runs — before any content hash, collapse re-crawls of the same page
# that differ only in tracking params, fragments, case, or www-prefix.
# The documents table carries no URL column, so the probe synthesizes
# one deterministically from doc_id (the _synth_pan fixture idiom:
# derived in-engine, identical in both engines): mixed-case scheme and
# host, a www. prefix, a path+id shared by each doc_id-triple, then
# parity-dependent utm_* params and a mod-5 fragment — so the RAW urls
# are all distinct and exactly the canonicalization (lowercase, strip
# www. / utm_* / fragment) re-collapses each triple. Scale shape: the
# canonical key is a chain of scan-level regexp projections (JVM
# codegen, no Python), the dup accounting is one groupBy on the
# canonical key + one summary aggregate — the x1 exact-dedup class
# with a string-normalization front.
# ---------------------------------------------------------------------------


def _x37_url_sql(idc: str) -> str:
    return (
        f"'HTTPS://WWW.Example.COM/p/' || CAST(({idc} // 3) % 97 AS VARCHAR)"
        f" || '?id=' || CAST({idc} // 3 AS VARCHAR)"
        f" || CASE WHEN {idc} % 2 = 0 THEN '&utm_source=feed&utm_campaign=c'"
        f"           || CAST({idc} % 4 AS VARCHAR) ELSE '' END"
        f" || CASE WHEN {idc} % 5 = 0 THEN '#sec-' || CAST({idc} % 9 AS VARCHAR)"
        f"    ELSE '' END"
    )


@probe(
    "x37_url_canonical_dedup",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_x37_url_sql("doc_id")} AS url FROM documents),
    c AS (SELECT doc_id, url,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(url), '#.*$', ''),
                     '&utm_[a-z_]+=[^&#]*', '', 'g'),
                   '^https://www\\.', 'https://') AS curl
          FROM u),
    g AS (SELECT curl, count(*) AS n, min(doc_id) AS keeper
          FROM c GROUP BY curl)
    SELECT CAST(count(*) AS BIGINT) AS n_canonical,
           CAST(sum(n) AS BIGINT) AS n_urls,
           CAST(count(*) FILTER (WHERE n >= 2) AS BIGINT) AS n_dup_groups,
           CAST(max(n) AS BIGINT) AS max_group,
           CAST(sum(n - 1) AS BIGINT) AS n_removable,
           CAST(sum(keeper) AS BIGINT) AS keeper_checksum
    FROM g
    """,
)
def x37_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x37 — canonicalize synthesized URLs (lowercase, strip fragment,
    utm_* params, www.) and account the dup groups the normalization
    re-collapses (block comment above). The keeper checksum pins the
    exact min-doc_id survivor set; the oracle replays the URL synth
    and every normalization step."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("HTTPS://WWW.Example.COM/p/"),
        ((F.col("doc_id") / 3).cast("long") % 97).cast("string"),
        F.lit("?id="),
        (F.col("doc_id") / 3).cast("long").cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("&utm_source=feed&utm_campaign=c"),
                (F.col("doc_id") % 4).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("#sec-"), (F.col("doc_id") % 9).cast("string")),
        ).otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), F.lit("#.*$"), F.lit("")),
            F.lit("&utm_[a-z_]+=[^&#]*"),
            F.lit(""),
        ),
        F.lit(r"^https://www\."),
        F.lit("https://"),
    )
    g = (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum("n").cast("long").alias("n_urls"),
        F.count(F.when(F.col("n") >= 2, F.lit(1))).alias("n_dup_groups"),
        F.max("n").cast("long").alias("max_group"),
        F.sum(F.col("n") - 1).cast("long").alias("n_removable"),
        F.sum("keeper").cast("long").alias("keeper_checksum"),
    )


# ---------------------------------------------------------------------------
# X38 — rendezvous (highest-random-weight) sharding: the assignment
# law a 100 TB corpus store uses so that ADDING a shard moves only
# ~1/(k+1) of the keys — consistent-hashing's simpler cousin (Thaler–
# Ravishankar 1996). weight(doc, shard) = first 32 md5 bits of
# 'shard-doc'; a doc lives on the shard with the max weight. The probe
# assigns every doc under k=8 and k=9 and accounts the movement: under
# HRW a doc moves IFF the new shard's weight beats all eight old ones
# — so moved/total ≈ 1/9 EXACTLY by symmetry of the uniform weights,
# and the panel hash-certifies both assignments (shard sizes, movement
# counts, doc-id checksums), not just the fraction. Scale shape: the
# argmax is a scan-level array_max over a 9-element struct array (JVM
# codegen, no shuffle at all until the ~9-row panel aggregate) — the
# assignment of a 100 TB corpus is embarrassingly parallel.
# ---------------------------------------------------------------------------

_X38_K = 8  # shards before; k+1 after


def _x38_oracle() -> str:
    return f"""
    WITH w AS (
      SELECT d.doc_id, t.s,
             ('0x' || substr(md5(CAST(t.s AS VARCHAR) || '-'
                                 || CAST(d.doc_id AS VARCHAR)), 1, 8))
               ::UINTEGER AS wt
      FROM documents d, range({_X38_K + 1}) t(s)),
    a8 AS (SELECT doc_id, s AS shard8 FROM (
             SELECT doc_id, s,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY wt DESC, s DESC) AS rn
             FROM w WHERE s < {_X38_K}) WHERE rn = 1),
    a9 AS (SELECT doc_id, s AS shard9 FROM (
             SELECT doc_id, s,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY wt DESC, s DESC) AS rn
             FROM w) WHERE rn = 1)
    SELECT CAST(shard8 AS INT) AS shard8,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE shard9 <> shard8) AS BIGINT)
             AS n_moved,
           CAST(coalesce(sum(doc_id) FILTER (WHERE shard9 <> shard8), 0)
                AS BIGINT) AS moved_checksum,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM a8 JOIN a9 USING (doc_id)
    GROUP BY shard8
    """


@probe("x38_rendezvous_sharding", oracle=_x38_oracle())
def x38_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x38 — HRW shard assignment under k=8 and k=9 shards with exact
    movement accounting per old shard (block comment above). Both
    argmaxes are one scan-level array_max over md5-weight structs
    (ties break to the higher shard id — astronomically unlikely at 32
    bits but the spec is total); the oracle replays every weight and
    both assignments."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def wt(s: int) -> F.Column:
        h = F.md5(
            F.concat(F.lit(f"{s}-"), F.col("doc_id").cast("string"))
        )
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")

    def argmax(k: int) -> F.Column:
        return F.array_max(
            F.array(
                *[F.struct(wt(s).alias("w"), F.lit(s).alias("s"))
                  for s in range(k)]
            )
        ).getField("s")

    a = d.select(
        "doc_id",
        argmax(_X38_K).alias("shard8"),
        argmax(_X38_K + 1).alias("shard9"),
    )
    moved = F.col("shard9") != F.col("shard8")
    return a.groupBy(F.col("shard8").cast("int").alias("shard8")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(moved, F.lit(1))).alias("n_moved"),
        F.coalesce(
            F.sum(F.when(moved, F.col("doc_id"))), F.lit(0)
        ).cast("long").alias("moved_checksum"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )
