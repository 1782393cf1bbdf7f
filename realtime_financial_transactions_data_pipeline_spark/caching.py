"""Bounded sharing cache for probe-internal persisted DataFrames.

Several operators persist a shared intermediate (x2a's shingle pass,
x6's curated snapshot, x2h's centroids) that two plan branches consume.
A bare ``.persist()`` leaks: the probe returns a lazy DataFrame, so
there is no safe point inside the operator to unpersist, and across an
80-probe bench session sharing one SparkSession the cached blocks pile
up until the JVM's ContextCleaner happens to collect them.

``shared_persist`` keeps at most the CURRENT operator invocation's
caches alive: persisting a new DataFrame first unpersists every cache
registered by earlier invocations. Unpersisting is always
semantics-preserving in Spark (a consumer of an unpersisted plan simply
recomputes), so the only assumption is the harness's actual access
pattern — each probe's result is consumed before the next probe runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_LIVE: list[DataFrame] = []


def shared_persist(df: DataFrame, evict_previous: bool = True) -> DataFrame:
    """Persist ``df`` for intra-operator reuse. With the default
    ``evict_previous=True`` every cache registered by EARLIER calls is
    unpersisted first — correct for operators that persist exactly one
    intermediate (all current callers). An operator persisting several
    intermediates must pass ``evict_previous=False`` from its second
    call on, or it would evict its own first cache mid-build (silent
    recompute, never a wrong result)."""
    if evict_previous:
        for old in _LIVE:
            try:
                old.unpersist(blocking=False)
            except Exception:  # session may be gone in teardown paths
                pass
        _LIVE.clear()
    df = df.persist()
    _LIVE.append(df)
    return df


_MEMO: dict[tuple, DataFrame] = {}
# 32, LRU: round 12 ran with 4/FIFO and the shingle/fingerprint passes
# x2j/x16/x18/x2d reuse were evicted by newer entries (g_edges, PQ/IVF
# panels) before those probes' min-of-2 reruns — warm-cache reruns lost
# 2.6-6.8x (VERDICT r12 task #2). Round 13 routes the similarity
# family's shared frames through here too (exact_cos_scored, ivf_cents,
# pq_raw/pq_res a2+c1+sub, pq_res_src, exact_l2_top5 — VERDICT r12 #6).
# Round 17 (optimization): the registry now carries 19 DISTINCT memo
# keys (corpus_grams/simhash, pair_counts, g_pairs/g_triangles,
# curated, exact_cos_scored, lsh_bucketed, ivf_cents, kmeans_assign,
# pq_raw_{a2,c1,sub}, pq_res_{a2,c1,sub}, pq_res_src, ivfpq_res_sc,
# exact_l2_top5) — capacity 16 THRASHED the alphabetical x2* stretch
# (x2r cycles through nearly all of them: measured 6.1 s at the r17
# close with 16 keys live vs 17.2 s in the round-17 baseline after two
# more keys landed). 32 holds the whole suite's working set with
# headroom; frames are sf-bounded derived relations (scores/ids/grams,
# never payload columns), far under the 48g local heap and a rounding
# error on a cluster's storage fraction.
_MEMO_CAPACITY = 32


def memo_persist(
    spark: SparkSession, key: tuple, builder: Callable[[], DataFrame]
) -> DataFrame:
    """CROSS-probe keyed cache for derived frames several probes share
    (the word-shingle pass feeding x2a AND x2b; the simhash fingerprint
    pass feeding x2d AND x2i). ``shared_persist`` cannot express this —
    its caches die at the next operator's persist — while these frames
    are deterministic functions of (table files, derivation), so reuse
    across probes is semantics-free and saves the suite a full
    re-derivation each time (the round-5 suite spent ~23 % of wall in
    the similarity family, most of it duplicated shingling/hashing).

    POLICY (VERDICT r17 #2): this cache holds shared DERIVED relations
    only — scores, ids, grams, centroids, codes — never a probe's final
    RESULT frame built solely to make that probe's own re-invocation
    cheap. Memoizing final results is result caching, not optimization
    (the bench would time a cache read), and is out of bounds; the one
    edge case where a shared derived relation IS also a probe's entire
    result (x2i's component labels) is flagged per-run in BENCH_DETAIL
    as ``queries_memo_hit`` so timings are never misread.

    Keys are namespaced by the Spark application so a cache from a
    stopped session is never served. LRU-bounded at
    ``_MEMO_CAPACITY`` entries — a hit refreshes recency, so the
    least-recently-USED frame is evicted, not the oldest-built one.
    Eviction only unpersists (consumers of
    an evicted frame recompute, never err). This is a probe-harness
    amortization: the operators themselves still accept arbitrary
    DataFrames, and at corpus scale the same sharing is done by writing
    the derived table once (SURVEY §6 layout step)."""
    full_key = (spark.sparkContext.applicationId, *key)
    df = _MEMO.get(full_key)
    if df is not None:
        # LRU touch: move to the end so a frame that keeps getting
        # re-requested (min-of-2 reruns) outlives one-shot newcomers.
        _MEMO[full_key] = _MEMO.pop(full_key)
        return df
    while len(_MEMO) >= _MEMO_CAPACITY:
        old = _MEMO.pop(next(iter(_MEMO)))  # LRU: least-recently-used first
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    df = builder().persist()
    # NOT eagerly materialized, deliberately (r17 optimization note):
    # racing branches of a first consumer can duplicate partition
    # compute ("Block rdd_N already exists" warnings), but an eager
    # count() per build was MEASURED SLOWER overall — it serializes
    # the family's ~10 builds into driver-sequential jobs (x2r cold
    # 27.5 s lazy vs 50.1 s eager), while the lazy form overlaps the
    # builds inside the consumer's one wide job.
    _MEMO[full_key] = df
    return df


# ---------------------------------------------------------------------------
# Shared on-disk input fixtures (VERDICT r07 #3): every streaming probe
# used to rebuild its JSON-lines input slice — a Spark write job plus
# file shuffling — on EVERY invocation (and the driver invokes each
# probe twice). The inputs are deterministic functions of the source
# parquet tables, so they are safe to build once per (content
# fingerprint) and reuse across invocations, probes, sessions, and
# harness runs. Only the INPUT is shared; checkpoints and sinks stay
# per-probe, wiped each run.
# ---------------------------------------------------------------------------

#: Lifecycle: fixtures live for as long as their source parquet AND the
#: build recipe that produced them are unchanged — ``disk_fixture``'s
#: key is (name, source fingerprint, build-recipe token), and building
#: any key deletes every stale sibling of the same name AND source
#: directory, so at most ONE generation per (fixture name, source dir)
#: exists on disk at any time: pytest's sf0.001 build and a harness's
#: sf0.01 build of one fixture coexist instead of evicting each other.
_FIXTURE_ROOT = "/tmp/spark_graft_fixtures"


def _recipe_token(build) -> str:
    """Hash of the build callable's RECIPE — its source text plus any
    scalar values it closes over — folded into the fixture key so that
    editing a probe's fixture-build lambda (columns, slicing, filters,
    n_slices) invalidates the on-disk fixture even when the fixture
    name and source data are unchanged (ADVICE r08: a stale fixture
    from the old recipe was silently reused across rounds). Closure
    scalars are included because parameters like ``n_slices`` often
    arrive via closure rather than appearing literally in the lambda
    source.

    KNOWN LIMIT: a NON-scalar closure (a DataFrame built upstream of
    the lambda) contributes only the source text that USES it — its
    own definition is invisible to the token (a logical-plan hash
    would never cache-hit: expression ids differ per session).
    Convention for callers: put the content-determining derivation
    INSIDE the build lambda (see x2n), or rename the fixture when
    changing an upstream frame the lambda closes over."""
    import hashlib
    import inspect as _inspect

    try:
        src = _inspect.getsource(build)
    except (OSError, TypeError):
        src = repr(build)
    cells = []
    code = getattr(build, "__code__", None)
    for fname, cell in zip(
        getattr(code, "co_freevars", ()) or (), build.__closure__ or ()
    ):
        v = cell.cell_contents
        if isinstance(v, (int, float, str, bool, bytes, tuple)):
            cells.append(f"{fname}={v!r}")
    blob = "\n".join([src.strip(), *sorted(cells)])
    return hashlib.md5(blob.encode()).hexdigest()[:8]


def source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Cheap content fingerprint of the source parquet files (path,
    size, mtime) — the driver regenerates testdata between rounds, and
    a stale fixture must never survive that. Shaped ``<dir>-<content>``
    (8 + 16 hex): :func:`disk_fixture` prunes only generations whose
    ``<dir>`` part matches, so one fixture built from two source
    directories keeps one generation per directory."""
    import hashlib
    import os

    h = hashlib.md5()
    for t in tables:
        p = os.path.abspath(os.path.join(sf_dir, f"{t}.parquet"))
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns};".encode())
    src = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"{src}-{h.hexdigest()[:16]}"


def disk_fixture(name: str, fingerprint: str, build) -> str:
    """Return the path of the shared fixture ``name`` for source state
    ``fingerprint`` + build recipe, building it with ``build(tmp_dir)``
    on first use. The key folds in :func:`_recipe_token` so a changed
    build lambda never reuses a stale fixture. The build lands in a
    ``.building`` staging dir and is renamed into place only after the
    ``_FIXTURE_OK`` marker is written, so a crashed build is restarted,
    never half-read. The marker's leading underscore keeps Spark's file
    listing (batch and streaming) from treating it as data. After
    building, every same-name sibling built from the same source
    directory (the fingerprint's part before its last 16 hex digits,
    see :func:`source_fingerprint`) with a different key is deleted —
    superseded generations are dead by construction (ADVICE r08:
    ``_FIXTURE_ROOT`` previously accreted one dir per fingerprint as
    the driver rotated testdata) — while generations of other source
    directories stay in use. There is no cross-process lock: processes
    sharing a fixture root may build different keys at once, but two
    processes building the SAME key at once share one staging dir."""
    import os
    import re
    import shutil

    key = f"{fingerprint}-{_recipe_token(build)}"
    path = os.path.join(_FIXTURE_ROOT, f"{name}-{key}")
    if os.path.exists(os.path.join(path, "_FIXTURE_OK")):
        return path
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    # Sweep the staging dir when build() raises (ADVICE r11): without
    # this, repeated failed builds accrete one .building dir each,
    # while the post-commit prune below only runs on success.
    try:
        build(tmp)
        with open(os.path.join(tmp, "_FIXTURE_OK"), "w"):
            pass
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    # Prune superseded generations of THIS fixture name and source dir
    # only — AFTER the new build is committed, so a build() exception
    # cannot orphan a still-valid older generation (ADVICE r09). The
    # strict hex-shape match keeps a name that happens to be a prefix
    # of another (plus "-") from claiming the longer name's dirs.
    stale = re.compile(
        re.escape(f"{name}-{fingerprint[:-16]}")
        + r"[0-9a-f]{16}(-[0-9a-f]{8})?(\.building)?$"
    )
    for entry in os.listdir(_FIXTURE_ROOT):
        if stale.fullmatch(entry) and entry != f"{name}-{key}":
            shutil.rmtree(os.path.join(_FIXTURE_ROOT, entry), ignore_errors=True)
    return path


def spark_json_slices(df, tmp: str, n_slices: int, slice_col=None,
                      extra_lines=None, start_mtime: int = 1700000000) -> None:
    """Common fixture-build body: write ``df`` (or its ``slice_col % n``
    slices) as one JSON-lines file per slice with ascending pinned
    mtimes — the order the maxFilesPerTrigger=1 streaming source will
    follow. ``extra_lines[i]`` appends raw lines to slice i (watermark
    pushers); an index >= n_slices creates a pusher-only file."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    stage = f"{tmp}/_spark"
    for i in range(n_slices):
        part_df = df if slice_col is None else df.filter(slice_col % n_slices == i)
        part_df.coalesce(1).write.mode("overwrite").json(stage)
        (part,) = glob.glob(f"{stage}/part-*.json")
        shutil.move(part, f"{tmp}/{i}.json")
    shutil.rmtree(stage, ignore_errors=True)
    for i, lines in (extra_lines or {}).items():
        with open(f"{tmp}/{i}.json", "a") as fh:
            for ln in lines:
                fh.write(ln if ln.endswith("\n") else ln + "\n")
    for i in sorted(set(range(n_slices)) | set(extra_lines or {})):
        os.utime(f"{tmp}/{i}.json", (start_mtime + i, start_mtime + i))
