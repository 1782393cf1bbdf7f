"""The disk_fixture seam (VERDICT r07 #3) — lifecycle pins from ADVICE
r08: the cache key must include the build RECIPE (not just the source
fingerprint), and superseded generations must be pruned so the fixture
root holds exactly one dir per name."""

from __future__ import annotations

import os

import pytest

from realtime_financial_transactions_data_pipeline_spark import caching


@pytest.fixture
def fixture_root(tmp_path, monkeypatch):
    root = str(tmp_path / "fixtures")
    monkeypatch.setattr(caching, "_FIXTURE_ROOT", root)
    return root


def _dirs(root: str) -> list[str]:
    return sorted(d for d in os.listdir(root) if not d.endswith(".building"))


def touch_build(marker: str):
    def build(tmp: str) -> None:
        with open(os.path.join(tmp, "data.txt"), "w") as fh:
            fh.write(marker)

    return build


def test_fingerprint_rotation_leaves_one_dir_per_name(fixture_root):
    """Driver testdata rotation: the new fingerprint's build must delete
    the old generation — exactly one fixture dir per name survives."""
    fp_old, fp_new = "a" * 16, "b" * 16
    p1 = caching.disk_fixture("probe_input", fp_old, touch_build("v1"))
    assert os.path.exists(os.path.join(p1, "_FIXTURE_OK"))
    p2 = caching.disk_fixture("probe_input", fp_new, touch_build("v1"))
    assert p1 != p2
    assert _dirs(fixture_root) == [os.path.basename(p2)]


def test_recipe_change_invalidates_without_rename(fixture_root):
    """Same name, same source fingerprint, different build lambda: the
    recipe token must route to a FRESH dir (the old recipe's output is
    stale by construction) and prune the old one."""
    fp = "c" * 16
    p1 = caching.disk_fixture("recipe_probe", fp, touch_build("old recipe"))
    p2 = caching.disk_fixture("recipe_probe", fp, touch_build("new recipe"))
    assert p1 != p2
    with open(os.path.join(p2, "data.txt")) as fh:
        assert fh.read() == "new recipe"
    assert _dirs(fixture_root) == [os.path.basename(p2)]


def test_closure_scalar_feeds_recipe_token(fixture_root):
    """Parameters arriving via closure (the common n_slices pattern)
    must invalidate too — the lambda source alone is identical."""

    def parametrized(n: int):
        def build(tmp: str) -> None:
            with open(os.path.join(tmp, "data.txt"), "w") as fh:
                fh.write("x" * n)

        return build

    fp = "d" * 16
    p1 = caching.disk_fixture("closure_probe", fp, parametrized(3))
    p2 = caching.disk_fixture("closure_probe", fp, parametrized(5))
    assert p1 != p2
    assert _dirs(fixture_root) == [os.path.basename(p2)]


def test_unchanged_recipe_reuses_fixture(fixture_root):
    fp = "e" * 16
    build = touch_build("stable")
    p1 = caching.disk_fixture("stable_probe", fp, build)
    marker = os.path.join(p1, "data.txt")
    before = os.stat(marker).st_mtime_ns
    p2 = caching.disk_fixture("stable_probe", fp, build)
    assert p1 == p2
    assert os.stat(marker).st_mtime_ns == before  # not rebuilt


def test_failed_build_keeps_previous_generation(fixture_root):
    """Prune runs AFTER the new generation commits (ADVICE r09): a
    build() that raises must leave the prior valid fixture on disk and
    reusable, not already deleted."""
    fp_old, fp_new = "1" * 16, "2" * 16
    p1 = caching.disk_fixture("crashy_probe", fp_old, touch_build("v1"))

    def exploding(tmp: str) -> None:
        raise RuntimeError("build blew up")

    with pytest.raises(RuntimeError, match="build blew up"):
        caching.disk_fixture("crashy_probe", fp_new, exploding)
    # The old generation survives the failed build...
    assert os.path.exists(os.path.join(p1, "_FIXTURE_OK"))
    # ...and is still served for its own key without rebuilding.
    assert caching.disk_fixture("crashy_probe", fp_old, touch_build("v1")) == p1


def test_prune_is_scoped_to_the_exact_name(fixture_root):
    """A fixture name that is a prefix of another must not claim the
    longer name's dirs."""
    fp = "f" * 16
    long_path = caching.disk_fixture("t8-left", fp, touch_build("long"))
    caching.disk_fixture("t8", fp, touch_build("short"))
    assert os.path.exists(os.path.join(long_path, "_FIXTURE_OK"))


def test_prune_is_scoped_to_the_source_dir(fixture_root, tmp_path):
    """One fixture name built from two source dirs (pytest's sf0.001 and a
    harness's sf0.01) keeps both generations; a changed recipe for the
    same dir still prunes that dir's old generation."""
    fps = []
    for sf in ("sf_small", "sf_large"):
        os.makedirs(tmp_path / sf)
        (tmp_path / sf / "events.parquet").write_bytes(sf.encode())
        fps.append(caching.source_fingerprint(str(tmp_path / sf), "events"))
    small = caching.disk_fixture("slices", fps[0], touch_build("v1"))
    large = caching.disk_fixture("slices", fps[1], touch_build("v1"))
    assert small != large
    assert _dirs(fixture_root) == sorted(map(os.path.basename, [small, large]))
    small_v2 = caching.disk_fixture("slices", fps[0], touch_build("v2"))
    assert _dirs(fixture_root) == sorted(map(os.path.basename, [small_v2, large]))


# ---------------------------------------------------------------------------
# memo_persist LRU semantics (VERDICT r12 #2): round 12's FIFO at
# capacity 4 evicted the shingle/fingerprint frames before their
# min-of-2 reruns — a get must refresh recency, and capacity must cover
# the suite's ~8-frame working set.
# ---------------------------------------------------------------------------


@pytest.fixture
def empty_memo(monkeypatch):
    monkeypatch.setattr(caching, "_MEMO", {})
    return caching._MEMO


def test_memo_capacity_covers_suite_working_set():
    assert caching._MEMO_CAPACITY >= 12


def test_memo_get_refreshes_recency(spark, empty_memo, monkeypatch):
    """LRU, not FIFO: after touching the oldest entry, inserting past
    capacity must evict the UNtouched entry, and the touched one must
    still be served from cache (builder not re-invoked)."""
    monkeypatch.setattr(caching, "_MEMO_CAPACITY", 2)
    builds: list[str] = []

    def make(name: str):
        def build():
            builds.append(name)
            return spark.range(3).toDF(name)

        return build

    caching.memo_persist(spark, ("lru", "a"), make("a"))
    caching.memo_persist(spark, ("lru", "b"), make("b"))
    caching.memo_persist(spark, ("lru", "a"), make("a"))  # touch a
    caching.memo_persist(spark, ("lru", "c"), make("c"))  # evicts b, not a
    caching.memo_persist(spark, ("lru", "a"), make("a"))  # still cached
    assert builds == ["a", "b", "c"]
    caching.memo_persist(spark, ("lru", "b"), make("b"))  # b was evicted
    assert builds == ["a", "b", "c", "b"]


def test_memo_eviction_unpersists_not_errors(spark, empty_memo, monkeypatch):
    """An evicted frame's consumers recompute — the frame stays usable
    after eviction (unpersist is semantics-preserving)."""
    monkeypatch.setattr(caching, "_MEMO_CAPACITY", 1)
    df1 = caching.memo_persist(spark, ("ev", 1), lambda: spark.range(5))
    caching.memo_persist(spark, ("ev", 2), lambda: spark.range(7))
    assert df1.count() == 5  # recomputes fine post-eviction


def test_memo_single_flight_under_threads(spark, empty_memo):
    """Concurrent misses on one key build once: every caller waits for
    the first build and gets the same frame, the one the cache holds."""
    import sys
    import threading
    import time

    builds: list[int] = []

    def build():
        builds.append(1)
        time.sleep(0.3)
        return spark.range(3)

    got: list = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(
                target=lambda: got.append(caching.memo_persist(spark, ("sf",), build))
            )
            for _ in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == 4 and all(df is got[0] for df in got)
    assert list(empty_memo.values()) == [got[0]]


def test_memo_nested_builds_stay_within_capacity(spark, empty_memo, monkeypatch):
    """A builder may call memo_persist for another key (ivf_assign_ranked
    builds on ivf_centroids_memo); eviction runs after the build, so the
    nested insert cannot push the cache past capacity, and the outer
    entry is the one kept."""
    monkeypatch.setattr(caching, "_MEMO_CAPACITY", 1)

    def outer():
        inner = caching.memo_persist(spark, ("inner",), lambda: spark.range(2))
        return inner.crossJoin(spark.range(3).toDF("o"))

    df = caching.memo_persist(spark, ("outer",), outer)
    assert list(empty_memo.values()) == [df]
    assert df.count() == 6
