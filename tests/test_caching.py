"""caching.SessionState: the one per-session state owner every
session-scoped accessor routes through (warm-up chains run
concurrently, so double-build races must be structurally impossible)."""

from __future__ import annotations

import gc
import threading
import time
import weakref
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from apl_commissions_etl_spark.caching import (
    SessionState,
    session_memo,
    session_state,
)


class _FakeSession:
    """Stands in for a SparkSession: the state only needs an object it
    can hang itself on."""


def test_single_build_under_contention():
    state = SessionState()
    calls = []
    barrier = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.05)  # widen the race window
        return "value"

    def hit():
        barrier.wait()
        return state.memo(("app", "sf"), build)

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(lambda _: hit(), range(8)))
    assert results == ["value"] * 8
    assert len(calls) == 1, "builder must run exactly once per key"


def test_distinct_keys_build_concurrently():
    state = SessionState()
    in_flight = []
    peak = []
    guard = threading.Lock()
    barrier = threading.Barrier(4)

    def build(k):
        with guard:
            in_flight.append(k)
            peak.append(len(in_flight))
        time.sleep(0.05)
        with guard:
            in_flight.remove(k)
        return k

    def hit(k):
        barrier.wait()
        return state.memo(k, lambda: build(k))

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(hit, range(4)))
    assert sorted(results) == [0, 1, 2, 3]
    # different keys must not serialize behind one another
    assert max(peak) >= 2


def test_hit_path_returns_cached_value():
    state = SessionState()
    assert state.memo(("k",), lambda: 42) == 42
    assert state.memo(("k",), lambda: 0) == 42
    assert state.peek(("k",)) == 42
    assert state.peek(("other",)) is None  # peek never builds


def test_failed_build_not_cached():
    state = SessionState()
    attempts = []

    def failing():
        attempts.append(1)
        raise RuntimeError("boom")

    for _ in range(2):
        try:
            state.memo("k", failing)
        except RuntimeError:
            pass
    assert len(attempts) == 2 and state.peek("k") is None
    # a later successful build fills the slot
    assert state.memo("k", lambda: "ok") == "ok"


def test_sessions_get_separate_states():
    a, b = _FakeSession(), _FakeSession()
    assert session_state(a) is session_state(a)
    assert session_state(a) is not session_state(b)

    calls = []

    @session_memo
    def accessor(spark, sf_dir):
        calls.append((spark, sf_dir))
        return len(calls)

    assert accessor(a, "/sf") == 1
    assert accessor(a, "/sf") == 1  # hit
    assert accessor(b, "/sf") == 2  # other session: its own entry
    assert accessor(a, "/sf2") == 3  # other args: their own entry
    assert calls == [(a, "/sf"), (b, "/sf"), (a, "/sf2")]


def test_first_touch_and_memo_race_stress():
    """16 threads (more than the cores) race the first touch of a fresh
    session's state and 32 keys with a shortened switch interval: every
    thread must see one state and every key must build exactly once."""
    import sys

    spark = _FakeSession()
    builds: dict = {}
    guard = threading.Lock()
    barrier = threading.Barrier(16)

    @session_memo
    def accessor(spark, k):
        with guard:
            builds[k] = builds.get(k, 0) + 1
        return k * k

    def worker(_):
        barrier.wait(10)
        st = session_state(spark)
        return st, [accessor(spark, k) for k in range(32)]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(worker, i) for i in range(16)]
            results = [f.result(timeout=30) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert len({id(st) for st, _ in results}) == 1
    assert all(vals == [k * k for k in range(32)] for _, vals in results)
    assert builds == {k: 1 for k in range(32)}


def test_dropped_session_state_is_collected():
    class _Frame:
        def __init__(self, session):
            self.session = session

    spark = _FakeSession()
    # a memoised frame points back at its session (a DataFrame holds
    # its SparkSession); that cycle must not pin either of them
    frame = session_state(spark).memo("frame", lambda: _Frame(spark))
    session_ref, frame_ref = weakref.ref(spark), weakref.ref(frame)
    del spark, frame
    gc.collect()
    assert session_ref() is None
    assert frame_ref() is None


def test_session_ckpt_storage_level_adapts_to_heap():
    """session_ckpt picks serialized blocks under small heaps (the 1g
    gate session) and deserialized under big ones (48g bench/test
    sessions) — pinned with a stub so the policy can't silently
    regress."""
    from pyspark.storagelevel import StorageLevel

    from apl_commissions_etl_spark.caching import session_ckpt

    captured = {}

    class FakeRuntime:
        def __init__(self, heap):
            self._heap = heap

        def maxMemory(self):
            return self._heap

    class FakeDF:
        def __init__(self, heap):
            rt = FakeRuntime(heap)

            class R:
                @staticmethod
                def getRuntime():
                    return rt

            class Lang:
                Runtime = R

            class Java:
                lang = Lang

            class JVM:
                java = Java

            class SC:
                _jvm = JVM()

            class Session:
                sparkContext = SC()

            self.sparkSession = Session()

        def localCheckpoint(self, eager=True, storageLevel=None):
            captured["level"] = storageLevel
            return self

    session_ckpt(FakeDF(1 << 30))  # 1 GiB: the gate's bare default
    assert captured["level"] == StorageLevel.MEMORY_AND_DISK  # serialized

    session_ckpt(FakeDF(48 << 30))  # the 48g service session
    assert captured["level"] == StorageLevel.MEMORY_AND_DISK_DESER


def test_session_cache_reports_partitioning_and_survives_clearcache(
    spark,
):
    """The keyed session_cache contract (r12): the checkpoint's
    LogicalRDD REPORTS hashpartitioning(key), so a consumer grouping
    on the key (or a superset) plans with no consumer-side Exchange —
    and, unlike a CacheManager-backed persist, the layout survives
    ``spark.catalog.clearCache()`` untouched (checkpoint blocks are
    RDD storage, not cache entries)."""
    import pytest

    from apl_commissions_etl_spark.caching import _big_heap, session_cache

    if not _big_heap(spark.range(1)):
        pytest.skip(
            "keyed session_cache layout requires a >=8GiB driver heap "
            "(small-heap sessions deliberately fall back to the plain "
            "checkpoint — run with SPARK_DRIVER_MEM>=8g)"
        )

    df = session_cache(
        spark.range(100).withColumn("k", (F.col("id") % 7)), ("k",)
    )

    def consumer_exchanges() -> int:
        return (
            df.groupBy("k", (F.col("k") * 2).alias("k2"))
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .count("Exchange")
        )

    assert consumer_exchanges() == 0
    spark.catalog.clearCache()
    assert consumer_exchanges() == 0  # immune to cache eviction


def test_reattach_restores_evicted_cache_entries(spark):
    """clearCache() evicts CacheManager entries while the session state
    keeps handing out the same DataFrame handles; without
    re-attachment every consumer replans against full lineage (r12:
    the staging dims are ``.cache()``d through track_persisted).
    reattach(spark) must restore the entry for every tracked frame."""
    from pyspark.storagelevel import StorageLevel

    from apl_commissions_etl_spark.caching import (
        reattach,
        track_persisted,
    )

    df = track_persisted(
        spark.range(100).withColumn("k", (F.col("id") % 7)).cache()
    )
    df.count()
    assert df.storageLevel != StorageLevel.NONE

    spark.catalog.clearCache()
    assert df.storageLevel == StorageLevel.NONE

    n = reattach(spark)
    assert n >= 1
    assert df.storageLevel != StorageLevel.NONE
    plan_restored = (
        df.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in plan_restored
    df.unpersist()
    # keep the scratch frame out of later reattaches
    session_state(spark).tracked.remove(df)
