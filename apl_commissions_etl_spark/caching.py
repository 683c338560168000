"""Per-session state: one owner for every session-scoped memo.

The reference materializes its staging, criteria and cascade tables
once per run (TRUNCATE + INSERT...SELECT); the engine does the same
with session-shared frames (calc staging cascade, builder criteria,
LSH pair index, ANN constants, table-scan handles...).  All of that
state lives in ONE ``SessionState`` per ``SparkSession``, created under
a module lock on first use and stored on the session object itself —
so it is freed with the session, and after ``spark.stop()`` the next
session starts empty.  No table is keyed by the application id or
by ``id()``.

``session.warm_shared_caches`` fills the state from CONCURRENT
chains, and user code may race a warm-up thread into the same
accessor.  A bare ``if key not in cache: cache[key] = build()`` is
check-then-act: two threads can both miss and double-build — at best
wasted cluster work, at worst a leaked eager localCheckpoint that
nothing ever references.  ``SessionState.memo`` makes the invariant
structural: a lock-free hit, per-key locks that serialize builders for
the SAME entry while distinct entries build concurrently (so the
warm-up chains keep their parallelism), and a failed build is not
cached.  ``session_memo`` is the accessor-side form: it memoises a
``fn(spark, *args)`` under the key ``(fn, *args)``.

The state also holds the temp-view registration record read by
``sources.testdata.registered_once``, the CacheManager-backed frames
``reattach`` restores, and the reentrant AQE-off depth counter.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Hashable
from typing import TypeVar

V = TypeVar("V")


class SessionState:
    """Everything the engine memoises for one SparkSession."""

    __slots__ = ("lock", "_locks", "_values", "views", "tracked", "aqe")

    def __init__(self) -> None:
        #: guards the per-key lock table and the AQE flip counter;
        #: never held across a build
        self.lock = threading.Lock()
        self._locks: dict = {}
        self._values: dict = {}
        #: temp-view family -> sf_dir whose registration has COMPLETED
        self.views: dict[str, str] = {}
        #: session-shared frames kept alive through Spark's CacheManager
        #: — only the ``.cache()``'d staging dims register here
        #: (``session_cache`` builds checkpoints, which live as RDD
        #: blocks outside CacheManager and survive ``clearCache()`` on
        #: their own).  ``spark.catalog.clearCache()`` evicts the
        #: CacheManager ENTRIES but the memo keeps handing out the same
        #: DataFrame handles — every consumer then silently replans
        #: against full lineage (the criteria/cascade/cert_info frames
        #: recompute per query, and plan-shape contracts that rely on
        #: the cached frame's reported partitioning break). Tests that
        #: must clear the cache to see through InMemoryRelation
        #: substitution call ``reattach`` right after, which
        #: re-registers every tracked frame's cache entry.
        self.tracked: list = []
        #: reentrant AQE-off flip: [depth, original value] while any
        #: ``_aqe_off`` window is open, else None. Per SESSION (conf is
        #: per-session: two sessions sharing one app must not restore
        #: each other's value). Guarded by ``lock``; the BUILD between
        #: flip and restore runs outside it, so concurrent
        #: session_cache builds still overlap. NOTE: the flip is
        #: session-wide for its duration — unrelated queries PLANNED
        #: inside the window lose AQE's runtime re-optimization; the
        #: window is kept to the checkpoint construction only, and
        #: warm-up chains that plan concurrently accept it (their
        #: frames are checkpoint leaves whose consumers re-plan with
        #: AQE on).
        self.aqe: list | None = None

    def key_lock(self, key: Hashable) -> threading.Lock:
        """The one lock serializing work on ``key`` in this session."""
        with self.lock:
            return self._locks.setdefault(key, threading.Lock())

    def memo(self, key: Hashable, build: Callable[[], V]) -> V:
        """Memoize ``build()`` under ``key`` with double-checked per-key
        locking: the fast path is a lock-free hit; on a miss, exactly
        one thread runs the builder while others for the same key
        block, and builders for different keys never contend.  A build
        that raises leaves the slot empty, so the next call retries."""
        try:
            return self._values[key]
        except KeyError:
            pass
        with self.key_lock(key):
            if key not in self._values:
                self._values[key] = build()
            return self._values[key]

    def peek(self, key: Hashable):
        """The memoised value under ``key`` if one was built, else
        None; never builds."""
        return self._values.get(key)


_STATE_ATTR = "_apl_session_state"
_STATE_GUARD = threading.Lock()


def session_state(spark) -> SessionState:
    """The session's state, created on first use (under one module
    lock, so racing first touches agree on a single instance)."""
    st = getattr(spark, _STATE_ATTR, None)
    if st is None:
        with _STATE_GUARD:
            st = getattr(spark, _STATE_ATTR, None)
            if st is None:
                st = SessionState()
                setattr(spark, _STATE_ATTR, st)
    return st


def session_memo(fn: Callable[..., V]) -> Callable[..., V]:
    """Memoise ``fn(spark, *args)`` once per session under the key
    ``(fn, *args)`` — the shape of every shared-frame accessor.
    ``args`` must be hashable (sf_dir strings, table names)."""

    @functools.wraps(fn)
    def memoised(spark, *args):
        return session_state(spark).memo(
            (memoised, *args), lambda: fn(spark, *args)
        )

    return memoised


def track_persisted(df):
    """Record a CacheManager-backed shared frame so ``reattach`` can
    restore its cache entry after a ``clearCache()``."""
    session_state(df.sparkSession).tracked.append(df)
    return df


def reattach(spark) -> int:
    """Re-persist every tracked shared frame of ``spark`` whose
    CacheManager entry was evicted (``clearCache()``/``unpersist``).
    Lazy: the columnar batches rebuild on next use; what matters is
    that the ENTRY is back so plans substitute the cached frame (with
    its partitioning) again. Returns the number of frames
    re-registered."""
    from pyspark.storagelevel import StorageLevel

    n = 0
    for df in session_state(spark).tracked:
        if df.storageLevel == StorageLevel.NONE:
            df.persist()
            n += 1
    return n


def _big_heap(df) -> bool:
    """True when the session's JVM heap is >= 8 GiB (the configured
    bench/test/service sessions); False for the external gate's
    bare-default 1g session — and, safely, whenever the JVM handle is
    unavailable (connect mode)."""
    try:
        jvm = df.sparkSession.sparkContext._jvm
        return jvm.java.lang.Runtime.getRuntime().maxMemory() >= 8 * (1 << 30)
    except Exception:
        return False


def session_ckpt(df):
    """Eager localCheckpoint with a MEMORY-ADAPTIVE storage level —
    what every session-scoped shared frame should use.

    Deserialized blocks (the localCheckpoint default) read fastest but
    keep row OBJECTS on the heap; in the external gate's bare-default
    1g-heap session the dozen shared frames plus per-query state left
    only a ~2-query margin at the 50-slot prefix (one loaded-host
    rehearsal died at slot 48).  Serialized blocks are 3-5x smaller
    for these wide string-heavy frames and spill to disk under
    pressure, at a small per-read deserialization cost.

    So: pick by the JVM's actual max heap — small sessions (< 8 GiB,
    i.e. the gate's bare defaults) store serialized and survive the
    whole prefix with headroom (rehearsed 70/70); big sessions (the
    48g bench/test/service sessions) keep the fast deserialized level.
    On a real cluster this is the storage-level policy an admin sets
    per workload tier."""
    from pyspark.storagelevel import StorageLevel

    level = (
        StorageLevel.MEMORY_AND_DISK_DESER
        if _big_heap(df)
        else StorageLevel.MEMORY_AND_DISK  # serialized: the safe default
    )
    return df.localCheckpoint(eager=True, storageLevel=level)


_AQE_KEY = "spark.sql.adaptive.enabled"


class _aqe_off:
    """Scoped, reentrant 'AQE off' for checkpoint builds.  A plain
    save/set/restore races when two warm-up chains overlap (the second
    chain would save the first's 'false' and restore it, leaving AQE
    off session-wide); depth-counting restores the ORIGINAL value only
    when the last overlapping build finishes.  Degrades to a no-op when
    the session conf is unavailable (connect mode): the checkpoint then
    reports UnknownPartitioning — consumers re-shuffle, correctness
    unchanged — matching the other helpers' connect-mode fallbacks."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False

    def __enter__(self):
        st = session_state(self.spark)
        with st.lock:
            try:
                orig = self.spark.conf.get(_AQE_KEY, "true")
            except Exception:
                return self  # conf unavailable: degrade, flip nothing
            if st.aqe is None:
                st.aqe = [0, orig]
            st.aqe[0] += 1
            try:
                self.spark.conf.set(_AQE_KEY, "false")
                self.active = True
            except Exception:
                st.aqe[0] -= 1
                if st.aqe[0] == 0:
                    st.aqe = None
        return self

    def __exit__(self, *exc):
        if not self.active:
            return False
        st = session_state(self.spark)
        with st.lock:
            st.aqe[0] -= 1
            if st.aqe[0] == 0:
                try:
                    self.spark.conf.set(_AQE_KEY, st.aqe[1])
                finally:
                    st.aqe = None
        return False


def session_cache(df, key_cols: tuple[str, ...] = ()):
    """Partitioning-preserving session checkpoint: ``session_ckpt``
    whose LogicalRDD REPORTS the frame's hash partitioning.

    For a shared frame whose consumers aggregate / window / join on a
    key, publishing it hash-partitioned on that key removes the
    consumers' per-query Exchange outright (guide §2.4): a grouping or
    window whose keys are a SUPERSET of the partitioning keys is
    satisfied by it (hashpartitioning(k) co-locates every (k, k2)
    tuple), so the whole aggregation runs exchange-free over the
    checkpointed blocks.  ``key_cols``, when given, repartitions to
    ``defaultParallelism`` on those columns first — one build-time
    shuffle buys every downstream query's shuffle.  Values are
    partition-order independent by engine policy (exact DECIMAL /
    integer accumulation — see test_partition_invariance), so the
    keyed layout never changes results.

    Mechanism (r12): ``Dataset.localCheckpoint`` copies the executed
    plan's ``outputPartitioning`` into the LogicalRDD — but only when
    the plan is NOT adaptive (an AdaptiveSparkPlanExec reports
    UnknownPartitioning, which is how the r11 checkpoints lost their
    layout and re-shuffled per query).  Building the checkpoint with
    AQE scoped OFF captures hashpartitioning exactly (verified: a
    keyed aggregation over the result plans with zero Exchange).

    Keyed frames go through TWO checkpoints: first a LAZY one that
    truncates the lineage to a LogicalRDD leaf, then the AQE-off
    repartition+checkpoint of that leaf.  Checkpointing the
    repartition of the ORIGINAL complex plan silently lost the layout
    again: ``LogicalRDD.fromDataset`` rewrites the captured
    partitioning onto the new dataset's attribute ids, and on an
    aggregate-topped plan the physical ids drift from the logical
    output, so consumers saw a partitioning referencing stale ids and
    re-inserted the Exchange (observed on the builder criteria frame,
    re-verified r13 — hashpartitioning(GroupId#56) over a leaf whose
    output carries GroupId#79; a fresh alias projection does not
    re-align it.  The repartition-over-a-leaf form rewrites cleanly
    and its consumers plan with zero Exchange, superset grouping keys
    included).  r13: the first checkpoint is ``eager=False`` — the
    leaf's blocks then persist as a side effect of the ONE job that
    materializes the keyed copy, instead of a separate full
    materialize-then-reshuffle pass (criteria frame at sf0.1: 2.8 s ->
    2.2 s steady build, one job instead of two).  The intermediate's
    blocks are unpersisted best-effort once the keyed copy is
    materialized, exactly as before.

    Two earlier r12 designs are deliberately NOT this one: a columnar
    ``persist`` preserved partitioning but (a) kept the frame's FULL
    lineage as the InMemoryRelation child, taxing every consumer's
    planning (same-host bench: steady 35.2s vs 26.6s at r11, cold
    185s vs 73s, warm 24s vs 16s), and (b) reintroduced the r10 gate
    OOM signature in the 1g session (91-98% in-flight live-after-GC
    vs 34% for the serialized adaptive checkpoint).  The AQE-off
    checkpoint keeps the r11 plan size and memory shape everywhere —
    no heap-mode split needed."""
    spark = df.sparkSession
    if not key_cols:
        with _aqe_off(spark):
            return session_ckpt(df)
    if not _big_heap(df):
        # Small-heap (gate) sessions skip the keyed two-step: its
        # transient second copy pushed the 1g rehearsal's in-flight
        # live-after-GC to 92% of max heap (guard 85%; the plain-ckpt
        # form reads ~56%). The exchange-free consumer plans the keyed
        # layout buys are a big-session performance feature; the gate
        # only needs correctness + survival (r11 memory shape).
        return session_ckpt(df)
    from pyspark.storagelevel import StorageLevel

    # lazy leaf: lineage truncates now, blocks materialize inside the
    # keyed checkpoint's job (big-heap sessions only reach this path,
    # so the fast deserialized level is the right one)
    base = df.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK_DESER
    )
    par = spark.sparkContext.defaultParallelism
    with _aqe_off(spark):
        out = session_ckpt(base.repartition(par, *key_cols))
    try:
        # free the un-keyed intermediate: its only consumer (the keyed
        # shuffle) has materialized. The LogicalRDD leaf holds the
        # persisted rows; unpersist is safe because nothing else
        # references this private intermediate.
        leaf = base._jdf.queryExecution().analyzed()
        while leaf.children().size() > 0:
            leaf = leaf.children().head()
        leaf.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: worst case the blocks age out under pressure
    return out
