"""One per-session artifact store: the shared workload tiers and the
operator-internal persist seams.

Per session the store maps a NAME to an ordered ``key → value`` slot
under one re-entrant lock, counts hits, misses and evictions per name,
and unpersists any DataFrame it pushes out. It has two uses:

- **Shared tiers** (``shared(spark, name, key, build)``): the expensive
  intermediates several registered queries start from — minhash
  signatures, LSH pairs, the IVF assignment and its cell count, τ-pairs,
  term frequencies, the pack layout (``workload._shared_*``). Each name
  holds ONE entry keyed by its parameters (``sf_dir``, τ): a new key
  unpersists the old frame before the new one is built. The build runs
  under the session lock, so concurrent callers build a tier once (and
  wait, as do other threads' seam registrations, while a build fires
  jobs); a builder may call ``shared`` again (the lock is re-entrant).
- **Seams** (``seam(df)``, name ``"seam"``): an operator that reads one
  intermediate from two or more consumers inside ONE returned plan (a
  shingle table, a bigram tf frame, the winnowing fingerprints) persists
  it as a seam. The house pattern is an EAGERLY-FILLED ``persist()`` —
  not ``localCheckpoint`` (its ``.rdd`` conversion executes stages at
  plan construction under AQE and flattens the frame to a LogicalRDD
  whose static stats hide explode fan-out), and not a bare lazy persist
  (an unfilled InMemoryRelation reports its child's estimate — the same
  lie; both baited corpus-sized broadcasts at the 100x lane, see
  ``dedup.containment_pairs``). Seams are keyed by the plan's semantic
  hash, so one slot tracks one JVM cache entry (Spark's CacheManager
  dedupes same-plan ``persist()`` calls). A repeated call with the same
  inputs is a HIT: when the JVM entry is already filled it fires no
  job — the caller gets its own frame back, and the CacheManager swaps
  the cached relation in by plan wherever that frame is used, so its
  column references resolve and the planner still sees the filled
  cache's actual bytes.

The seam bound is a floor of entries under a budget of bytes, read from
the block manager rather than from any plan statistic:

- the newest ``SEAM_CAP`` seams are always held;
- older seams stay while the session's cached bytes (memory plus disk,
  ``getRDDStorageInfo``) fit within half of the block managers' maximum
  storage memory (``_BUDGET_FRACTION``), so a serving loop that repeats
  a few more plans than ``SEAM_CAP`` hits instead of refilling;
- past that budget the oldest beyond the newest ``SEAM_CAP`` are
  unpersisted first, each taking its cached bytes off the reading. A
  storage figure that cannot be read counts as over budget, and a
  fraction of 0 leaves a plain ``SEAM_CAP``-entry FIFO.

Eviction only ever reaches seams older than the newest ``SEAM_CAP``.
With <=2 seams per operator call, an in-flight plan's seams are only
evicted if the caller interleaves 4+ other seam-bearing operators before
consuming. The fallout of that eviction is WORSE than a silent
recompute: a downstream join over the evicted seam plans from the
child's size ESTIMATE again (the eager fill's actual-bytes statistics
die with the cache entry), which re-opens the mis-sized corpus-scale
broadcast failure the eager fill exists to prevent — explode fan-out
hidden by static stats can bait a broadcast of a corpus-sized side.
Callers that build many seam-bearing plans before executing any of them
must consume as they go; the in-repo operators consume each plan before
registering 4 more, so the floor is safe for every registered query.

A held seam serves its cached rows until it is released or evicted,
just as a CacheManager entry does: rewriting the files under a held
seam's plan does not refresh it. ``release(spark, name=None)``
deterministically unpersists what the store holds (one name, or
everything) — the between-queries hook for benches and serving loops
that want the cache manager empty. ``stats(spark)`` reads the per-name
counters and takes its own storage reading for the session's cached
bytes: the seam bound reads storage only when more than ``SEAM_CAP``
seams are held, since with fewer it has nothing to evict.

The store holds only handles (the cached bytes live in the JVM block
manager); a session's store dies with the session via the
WeakKeyDictionary.
"""

from __future__ import annotations

import threading
import weakref
from collections import Counter, OrderedDict
from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

SEAM_CAP = 8

# Share of the block managers' maximum storage memory the session's
# cached bytes may fill before seams older than the newest SEAM_CAP are
# evicted; 0 evicts past SEAM_CAP unconditionally.
_BUDGET_FRACTION = 0.5

# Process-wide total of seam evictions, under _LOCK: the eviction-
# pressure soak (scripts/serve_soak.py --evict) reads its per-iteration
# delta, which grows by (registrations - SEAM_CAP) for a loop that
# overruns the budget. Per-session counts are in stats().
EVICTIONS = 0

_LOCK = threading.Lock()


class _Store:
    __slots__ = ("lock", "slots", "counts")

    def __init__(self) -> None:
        self.lock = threading.RLock()
        self.slots: dict[str, OrderedDict] = {}
        self.counts: Counter = Counter()  # (name, "hits"|"misses"|"evictions")

    def evict_oldest(self, name: str) -> None:
        """Pop, count and unpersist ``name``'s oldest entry. Caller holds
        ``self.lock``."""
        global EVICTIONS
        _, old = self.slots[name].popitem(last=False)
        self.counts[name, "evictions"] += 1
        if name == "seam":
            with _LOCK:
                EVICTIONS += 1
        _unpersist(old)


_STORES: "weakref.WeakKeyDictionary[SparkSession, _Store]" = (
    weakref.WeakKeyDictionary()
)


def _store(spark: SparkSession) -> _Store:
    with _LOCK:
        st = _STORES.get(spark)
        if st is None:
            st = _STORES[spark] = _Store()
        return st


def _unpersist(value: Any) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist(blocking=False)
        except Exception:  # pragma: no cover - stopped-session race
            pass


def shared(
    spark: SparkSession, name: str, key: Any, build: Callable[[], Any]
) -> Any:
    """The session's ``name`` artifact for ``key``: the held value on a
    hit, else ``build()`` — run under the session lock after the
    previous entry is unpersisted."""
    st = _store(spark)
    with st.lock:
        slot = st.slots.setdefault(name, OrderedDict())
        if key in slot:
            st.counts[name, "hits"] += 1
            return slot[key]
        st.counts[name, "misses"] += 1
        while slot:
            st.evict_oldest(name)
        slot[key] = value = build()
        return value


def _plan_key(df: DataFrame):
    """Semantic hash of the analyzed plan — equal for plans Spark's
    CacheManager would dedupe, so one store slot tracks one JVM cache
    entry. Falls back to the py4j object id if the internal API moves."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # pragma: no cover - internal-API drift guard
        return id(df._jdf)


def _filled_rdd(df: DataFrame) -> int | None:
    """Id of the RDD that caches ``df``'s plan once every partition is
    in the block manager; None while unfilled, uncached or unreadable.
    Fires no job: an unloaded builder is never asked for its RDD."""
    try:
        found = (
            df.sparkSession._jsparkSession.sharedState()
            .cacheManager()
            .lookupCachedData(df._jdf)
        )
        if found.isDefined():
            builder = found.get().cachedRepresentation().cacheBuilder()
            if builder.isCachedColumnBuffersLoaded():
                return builder.cachedColumnBuffers().id()
    except (Py4JError, AttributeError):  # pragma: no cover - API drift
        pass
    return None


def _storage(spark: SparkSession) -> tuple[dict[int, int], int] | None:
    """The block manager's cached bytes (memory plus disk) per RDD id and
    the block managers' maximum storage memory, or None if unreadable."""
    try:
        sc = spark.sparkContext._jsc.sc()
        cached = {
            i.id(): i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()
        }
        limits = sc.getExecutorMemoryStatus().values().iterator()
        most = 0
        while limits.hasNext():
            most += limits.next()._1()
        return cached, most
    except (Py4JError, AttributeError):  # pragma: no cover - stopped session
        return None


def _bound_seams(st: _Store, spark: SparkSession) -> None:
    """Evict seams beyond the newest ``SEAM_CAP``, oldest first, while
    the session's cached bytes exceed the budget. Caller holds
    ``st.lock``."""
    slot = st.slots["seam"]
    if len(slot) <= SEAM_CAP:
        return
    reading = _storage(spark) if _BUDGET_FRACTION > 0 else None
    if reading is not None:
        cached, most = reading
        held = sum(cached.values())
    # an unread figure counts as over budget: a SEAM_CAP-entry FIFO
    while len(slot) > SEAM_CAP and (
        reading is None or held > _BUDGET_FRACTION * most
    ):
        rdd = _filled_rdd(next(iter(slot.values())))
        st.evict_oldest("seam")
        if reading is not None:
            held -= cached.get(rdd, 0)


def seam(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` as a bounded, releasable operator-internal seam.

    ``eager=True`` (the default) fills the cache with a ``count()`` so
    the planner sees ACTUAL bytes — broadcast at small scale, shuffle at
    corpus scale, with no hand-placed hints (the round-11 lesson: both
    lazy localCheckpoint and an unfilled cache report estimates that
    hide explode fan-out). Pass ``eager=False`` for seams whose first
    consumer fills the cache anyway (e.g. a boundary-sample collect) —
    they still get registered for bounded eviction + release.

    The plan key is looked up first: a held seam whose JVM cache entry
    is filled is a hit that fires no job — its recency is refreshed and
    ``df`` itself comes back, served from the cached relation. Anything
    else persists, fills when ``eager``, and then bounds the store (see
    the module docstring): the newest ``SEAM_CAP`` seams always stay,
    older ones while the session's cached bytes fit the budget.
    """
    key = _plan_key(df)
    st = _store(df.sparkSession)
    with st.lock:
        slot = st.slots.get("seam")
        if slot is not None and key in slot and _filled_rdd(df) is not None:
            st.counts["seam", "hits"] += 1
            slot.move_to_end(key)
            return df
    df = df.persist()
    if eager:
        df.count()
    with st.lock:
        slot = st.slots.setdefault("seam", OrderedDict())
        if key in slot:
            # held but unfilled (or a racing registration): one JVM cache
            # entry, one slot — refresh recency, do NOT unpersist (it
            # would clear the shared CacheManager entry under the
            # earlier handle too)
            st.counts["seam", "hits"] += 1
            slot.move_to_end(key)
        else:
            st.counts["seam", "misses"] += 1
        slot[key] = df
        _bound_seams(st, df.sparkSession)
    return df


def release(spark: SparkSession, name: str | None = None) -> int:
    """Drop every entry the session holds under ``name`` (every name
    when None), unpersisting DataFrames; returns how many were dropped.
    After ``release(spark)`` (and absent other caches) the session's
    CacheManager is empty."""
    st = _store(spark)
    with st.lock:
        names = list(st.slots) if name is None else [name]
        dropped = [v for n in names for v in st.slots.pop(n, {}).values()]
    for value in dropped:
        _unpersist(value)
    return len(dropped)


def stats(spark: SparkSession) -> Counter:
    """The session's counts, keyed ``(name, kind)`` with kind one of
    ``hits``, ``misses``, ``evictions`` and ``entries`` (held now), plus
    ``("seam", "bytes")``: the session's cached bytes (memory plus disk)
    read now, absent when the block manager cannot be read."""
    st = _store(spark)
    with st.lock:
        held = Counter({(n, "entries"): len(v) for n, v in st.slots.items()})
        counts = st.counts + held
    reading = _storage(spark)
    if reading is not None:
        counts["seam", "bytes"] = sum(reading[0].values())
    return counts
