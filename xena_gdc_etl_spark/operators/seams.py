"""One per-session artifact store: the shared workload tiers and the
operator-internal persist seams.

Per session the store maps a NAME to a bounded FIFO of ``key → value``
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
  hash — a repeated call with the same inputs refreshes the same entry
  (Spark's CacheManager already dedupes same-plan ``persist()`` calls,
  so the store mirrors what the JVM caches) instead of growing — and a
  session holds at most ``SEAM_CAP`` of them, so a serving session no
  longer accumulates cached frames until block-level LRU churns.

Registering a seam beyond the cap unpersists the OLDEST one. With <=2
seams per operator call, an in-flight plan's seams are only evicted if
the caller interleaves 4+ other seam-bearing operators before consuming.
The fallout of that eviction is WORSE than a silent recompute: a
downstream join over the evicted seam plans from the child's size
ESTIMATE again (the eager fill's actual-bytes statistics die with the
cache entry), which re-opens the mis-sized corpus-scale broadcast
failure the eager fill exists to prevent — explode fan-out hidden by
static stats can bait a broadcast of a corpus-sized side. Callers that
build many seam-bearing plans before executing any of them must consume
as they go; the in-repo operators consume each plan before registering
4 more, so the cap is safe for every registered query.

``release(spark, name=None)`` deterministically unpersists what the
store holds (one name, or everything) — the between-queries hook for
benches and serving loops that want the cache manager empty.
``stats(spark)`` reads the per-name counters.

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

from pyspark.sql import DataFrame, SparkSession

SEAM_CAP = 8

# Process-wide total of seam cap evictions, under _LOCK: the eviction-
# pressure soak (scripts/serve_soak.py --evict) reads its per-iteration
# delta, which grows by (registrations - SEAM_CAP) for a loop that hits
# the cap. Per-session counts are in stats().
EVICTIONS = 0

_LOCK = threading.Lock()


class _Store:
    __slots__ = ("lock", "slots", "counts")

    def __init__(self) -> None:
        self.lock = threading.RLock()
        self.slots: dict[str, OrderedDict] = {}
        self.counts: Counter = Counter()  # (name, "hits"|"misses"|"evictions")

    def miss(self, name: str) -> OrderedDict:
        """Count a miss on ``name`` and evict its oldest entries until
        one more fits. Caller holds ``self.lock``."""
        global EVICTIONS
        self.counts[name, "misses"] += 1
        slot = self.slots.setdefault(name, OrderedDict())
        while len(slot) >= (SEAM_CAP if name == "seam" else 1):
            _, old = slot.popitem(last=False)
            self.counts[name, "evictions"] += 1
            if name == "seam":
                with _LOCK:
                    EVICTIONS += 1
            _unpersist(old)
        return slot


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
        slot = st.slots.get(name)
        if slot is not None and key in slot:
            st.counts[name, "hits"] += 1
            return slot[key]
        slot = st.miss(name)
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


def seam(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` as a bounded, releasable operator-internal seam.

    ``eager=True`` (the default) fills the cache with a ``count()`` so
    the planner sees ACTUAL bytes — broadcast at small scale, shuffle at
    corpus scale, with no hand-placed hints (the round-11 lesson: both
    lazy localCheckpoint and an unfilled cache report estimates that
    hide explode fan-out). Pass ``eager=False`` for seams whose first
    consumer fills the cache anyway (e.g. a boundary-sample collect) —
    they still get registered for bounded eviction + release.
    """
    df = df.persist()
    if eager:
        df.count()
    key = _plan_key(df)
    st = _store(df.sparkSession)
    with st.lock:
        slot = st.slots.get("seam")
        if slot is not None and key in slot:
            # same plan re-registered: one JVM cache entry, one slot —
            # refresh recency, do NOT unpersist (it would clear the
            # shared CacheManager entry under the earlier handle too)
            st.counts["seam", "hits"] += 1
            slot.move_to_end(key)
        else:
            slot = st.miss("seam")
        slot[key] = df
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
    ``hits``, ``misses``, ``evictions`` and ``entries`` (held now)."""
    st = _store(spark)
    with st.lock:
        held = Counter({(n, "entries"): len(v) for n, v in st.slots.items()})
        return st.counts + held
