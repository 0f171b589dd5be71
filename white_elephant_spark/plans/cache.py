"""Query-result cache (§3.2 step 3; SURVEY §4 "query-result caching").

The reference memoizes serving-layer query results in an unbounded
Guava cache keyed by the YAML-serialized (method, params)
(server/app/cache_builder.rb:15-49; usage_data.rb:29,442-454), with
two deliberate design points preserved here:

1. **The user list is NOT part of the cache key** — the cached cube
   groups by *all* users; user filtering happens after the cache hit
   (usage_data.rb:62-68), so one cached roll-up serves any user
   selection.
2. **Invalidation on data load** (usage_loader.rb:195-196): the
   loader bumps a generation counter and every cached result is
   dropped.

Spark realization: ``build()`` returns the grouped roll-up DataFrame
for one (cluster, unit, zone, metric) shape and the cache stores its
**collected rows**, as the reference's Cube holds its query result in
memory. A roll-up is bounded by users × buckets, not by data volume,
so a hit runs no Spark job and the user filter, "other" sum and
zero-fill run on the driver (:class:`~white_elephant_spark.plans.api.UsageApi`).
Entries are LRU-bounded (the reference's unbounded cache is a leak at
scale); nothing is persisted, so eviction just drops the rows.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable

from pyspark.sql import DataFrame, Row


class QueryCache:
    """Thread-safe: the HTTP daemon serves concurrent handler threads
    against one cache, so the LRU map, generation counter and
    in-flight builds are guarded by one lock. ``build()`` (plan
    construction, no Spark job) runs under that lock, so it sees the
    generation its miss belongs to; the ``collect()`` runs outside it,
    so misses on different keys run their Spark jobs concurrently. A
    second request for a key whose collect is in flight waits for it
    instead of building the same (key, generation) again."""

    def __init__(self, max_entries: int = 64):
        self.max_entries = max_entries
        self._entries: OrderedDict[tuple, list[Row]] = OrderedDict()
        self._building: dict[tuple, threading.Event] = {}
        self._generation = 0
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    @property
    def generation(self) -> int:
        """Data-load counter: bumped by :meth:`invalidate`."""
        return self._generation

    def get_or_build(self, key: tuple, build: Callable[[], DataFrame]) -> list[Row]:
        """Return the collected rows for ``key``, collecting
        ``build()`` on a miss. ``key`` must exclude per-request
        selections that are applied post-cache (the user list)."""
        while True:
            with self._lock:
                rows = self._entries.get(key)
                if rows is not None:
                    self._entries.move_to_end(key)
                    self.hits += 1
                    return rows
                pending = self._building.get(key)
                if pending is None:
                    self.misses += 1
                    df = build()
                    generation = self._generation
                    done = self._building[key] = threading.Event()
                    break
            # Another thread is collecting this key: take its result
            # (or, if it failed or a data load intervened, build afresh).
            pending.wait()
        try:
            rows = df.collect()
            with self._lock:
                if generation == self._generation:  # else already stale
                    self._entries[key] = rows
                    while len(self._entries) > self.max_entries:
                        self._entries.popitem(last=False)
            return rows
        finally:
            with self._lock:
                del self._building[key]
            done.set()

    def invalidate(self) -> None:
        """I4 — called after a data load: all cached results are
        stale (usage_loader.rb:195-196)."""
        with self._lock:
            self._generation += 1
            self._entries.clear()

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()


class ReadWriteLock:
    """Drain lock for serving-vs-refresh: many concurrent readers
    (request handlers), one writer (the data refresh) that waits for
    in-flight readers to DRAIN before mutating shared Spark state.

    Why it exists: ``unpersist()`` on a cube that an in-flight query
    is actively scanning removes blocks out from under running tasks
    (local mode: blockNotFound → job failure → 500; a cluster retries
    but re-reads the whole lineage mid-query). The refresh hook must
    therefore run with zero readers in flight — found by the daemon
    soak test, not visible in any single-threaded path.

    A waiting writer also blocks NEW readers (no writer starvation
    under sustained request load); at refresh cadence (minutes-hours)
    the brief queueing is immaterial."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    def acquire_read(self) -> None:
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1

    def release_read(self) -> None:
        with self._cond:
            self._readers -= 1
            if self._readers == 0:
                self._cond.notify_all()

    def acquire_write(self) -> None:
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
            finally:
                self._writers_waiting -= 1
            self._writer = True

    def release_write(self) -> None:
        with self._cond:
            self._writer = False
            self._cond.notify_all()
