"""QueryCache: hit reuse, user-filter-out-of-key, invalidation."""

from __future__ import annotations

from white_elephant_spark.plans.cache import QueryCache


def test_cache_hit_and_post_cache_user_filter(spark):
    cache = QueryCache()
    builds = []

    def build():
        builds.append(1)
        return spark.createDataFrame(
            [("u1", 10), ("u2", 20), ("u3", 30)], "userName string, value long"
        )

    key = ("alpha", "WEEKS", "UTC", "minutesTotal")  # no user list (§3.2 step 3)
    a = [r for r in cache.get_or_build(key, build) if r["userName"] == "u1"]
    b = [r for r in cache.get_or_build(key, build) if r["userName"] in ("u2", "u3")]
    assert len(builds) == 1  # one build serves both user selections
    assert len(a) == 1 and len(b) == 2
    assert cache.hits == 1 and cache.misses == 1


def test_invalidation_rebuilds(spark):
    cache = QueryCache()
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    cache.get_or_build(("k",), build)
    cache.invalidate()  # data load happened
    cache.get_or_build(("k",), build)
    assert len(builds) == 2
    cache.clear()


def test_lru_eviction(spark):
    cache = QueryCache(max_entries=2)
    for i in range(3):
        cache.get_or_build((i,), lambda i=i: spark.range(i + 1))
    assert len(cache._entries) == 2
    cache.clear()


def test_read_write_lock_drains_and_blocks():
    """ReadWriteLock: a writer waits for in-flight readers to drain,
    and NEW readers queue behind a waiting writer (no starvation) —
    the /api/refresh vs in-flight-query contract."""
    import threading
    import time

    from white_elephant_spark.plans.cache import ReadWriteLock

    rw = ReadWriteLock()
    order: list[str] = []
    reader_in = threading.Event()
    release_reader = threading.Event()

    def long_reader():
        rw.acquire_read()
        order.append("r1-in")
        reader_in.set()
        release_reader.wait(10)
        order.append("r1-out")
        rw.release_read()

    def writer():
        reader_in.wait(10)
        rw.acquire_write()
        order.append("w-in")
        time.sleep(0.05)
        order.append("w-out")
        rw.release_write()

    def late_reader():
        reader_in.wait(10)
        time.sleep(0.02)  # let the writer start waiting first
        rw.acquire_read()
        order.append("r2-in")
        rw.release_read()

    threads = [
        threading.Thread(target=long_reader),
        threading.Thread(target=writer),
        threading.Thread(target=late_reader),
    ]
    for t in threads:
        t.start()
    time.sleep(0.2)
    # writer must still be waiting on the in-flight reader, and the
    # late reader must be queued behind the waiting writer
    assert order == ["r1-in"]
    release_reader.set()
    for t in threads:
        t.join(10)
    assert order == ["r1-in", "r1-out", "w-in", "w-out", "r2-in"]
