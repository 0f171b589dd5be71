"""Thin serving API — the reference's Sinatra routes as functions.

Mirrors server/app.rb:
- ``/api/clusters``  (:39-42)  → :meth:`UsageApi.clusters`
- ``/api/users``     (:32-37)  → :meth:`UsageApi.users`
- ``/api/usage``     (:44-107) → :meth:`UsageApi.usage` — same JSON
  shape: ``{times, users: [{user, data}], users_aggregated,
  num_aggregated_users, cluster}``
- ``/api/table``     (:110-157)→ :meth:`UsageApi.table_csv` — header
  ``time,user1,...``, local %Y-%m-%d dates, minutes→hours

:mod:`white_elephant_spark.server` wraps these 1:1 as a listening
``ThreadingHTTPServer`` (``python -m white_elephant_spark serve``).

The split follows the reference's Cube (usage_data.rb:29-138): the
roll-ups run in Spark, the shaping runs on the driver. Roll-ups are
collected once per data load into :class:`QueryCache`, keyed by
(cluster, unit, zone, metric) — the user list deliberately excluded
(usage_data.rb:442-454 note). One scan per data load memoizes each
cluster's users and A10 MIN/MAX time clamp. A cache hit then builds
the dense axis on the driver (:func:`serving.driver_axis`, beside the
Spark :func:`serving.dense_axis` the registered queries use), filters
the selected users, sums ``users_to_aggregate`` into the "other"
series and zero-fills in Python: it starts no Spark job, and a miss
starts only its roll-up's.
"""

from __future__ import annotations

import functools
import threading
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.plans import serving
from white_elephant_spark.plans.cache import QueryCache
from white_elephant_spark.plans.metrics import rollup_by_time


@dataclass
class _Cluster:
    users: list[str]  # sorted, Spark's order (NULL first)
    min_ms: int | None  # A10 clamp: MIN/MAX cube time, epoch ms
    max_ms: int | None


def _sorted(values) -> list:
    """Ascending with NULL first, as Spark's ``orderBy``."""
    return sorted(values, key=lambda v: (v is not None, v))


class UsageApi:
    def __init__(self, spark: SparkSession, cube: DataFrame, max_cache_entries: int = 64):
        self.spark = spark
        self.cube = cube
        self.cache = QueryCache(max_cache_entries)
        self._dims: tuple[int, dict[str, _Cluster]] | None = None
        self._dims_lock = threading.Lock()
        # zone id -> tzinfo; only resolved ids are kept (errors are not
        # cached) and the ids come from requests, so the memo is bounded
        self._zone = functools.lru_cache(maxsize=max_cache_entries)(
            functools.partial(serving.resolve_zone, spark)
        )

    # -- per-data-load dimension memo --------------------------------
    def _clusters(self) -> dict[str, _Cluster]:
        """{cluster: users and time clamp}, in cluster order, scanned
        once per cache generation. The scan is one Spark job: the
        single-partition input needs no shuffle before the group-by
        (a shuffled group-by is two jobs under AQE), and its output is
        one row per (cluster, user)."""
        with self._dims_lock:
            generation = self.cache.generation
            if self._dims is None or self._dims[0] != generation:
                rows = (
                    self.cube.coalesce(1)
                    .groupBy("cluster", "user")
                    .agg(
                        F.unix_millis(F.min("time").cast("timestamp")).alias("min_ms"),
                        F.unix_millis(F.max("time").cast("timestamp")).alias("max_ms"),
                    )
                    .collect()
                )
                by_cluster: dict[str, list] = {}
                for r in rows:
                    by_cluster.setdefault(r["cluster"], []).append(r)
                dims = {}
                for c in _sorted(by_cluster):
                    rs = by_cluster[c]
                    dims[c] = _Cluster(
                        _sorted(r["user"] for r in rs),
                        min((r["min_ms"] for r in rs if r["min_ms"] is not None), default=None),
                        max((r["max_ms"] for r in rs if r["max_ms"] is not None), default=None),
                    )
                self._dims = (generation, dims)
            return self._dims[1]

    # -- dimension endpoints (A9) ------------------------------------
    def clusters(self) -> list[str]:
        return list(self._clusters())

    def users(self, cluster: str) -> list[str]:
        dims = self._clusters().get(cluster)
        return list(dims.users) if dims else []

    # -- series machinery --------------------------------------------
    def _series(
        self, cluster: str, unit: str, zone: str, metric: str, users: set[str]
    ) -> dict[str, dict[datetime, float]]:
        """{user: {bucket: value}} of the cached roll-up, for ``users``."""
        rows = self.cache.get_or_build(
            (cluster, unit, zone, metric),
            lambda: rollup_by_time(self.cube, metric, cluster, unit, zone),
        )
        out: dict[str, dict[datetime, float]] = {u: {} for u in users}
        for r in rows:
            if r["userName"] in out:
                out[r["userName"]][r["bucket"]] = r["value"]
        return out

    def _axis(
        self, cluster: str, unit: str, zone: str, start_ms: int, end_ms: int
    ) -> list[tuple[datetime, str]]:
        """The dense axis as sorted (bucket, local yyyy-MM-dd date),
        built on the driver from the request and the memoized A10
        clamp: no Spark job."""
        dims = self._clusters().get(cluster)
        lo, hi = (dims.min_ms, dims.max_ms) if dims else (None, None)
        return serving.driver_axis(unit, self._zone(zone), start_ms, end_ms, lo, hi)

    # -- /api/usage (S10) --------------------------------------------
    def usage(
        self,
        start_ms: int,
        end_ms: int,
        unit: str,
        zone: str,
        users: list[str],
        cluster: str,
        metric: str = "minutesTotal",
        users_to_aggregate: list[str] | None = None,
    ) -> dict[str, Any]:
        others = list(dict.fromkeys(users_to_aggregate or []))
        # With no series to serve there is no axis either (A12).
        axis = self._axis(cluster, unit, zone, start_ms, end_ms) if users or others else []
        series = self._series(cluster, unit, zone, metric, {*users, *others})
        buckets = [b for b, _ in axis]
        agg = None
        if others and buckets:
            agg = [
                sum((series[u].get(b, 0.0) for u in others), 0.0)
                for b in buckets
            ]
        return {
            # Buckets are naive datetimes that *are* UTC instants (the
            # cube stores hour-aligned UTC); pin the conversion so the
            # reference's epoch-ms-UTC contract (server/app.rb:80-106)
            # holds on non-UTC driver hosts too — datetime.timestamp()
            # alone would re-interpret them in the OS zone.
            "times": [int(b.replace(tzinfo=timezone.utc).timestamp() * 1000) for b in buckets],
            "users": [
                {"user": u, "data": [series[u].get(b, 0.0) for b in buckets]}
                for u in (users if buckets else [])
            ],
            "users_aggregated": agg,
            "num_aggregated_users": len(users_to_aggregate or []),
            "cluster": cluster,
        }

    # -- /api/table (S11) --------------------------------------------
    def table_csv(
        self,
        start_ms: int,
        end_ms: int,
        unit: str,
        zone: str,
        users: list[str],
        cluster: str,
        metric: str = "minutesTotal",
    ) -> str:
        axis = self._axis(cluster, unit, zone, start_ms, end_ms) if users else []
        series = self._series(cluster, unit, zone, metric, set(users))
        out = ["time," + ",".join(users)]
        for b, day in axis:
            hours = (series[u].get(b, 0.0) / 60.0 for u in users)
            out.append(day + "," + ",".join(f"{v:g}" for v in hours))
        return "\n".join(out) + "\n"

    def on_data_loaded(self) -> None:
        """I4 — invalidate cached roll-ups and the dimension memo after
        a refresh."""
        self.cache.invalidate()
