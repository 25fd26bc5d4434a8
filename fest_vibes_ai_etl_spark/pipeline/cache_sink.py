"""Cache export sink (S10/S11) — the Redis materialization, Spark-shaped.

The reference SETEXes one JSON array per date (/root/reference/src/shared/
cache/redis_cache.py:194-216). Distributed equivalent: group payload rows to
one (key, json_array, ttl) row per date, then ``foreachPartition`` with a
pluggable client factory — one connection per partition, pipelined writes,
no driver collect. Redis isn't in this container, so the default client is
an in-memory dict-backed stub exercising the exact same code path; swap
``client_factory`` for ``redis.Redis`` in deployment. The returned key
count is the keys counted during the write (an accumulator), no second
pass over the plan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DictCacheClient:
    """In-memory stand-in for the Redis client (same setex surface)."""

    _stores: dict[str, dict] = {}  # per-namespace class store (test inspection)

    def __init__(self, namespace: str = "default"):
        self.store = self._stores.setdefault(namespace, {})

    def setex(self, key: str, ttl: int, value: str) -> None:
        self.store[key] = (ttl, value)

    def get(self, key: str):
        v = self.store.get(key)
        return v[1] if v else None


def aggregate_per_date(payload: DataFrame) -> DataFrame:
    """(cache_key, payload, ttl_seconds, sort_ts, event_id) rows → one row
    per cache_key with the JSON array document. Order is enforced inside the
    aggregation (array_sort on a carried sort key) — collect_list order after
    a shuffle is undefined, so the gold-side orderBy alone is not enough."""
    return (
        payload.groupBy("cache_key")
        .agg(
            F.concat(
                F.lit("["),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("sort_ts"), F.col("event_id"), F.col("payload"))
                            )
                        ),
                        lambda s: s["payload"],
                    ),
                ),
                F.lit("]"),
            ).alias("document"),
            F.min("ttl_seconds").alias("ttl_seconds"),
        )
    )


def export_to_cache(
    payload: DataFrame,
    client_factory: Callable[[], object] | None = None,
    namespace: str = "default",
) -> int:
    """Write one document per date key through the client, partition-local.
    Returns the number of keys written: keys counted during the write, no
    second pass. Each partition adds its count to an accumulator after its
    flush, and Spark applies an action's accumulator updates once per
    successful task, so retried tasks are not double-counted. Re-evaluating
    the plan to count would not be guaranteed to match the write either:
    gold carries ``current_date()`` and ``current_timestamp()``."""
    docs = aggregate_per_date(payload)
    written = payload.sparkSession.sparkContext.accumulator(0)

    def write_partition(rows) -> None:
        client = client_factory() if client_factory else DictCacheClient(namespace)
        n = 0
        for row in rows:
            client.setex(row.cache_key, int(row.ttl_seconds), row.document)
            n += 1
        flush = getattr(client, "flush", None)
        if flush is not None:  # pipelined clients buffer writes (Redis)
            flush()
        written.add(n)

    docs.foreachPartition(write_partition)
    return written.value


def redis_client_factory(
    url: str = "redis://localhost:6379/0", pipeline_size: int = 100
):
    """Real Redis wiring behind the ``CacheClient`` seam: returns a zero-arg
    factory producing a pipelined Redis client with the DictCacheClient
    surface (setex/get/flush), or None when the ``redis`` package is not
    importable (this sandbox) — the same guard-import convention as the
    model seams. One factory call per partition = one connection per
    partition; SETEX carries the TTL exactly as the reference's cache
    manager does (/root/reference/src/shared/cache/redis_cache.py:98-137),
    and writes batch through a non-transactional pipeline of
    ``pipeline_size`` commands so a 10k-key export is ~100 round trips,
    not 10k."""
    try:
        import redis  # noqa: F401
    except ImportError:
        return None

    def factory():
        import redis as _redis

        class RedisCacheClient:
            def __init__(self):
                self._r = _redis.Redis.from_url(url)
                self._pipe = self._r.pipeline(transaction=False)
                self._pending = 0

            def setex(self, key: str, ttl: int, value: str) -> None:
                self._pipe.setex(key, ttl, value)
                self._pending += 1
                if self._pending >= pipeline_size:
                    self.flush()

            def flush(self) -> None:
                if self._pending:
                    self._pipe.execute()
                    self._pending = 0

            def get(self, key: str):
                self.flush()
                v = self._r.get(key)
                return v.decode() if isinstance(v, bytes) else v

        return RedisCacheClient()

    return factory
