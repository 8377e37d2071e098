"""Optional Redis transport for offsets (O17) and topic locks (O19).

The reference ships two Redis-backed flavors of its accounting layer:

- ``accounting/RedisRemoteLockManager.kt:8-45`` — per-topic lease via
  ``SET NX PX(24h)`` keyed ``<prefix>/<name>.lock`` holding a per-app UUID;
  ``close()`` deletes the key only when the stored UUID is the closer's own.
- ``accounting/OffsetRedisPersistence.kt:34-102`` — the committed
  ``OffsetRangeSet`` serialized as one JSON document
  ``{"partitions": [{"topic", "partition", "ranges": [{"from", "to",
  "lastProcessed"}]}]}`` under a single key (``lastProcessed`` ISO-8601,
  ``WRITE_DATES_AS_TIMESTAMPS`` disabled).

These classes reproduce both wire formats against any client object that
speaks the redis-py surface (``set``/``get``/``delete``) — the container
has no redis server or package, so production use passes a real
``redis.Redis`` and tests pass an in-memory stub.  Everything is driver-
side metadata I/O: the offset document is the ledger's own
(``operators/offsets.py``: ``encode_ledger``/``decode_ledger``, merged by
``merge_intervals``), so no Spark job touches Redis.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from restructure_hdfs_topic_spark.operators.offsets import (
    committed_intervals,
    decode_ledger,
    encode_ledger,
    intervals_frame,
    merge_intervals,
)

DEFAULT_TTL_MS = 24 * 3600 * 1000  # RedisRemoteLockManager.kt:43


class RedisLock:
    """A held lease; ``close()`` is the reference's owner-check delete
    (RedisRemoteLockManager.kt:29-36 — GET, compare UUID, DEL).  Like the
    reference, GET→DEL is not transactional; the server-side PX expiry
    bounds the damage of a stale delete to the expiry boundary."""

    def __init__(self, client, key: str, owner: str):
        self._client = client
        self._key = key
        self._owner = owner

    def close(self) -> None:
        got = self._client.get(self._key)
        if got is not None and _to_str(got) == self._owner:
            self._client.delete(self._key)

    def __enter__(self) -> "RedisLock":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class RedisLockManager:
    """O19 over a real Redis: non-blocking ``acquire`` returning None when
    the lease is held, 24 h PX lease, owner-only unlock — drop-in for
    ``locks.StorageLockManager`` where a Redis endpoint exists (the
    deployment the storage-lease module documents as its weaker
    plain-S3 case)."""

    def __init__(self, client, key_prefix: str, ttl_ms: int = DEFAULT_TTL_MS):
        self._client = client
        self._prefix = key_prefix.rstrip("/")
        self._ttl_ms = ttl_ms
        self.owner = str(uuid.uuid4())

    def acquire(self, name: str) -> RedisLock | None:
        key = f"{self._prefix}/{name}.lock"
        # SET NX PX — atomic server-side; redis-py returns True/None.
        if self._client.set(key, self.owner, nx=True, px=self._ttl_ms):
            return RedisLock(self._client, key, self.owner)
        return None


def _to_str(value) -> str:
    return value.decode() if isinstance(value, (bytes, bytearray)) else str(value)


class RedisOffsetPersistence:
    """O17 state over Redis in the reference's exact JSON wire format
    (OffsetRedisPersistence.kt:69-84): one document per state key holding
    every (topic, partition)'s merged interval list.

    ``read`` → committed state as an interval frame (a local relation;
    empty when the key is missing).  ``write`` → serialize an interval
    frame under the key.  ``commit`` mirrors ``commit_offsets``: merge
    ``new_ranges`` into the stored ledger and write it back — call it only
    after the data write action succeeded (commit-after-store, O18).
    Frames in are collected to ledger rows (no job for a local relation)."""

    def __init__(self, client):
        self._client = client

    def _rows(self, key: str) -> list[tuple]:
        raw = self._client.get(key)
        return decode_ledger(None if raw is None else _to_str(raw))

    def read(self, spark: SparkSession, key: str) -> DataFrame:
        return intervals_frame(spark, self._rows(key))

    def write(self, spark: SparkSession, key: str, state: DataFrame) -> None:
        self._client.set(key, encode_ledger(committed_intervals(state)))

    def commit(self, spark: SparkSession, key: str, new_ranges: DataFrame) -> DataFrame:
        merged = merge_intervals(self._rows(key) + committed_intervals(new_ranges))
        self._client.set(key, encode_ledger(merged))
        return intervals_frame(spark, merged)
