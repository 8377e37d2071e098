"""O19: storage-based topic leases (reference RedisRemoteLockManager.kt
semantics — SET NX with 24h TTL, owner-only unlock) over the state dir."""

import os

from restructure_hdfs_topic_spark.config import (
    PathConfig,
    RestructureConfig,
    WorkerConfig,
)
from restructure_hdfs_topic_spark.locks import StorageLockManager
from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job
from tests.avro_tree import ACCEL_TOPIC, STATUS_TOPIC, reference_shaped_tree

FIXTURES = "/root/reference/src/integrationTest/resources"


def test_lease_mutual_exclusion_and_owner_unlock(spark, tmp_path):
    state = str(tmp_path / "state")
    a = StorageLockManager(spark, state)
    b = StorageLockManager(spark, state)  # a second engine instance
    lock_a = a.acquire("topic_x")
    assert lock_a is not None
    # Second instance cannot take a held lease (RedisRemoteLockManager
    # .kt:19-26 returns null on NX failure).
    assert b.acquire("topic_x") is None
    # Owner-only unlock: b releasing a's lease is a no-op (:29-36).
    b._release("topic_x")
    assert b.acquire("topic_x") is None
    # Independent names don't contend.
    lock_b = b.acquire("topic_y")
    assert lock_b is not None
    lock_b.close()
    # Real release frees the lease for the other instance.
    lock_a.close()
    assert b.acquire("topic_x") is not None


def _race(n: int, fn) -> list:
    """``fn(k)`` for k in range(n), each in its own thread, released
    together by a barrier; returns the results in k order."""
    import threading

    barrier = threading.Barrier(n, timeout=60)
    results = [None] * n

    def run(k):
        barrier.wait()
        results[k] = fn(k)

    threads = [threading.Thread(target=run, args=(k,)) for k in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    return results


def test_lease_excludes_under_a_race(spark, tmp_path):
    """Six managers that call ``acquire`` on one name at the same moment:
    exactly one wins each round.  Hadoop's ``create(path, false)`` on a
    local path checks ``exists()`` and then opens, so without an
    exclusive create several contenders can win one round."""
    managers = [StorageLockManager(spark, str(tmp_path / "state")) for _ in range(6)]
    for round_ in range(50):
        won = _race(len(managers), lambda k: managers[k].acquire("topic_x"))
        winners = [lock for lock in won if lock is not None]
        assert len(winners) == 1, f"round {round_}: {len(winners)} winners"
        winners[0].close()


def test_offset_version_claim_excludes_under_a_race(spark, tmp_path):
    """Six committers claiming one offsets version of a ``file://`` state
    dir at the same moment: exactly one gets the claim."""
    from restructure_hdfs_topic_spark.state import _claim_version

    state_dir = f"file://{tmp_path}/state"
    for nxt in range(1, 21):
        tokens = _race(6, lambda k: _claim_version(spark, state_dir, nxt))
        assert sum(t is not None for t in tokens) == 1, f"version {nxt}: {tokens}"


def test_lease_file_without_crc_reads_and_releases(spark, tmp_path):
    """A local lease file is made without Hadoop's ``.crc`` sidecar; the
    checksummed local FS still reads it (a second owner is refused), and
    ``close`` deletes it."""
    lock_dir = tmp_path / "state" / "_lock"
    a = StorageLockManager(spark, str(tmp_path / "state"))
    lock = a.acquire("topic_x")
    assert lock is not None
    assert sorted(os.listdir(lock_dir)) == ["topic_x.lock"]
    assert a._read(a._path("topic_x"))["owner"] == a.owner
    assert StorageLockManager(spark, str(tmp_path / "state")).acquire("topic_x") is None
    lock.close()
    assert os.listdir(lock_dir) == []


def test_expired_lease_is_broken(spark, tmp_path):
    state = str(tmp_path / "state")
    a = StorageLockManager(spark, state, ttl_s=-1)  # already expired
    b = StorageLockManager(spark, state)
    assert a.acquire("topic_x") is not None
    # TTL passed → the stale lease is broken and re-acquired (the Redis
    # server would have expired the key, :41-44).
    got = b.acquire("topic_x")
    assert got is not None
    # And now it is a LIVE lease: a third instance is refused.
    c = StorageLockManager(spark, state)
    assert c.acquire("topic_x") is None


def _locked_topic_is_skipped(spark, src: str, out) -> None:
    cfg = RestructureConfig(
        target_dir=str(out / "out"),
        state_dir=str(out / "state"),
        format="csv",
        lock_enable=True,
        worker=WorkerConfig(minimum_file_age_s=0),
        paths=PathConfig(layout="hive"),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    other = StorageLockManager(spark, cfg.state_dir)
    held = other.acquire(STATUS_TOPIC)
    assert held is not None

    result = run_avro_restructure_job(spark, src, cfg)
    assert result["topics_locked"] == 1
    assert STATUS_TOPIC not in result["topics"]
    assert result["topics"][ACCEL_TOPIC]["records_written"] > 0

    # Lease released → the next iteration picks the skipped topic up.
    held.close()
    result2 = run_avro_restructure_job(spark, src, cfg)
    assert result2["topics_locked"] == 0
    assert result2["topics"][STATUS_TOPIC]["records_written"] > 0


def test_job_skips_locked_topics(spark, tmp_path):
    """Two-session scenario: a concurrent engine holds one topic's lease;
    this engine processes the other topic and counts the skip.  Over a
    tree shaped like the reference's fixtures and, when present, the
    fixtures themselves."""
    _locked_topic_is_skipped(spark, reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree")
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        _locked_topic_is_skipped(spark, FIXTURES, tmp_path / "golden")


def test_stale_breaker_cannot_remove_fresh_lock(spark, tmp_path):
    """VERDICT r4 #3: two contenders both observe an expired lease; the
    slow one's break must NOT remove the fast one's freshly created lock.
    Simulated by giving B a stale read of the (since re-acquired) lease."""
    state = str(tmp_path / "state")
    stale = StorageLockManager(spark, state, ttl_s=-1)
    assert stale.acquire("topic_x") is not None  # expired lease on disk

    a = StorageLockManager(spark, state)
    b = StorageLockManager(spark, state)
    expired_meta = {"owner": stale.owner, "expires_at": 0}

    # B reads the lock file and sees the EXPIRED lease... then stalls.
    real_read = b._read
    reads = {"n": 0}

    def stale_first_read(path):
        reads["n"] += 1
        if reads["n"] == 1:
            return dict(expired_meta)  # the observation B acted on
        return real_read(path)

    b._read = stale_first_read
    # ...meanwhile A breaks the expired lease and holds a FRESH one.
    assert a.acquire("topic_x") is not None
    # B resumes with its stale observation: the break must abort under the
    # break mutex's re-check, leaving A's fresh lock untouched.
    assert b.acquire("topic_x") is None
    meta = real_read(b._path("topic_x"))
    assert meta is not None and meta["owner"] == a.owner

    # And the break mutex was released — a future legitimate break works
    # (recreate an expired lease through the store).
    a._st.delete(a._path("topic_x"))
    assert stale.acquire("topic_x") is not None
    assert b.acquire("topic_x") is not None


def test_break_mutex_serializes_breakers(spark, tmp_path):
    """While one breaker holds <name>.break, others must back off without
    touching the expired lock; a crashed breaker's mutex is reclaimed
    after BREAK_TTL_S via file mtime."""
    import os as _os
    import time as _time

    state = str(tmp_path / "state")
    stale = StorageLockManager(spark, state, ttl_s=-1)
    assert stale.acquire("topic_x") is not None

    b = StorageLockManager(spark, state)
    brk = str(tmp_path / "state" / "_lock" / "topic_x.break")
    with open(brk, "w") as fh:
        fh.write("{}")  # another breaker mid-takeover
    assert b.acquire("topic_x") is None
    assert _os.path.exists(brk), "back-off must not reclaim a live mutex"

    # Crashed breaker: age the mutex past BREAK_TTL_S → reclaimed (deleted);
    # the NEXT attempt then contends normally and wins.
    old = _time.time() - 400
    _os.utime(brk, (old, old))
    assert b.acquire("topic_x") is None  # this call only reclaims
    assert not _os.path.exists(brk)
    assert b.acquire("topic_x") is not None


def test_release_near_expiry_abandons_instead_of_deleting(spark, tmp_path):
    """ADVICE r4: _release's read-then-delete has the same race — if our
    lease is already (nearly) expired a breaker may be mid-takeover, so
    close() must abandon the file rather than delete it."""
    state = str(tmp_path / "state")
    a = StorageLockManager(spark, state, ttl_s=-1)
    lock = a.acquire("topic_x")
    assert lock is not None
    lock.close()  # expired at close time → must NOT delete
    import os as _os

    assert _os.path.exists(str(tmp_path / "state" / "_lock" / "topic_x.lock"))
