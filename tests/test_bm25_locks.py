"""Single-writer mutation lease on the BM25 index lifecycle (VERDICT r11
#2): concurrent append+append would derive the SAME seg-NNNNN from the
committed segment count, and append∥compact raced the segment list — the
``<path>/_lock/`` lease makes the second writer fail loudly instead.
Plus the streaming sink's auto-compaction policy (VERDICT r11 #5)."""

import pytest

from restructure_hdfs_topic_spark.locks import StorageLockManager
from restructure_hdfs_topic_spark.operators import bm25_index as bix
from restructure_hdfs_topic_spark.operators.bm25_index import (
    append_bm25_segment,
    build_bm25_index,
    compact_bm25_index,
    load_bm25_meta,
    query_bm25_index,
)
from restructure_hdfs_topic_spark.operators.retrieval import bm25_topk

BATCH_A = [(1, "alpha beta gamma"), (2, "beta beta delta"), (3, "gamma delta epsilon")]
BATCH_B = [(11, "beta epsilon zeta"), (12, "alpha zeta zeta eta")]
BATCH_C = [(21, "eta theta alpha"), (22, "beta gamma theta theta")]
BATCH_D = [(31, "iota kappa alpha"), (32, "kappa kappa beta")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark):
    terms = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "kappa"]
    return spark.createDataFrame(
        [(i % 3, t) for i, t in enumerate(terms)], "query_id long, term string"
    )


def test_two_writer_interleave_blocks_loudly(spark, tmp_path):
    """Writer A holds the mutation lease; writer B's append, compact,
    and rebuild all fail loudly (no seg-NNNNN collision, no dir race);
    after A releases, B proceeds normally."""
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)

    mgr = StorageLockManager(spark, path, ttl_s=300)
    held = mgr.acquire("bm25-mutate")
    assert held is not None
    with pytest.raises(RuntimeError, match="another writer"):
        append_bm25_segment(_df(spark, BATCH_B), path)
    with pytest.raises(RuntimeError, match="another writer"):
        compact_bm25_index(spark, path)
    with pytest.raises(RuntimeError, match="another writer"):
        build_bm25_index(_df(spark, BATCH_B), path, n_buckets=4)
    # The refusal changed nothing: the committed index still serves.
    assert load_bm25_meta(spark, path)["version"] == 0
    held.close()

    meta = append_bm25_segment(_df(spark, BATCH_B), path)
    assert len(meta["segments"]) == 1
    assert compact_bm25_index(spark, path)["segments"] == []


def test_lease_released_after_failed_mutation(spark, tmp_path, monkeypatch):
    """A writer that crashes (raises) inside the held window releases the
    lease on the way out — the next writer is not blocked until TTL."""
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)

    def boom(*_a, **_k):
        raise RuntimeError("killed mid-append")

    monkeypatch.setattr(bix, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="killed mid-append"):
        append_bm25_segment(_df(spark, BATCH_B), path)
    monkeypatch.undo()
    assert len(append_bm25_segment(_df(spark, BATCH_B), path)["segments"]) == 1


def test_lock_false_opts_out(spark, tmp_path):
    """Callers that serialize externally can opt out; the append runs
    even while another manager holds the lease."""
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    held = StorageLockManager(spark, path, ttl_s=300).acquire("bm25-mutate")
    assert held is not None
    meta = append_bm25_segment(_df(spark, BATCH_B), path, lock=False)
    assert len(meta["segments"]) == 1
    held.close()


def test_ivf_append_two_writer_blocks(spark, tmp_path):
    """The IVF appender's meta count is a read-modify-write: a second
    concurrent appender fails loudly instead of losing a batch's count."""
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        append_to_ivf_index,
        build_ivf_index,
        load_ivf_meta,
    )

    path = str(tmp_path / "ivf")
    embs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    build_ivf_index(embs, path, n_centroids=4)
    extra = spark.createDataFrame(
        [(100 + i, [float(i % 3), 2.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    held = StorageLockManager(spark, path, ttl_s=300).acquire("ivf-mutate")
    assert held is not None
    with pytest.raises(RuntimeError, match="another writer"):
        append_to_ivf_index(extra, path)
    held.close()
    n0 = load_ivf_meta(spark, path)["n"]
    append_to_ivf_index(extra, path)
    assert load_ivf_meta(spark, path)["n"] == n0 + 8


def test_streaming_sink_auto_compacts_and_stays_bit_identical(spark, tmp_path):
    """compact_every_n_segments keeps the segment count bounded across
    the stream while served rows stay bit-identical to the direct path
    over the whole history — including a compaction mid-stream — and
    the exactly-once batch id survives the fold."""
    from restructure_hdfs_topic_spark.streaming.stateful import (
        streaming_bm25_index_sink,
    )

    path = str(tmp_path / "sidx")
    body = streaming_bm25_index_sink(path, n_buckets=4, compact_every_n_segments=2)
    qs = _queries(spark)

    history = []
    for i, batch in enumerate([BATCH_A, BATCH_B, BATCH_C, BATCH_D]):
        body(_df(spark, batch), i)
        history += batch
        meta = load_bm25_meta(spark, path)
        assert len(meta["segments"]) < 2  # bounded by the policy
        assert meta["last_batch_id"] == i  # exactly-once state survives folds
        served = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
        direct = sorted(map(tuple, bm25_topk(_df(spark, history), qs, k=4).collect()))
        assert served == direct and served

    # Replay of the last committed batch still skips after a compaction.
    v = load_bm25_meta(spark, path)["version"]
    body(_df(spark, BATCH_D), 3)
    assert load_bm25_meta(spark, path)["version"] == v


def test_repair_removes_orphans_keeps_referenced(spark, tmp_path, monkeypatch):
    """A crashed append's orphan segment dir and compact-tmp litter are
    removed; referenced segments are kept byte-for-byte (served rows
    unchanged); a missing REFERENCED segment raises."""
    import os
    import shutil

    from restructure_hdfs_topic_spark.operators.bm25_index import (
        repair_bm25_index,
    )

    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    append_bm25_segment(_df(spark, BATCH_B), path)
    qs = _queries(spark)
    before = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))

    # Crash a second append between segment write and meta publish.
    def boom(*_a, **_k):
        raise RuntimeError("killed mid-publish")

    monkeypatch.setattr(bix, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="killed mid-publish"):
        append_bm25_segment(_df(spark, BATCH_C), path)
    monkeypatch.undo()
    assert os.path.isdir(f"{path}/segments/seg-00001")  # the orphan
    os.makedirs(f"{path}/compact-tmp/postings", exist_ok=True)

    rep = repair_bm25_index(spark, path)
    assert "segments/seg-00001" in rep["removed"]
    assert "compact-tmp" in rep["removed"]
    assert rep["kept"] == ["seg-00000"]
    assert not os.path.exists(f"{path}/segments/seg-00001")
    after = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    assert after == before

    # Damage beyond janitorial repair: a REFERENCED dir goes missing.
    shutil.rmtree(f"{path}/segments/seg-00000")
    with pytest.raises(RuntimeError, match="missing on disk"):
        repair_bm25_index(spark, path)
