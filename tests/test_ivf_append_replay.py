"""Crash-replay-idempotent IVF/IVFPQ appends (r13, VERDICT r12 #1 — the
one silent-wrong-answer window left): each append batch lands in a
deterministic ``append-gNNNNN/`` generation derived from the COMMITTED
meta, referenced only by the final atomic publish.  A crash between the
data write and the publish followed by a replay of the same batch
overwrites its own orphan — vectors are never double-stored, ``n`` never
drifts, and served top-k rows stay bit-identical to a single clean
append (the ``append_bm25_segment`` discipline, applied to the vector
family)."""

import os

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators import ivf_index as ivx
from restructure_hdfs_topic_spark.operators.ivf_index import (
    append_to_ivf_index,
    build_ivf_index,
    load_ivf_meta,
    query_ivf_index,
    repair_ivf_index,
    vacuum_ivf_index,
)

SF_DIR = "/root/testdata/sf0.01"


def _emb(spark):
    from restructure_hdfs_topic_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "embeddings")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _split(spark):
    emb = _emb(spark)
    return (
        emb.filter(F.col("vec_id") % 3 != 0),
        emb.filter(F.col("vec_id") % 3 == 0),
        emb.filter(F.col("vec_id") % 30 == 1),  # queries
    )


def test_interrupted_append_replay_equals_clean_append(spark, tmp_path, monkeypatch):
    """The VERDICT r12 #1 done-criterion: crash an append between the
    generation write and the meta publish, replay the SAME batch, and
    the served rows equal a single clean append on a parallel index —
    no double-stored vectors, no repeated neighbor ids, no ``n`` drift."""
    base, extra, queries = _split(spark)
    path = str(tmp_path / "crashy")
    clean = str(tmp_path / "clean")
    build_ivf_index(base, path, n_centroids=16, lloyd_iters=1)
    build_ivf_index(base, clean, n_centroids=16, lloyd_iters=1)

    pre = _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10))

    real_publish = ivx._write_meta_atomic

    def boom(*_a, **_k):
        raise RuntimeError("crash-before-publish")

    monkeypatch.setattr(ivx, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="crash-before-publish"):
        append_to_ivf_index(extra, path)
    monkeypatch.setattr(ivx, "_write_meta_atomic", real_publish)

    # The orphan generation exists but is UNREFERENCED: the committed
    # meta still serves the pre-append corpus.
    assert os.path.isdir(f"{path}/append-g00001")
    meta = load_ivf_meta(spark, path)
    assert meta.get("appends", []) == []
    assert meta["n"] == base.count()
    assert _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10)) == pre

    # REPLAY the same batch: the same name re-derives from the committed
    # meta and the orphan is overwritten, then referenced exactly once.
    meta = append_to_ivf_index(extra, path)
    assert [a["name"] for a in meta["appends"]] == ["append-g00001"]
    assert meta["n"] == base.count() + extra.count()
    stored = ivx._read_ivf_union(spark, meta, path, "assignments")
    assert stored.count() == meta["n"]
    assert stored.groupBy("id").count().filter(F.col("count") > 1).count() == 0

    # Bit-identical to the clean single-append index.
    append_to_ivf_index(extra, clean)
    got = _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10))
    want = _rows(query_ivf_index(spark, clean, queries, k=5, nprobe=10))
    assert got == want
    # No repeated neighbor per query (the uniqueness argument the scorer
    # relies on — exactly what double-stored vectors would break).
    per_pair = {}
    for q, _rank, n, _c in got:
        per_pair[(q, n)] = per_pair.get((q, n), 0) + 1
    assert all(v == 1 for v in per_pair.values())


def test_append_generations_fold_on_vacuum(spark, tmp_path):
    """Two appends serve from two generations; vacuum (the IVF
    compaction) folds them into a fresh base bit-identically and sweeps
    the superseded dirs."""
    base, extra, queries = _split(spark)
    e1 = extra.filter(F.col("vec_id") % 2 == 0)
    e2 = extra.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=16, lloyd_iters=1)
    append_to_ivf_index(e1, path)
    meta = append_to_ivf_index(e2, path)
    assert [a["name"] for a in meta["appends"]] == [
        "append-g00001",
        "append-g00002",
    ]
    before = _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10))

    meta2 = vacuum_ivf_index(spark, path)
    assert meta2["appends"] == [] and meta2["base_dir"] == "base-g00001"
    assert meta2["n"] == meta["n"]
    assert not os.path.exists(f"{path}/append-g00001")
    assert not os.path.exists(f"{path}/append-g00002")
    assert _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10)) == before

    # The lifecycle continues: another append lands in generation 3 (the
    # counter is monotonic — never reuses a swept name).
    e3 = _emb(spark).filter(F.col("vec_id") % 3 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    meta3 = append_to_ivf_index(e3, path)
    assert [a["name"] for a in meta3["appends"]] == ["append-g00003"]
    assert _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10)) != []


def test_repair_sweeps_orphan_append_keeps_referenced(spark, tmp_path, monkeypatch):
    base, extra, queries = _split(spark)
    e1 = extra.filter(F.col("vec_id") % 2 == 0)
    e2 = extra.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=16, lloyd_iters=1)
    append_to_ivf_index(e1, path)  # referenced: append-g00001
    before = _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10))

    real_publish = ivx._write_meta_atomic
    monkeypatch.setattr(
        ivx, "_write_meta_atomic", lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash")
        )
    )
    with pytest.raises(RuntimeError, match="crash"):
        append_to_ivf_index(e2, path)  # orphan: append-g00002
    monkeypatch.setattr(ivx, "_write_meta_atomic", real_publish)

    rep = repair_ivf_index(spark, path)
    assert "append-g00002" in rep["removed"]
    assert os.path.isdir(f"{path}/append-g00001")
    assert not os.path.exists(f"{path}/append-g00002")
    assert _rows(query_ivf_index(spark, path, queries, k=5, nprobe=10)) == before

    # Damage check: a missing REFERENCED append generation raises.
    import shutil

    shutil.rmtree(f"{path}/append-g00001")
    with pytest.raises(RuntimeError, match="damaged"):
        repair_ivf_index(spark, path)


def test_empty_batch_append_is_a_no_op(spark, tmp_path):
    base, _extra, queries = _split(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=8, lloyd_iters=1)
    before = _rows(query_ivf_index(spark, path, queries, k=3, nprobe=8))
    meta = append_to_ivf_index(base.limit(0), path)
    assert meta.get("appends", []) == [] and meta["n"] == base.count()
    assert not os.path.exists(f"{path}/append-g00001")
    assert _rows(query_ivf_index(spark, path, queries, k=3, nprobe=8)) == before


def test_plain_append_rejected_on_pq_index(spark, tmp_path):
    """A codeless append to a PQ-carrying index would be invisible to
    the ADC scan — rejected loudly; append_to_ivfpq_index is the lane."""
    from restructure_hdfs_topic_spark.operators.pq import build_pq_for_ivf

    base, extra, _q = _split(spark)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(base, path, n_centroids=8, lloyd_iters=1)
    build_pq_for_ivf(base, path, m=4)
    with pytest.raises(ValueError, match="PQ code store"):
        append_to_ivf_index(extra, path)


def test_ivfpq_interrupted_append_replay_converges(spark, tmp_path, monkeypatch):
    """The IVFPQ appender shares the replay-safe core: both stores ride
    ONE generation, a crashed append's replay overwrites its own orphan,
    and served rows equal a clean single append."""
    from restructure_hdfs_topic_spark.operators.pq import (
        append_to_ivfpq_index,
        build_pq_for_ivf,
        query_ivfpq_index,
    )

    base, extra, queries = _split(spark)
    path = str(tmp_path / "crashy")
    clean = str(tmp_path / "clean")
    for p in (path, clean):
        build_ivf_index(base, p, n_centroids=16, lloyd_iters=1)
        build_pq_for_ivf(base, p, m=4)

    real_publish = ivx._write_meta_atomic
    monkeypatch.setattr(
        ivx, "_write_meta_atomic", lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash")
        )
    )
    with pytest.raises(RuntimeError, match="crash"):
        append_to_ivfpq_index(extra, path)
    monkeypatch.setattr(ivx, "_write_meta_atomic", real_publish)
    # Orphan holds BOTH stores; neither is referenced yet.
    assert os.path.isdir(f"{path}/append-g00001/assignments")
    assert os.path.isdir(f"{path}/append-g00001/codes")
    assert load_ivf_meta(spark, path).get("appends", []) == []

    meta = append_to_ivfpq_index(extra, path)  # replay
    append_to_ivfpq_index(extra, clean)
    assert meta["n"] == base.count() + extra.count()
    codes = ivx._read_ivf_union(spark, meta, path, "codes")
    assert codes.count() == meta["n"]
    assert codes.groupBy("id").count().filter(F.col("count") > 1).count() == 0
    got = _rows(query_ivfpq_index(spark, path, queries, k=5, nprobe=16))
    want = _rows(query_ivfpq_index(spark, clean, queries, k=5, nprobe=16))
    assert got == want
