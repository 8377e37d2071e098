"""Tombstone deletes for the IVF / IVFPQ indexes (r12, FAISS
``remove_ids`` semantics): after ``delete_ivf_vectors`` the index must
serve EXACTLY what an index holding only the survivors under the SAME
centroids serves — pinned against a manually-constructed same-centroid
witness index; ``vacuum_ivf_index`` purges physically (assignments and
the PQ code store together) with the generational publish discipline."""

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators import ivf_index as ivx
from restructure_hdfs_topic_spark.operators.ivf_index import (
    build_ivf_index,
    delete_ivf_vectors,
    load_ivf_meta,
    query_ivf_index,
    vacuum_ivf_index,
)

SF_DIR = "/root/testdata/sf0.01"


def KILL():
    return F.col("vec_id") % 5 == 1  # the deleted subset


def _emb(spark):
    from restructure_hdfs_topic_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "embeddings")


def _ids(spark, df):
    return df.select("vec_id")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _witness_index(spark, src_path: str, dst_path: str, kill_ids) -> None:
    """Same-centroid complement index: the source's assignments minus the
    deleted ids, identical centroids, adjusted meta — what a fresh index
    of the survivors WITH THE SAME quantizer looks like on disk."""
    surv = spark.read.parquet(f"{src_path}/assignments").join(
        kill_ids.withColumnRenamed("vec_id", "id"), "id", "left_anti"
    )
    (
        surv.repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{dst_path}/assignments")
    )
    spark.read.parquet(f"{src_path}/centroids").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{dst_path}/centroids")
    meta = load_ivf_meta(spark, src_path)
    meta = {k: v for k, v in meta.items() if not k.startswith("tomb")}
    meta.pop("n_deleted", None)
    meta.pop("version", None)
    meta["n"] = int(surv.count())
    ivx._write_meta(spark, f"{dst_path}/{ivx._META}", meta)


def test_delete_matches_same_centroid_complement_index(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16, lloyd_iters=1)
    kill = _ids(spark, emb.filter(KILL()))

    meta = delete_ivf_vectors(spark, path, kill)
    assert meta["tomb_dir"] == "ts-g00001"
    assert meta["n_deleted"] == kill.count() > 0

    witness = str(tmp_path / "witness")
    _witness_index(spark, path, witness, kill)

    qs = emb.filter(F.col("vec_id") % 20 == 0)
    got = _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10))
    want = _rows(query_ivf_index(spark, witness, qs, k=5, nprobe=10))
    assert got == want and got
    killed = {r["vec_id"] for r in kill.collect()}
    assert not any(r[2] in killed for r in got)  # neighbor_id is col 3

    # Auto-calibrated depth samples only LIVE rows → identical on both.
    got_auto = _rows(query_ivf_index(spark, path, qs, k=5, target_recall=0.9))
    want_auto = _rows(query_ivf_index(spark, witness, qs, k=5, target_recall=0.9))
    assert got_auto == want_auto


def test_vacuum_purges_physically_and_preserves_results(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16, lloyd_iters=1)
    kill = _ids(spark, emb.filter(KILL()))
    n_live = emb.count() - kill.count()
    delete_ivf_vectors(spark, path, kill)

    qs = emb.filter(F.col("vec_id") % 20 == 0)
    before = _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10))

    meta = vacuum_ivf_index(spark, path)
    assert meta["base_dir"] == "base-g00001" and meta["tomb_dir"] == ""
    assert meta["n"] == n_live and meta["n_deleted"] == 0
    assert not os.path.exists(f"{path}/tombstones")
    assert not os.path.exists(f"{path}/assignments")
    surv = spark.read.parquet(f"{path}/base-g00001/assignments")
    assert surv.count() == n_live
    killed = [r["vec_id"] for r in kill.limit(50).collect()]
    assert surv.filter(F.col("id").isin(killed)).count() == 0

    assert _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10)) == before

    # The lifecycle continues on the new generation: append then delete.
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        append_to_ivf_index,
    )

    extra = emb.filter(KILL()).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    append_to_ivf_index(extra, path)
    meta3 = delete_ivf_vectors(spark, path, _ids(spark, extra))
    assert meta3["n_deleted"] == extra.count()
    assert _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10)) == before


def test_fused_delete_vacuum_equals_sequential(spark, tmp_path):
    """r14 (VERDICT r13 #4): ``vacuum_ivf_index(delete_ids=...)`` — one
    rewrite, ONE meta publish — must leave the index byte-equivalent in
    results and meta to delete_ivf_vectors followed by vacuum_ivf_index."""
    emb = _emb(spark)
    kill = _ids(spark, emb.filter(KILL()))
    qs = emb.filter(F.col("vec_id") % 20 == 0)

    seq = str(tmp_path / "seq")
    build_ivf_index(emb, seq, n_centroids=16, lloyd_iters=1)
    delete_ivf_vectors(spark, seq, kill)
    meta_seq = vacuum_ivf_index(spark, seq)

    fused = str(tmp_path / "fused")
    build_ivf_index(emb, fused, n_centroids=16, lloyd_iters=1)
    meta_fused = vacuum_ivf_index(spark, fused, delete_ids=kill)

    # Same committed state: survivor count, cleared tombstone/append
    # state, fresh base generation; one fewer publish (version 2 vs 3).
    assert meta_fused["n"] == meta_seq["n"] == emb.count() - kill.count()
    assert meta_fused["tomb_dir"] == "" and meta_fused["n_deleted"] == 0
    assert meta_fused["base_dir"] == meta_seq["base_dir"] == "base-g00001"
    assert not os.path.exists(f"{fused}/tombstones")
    assert meta_fused["version"] < meta_seq["version"]

    got = _rows(query_ivf_index(spark, fused, qs, k=5, nprobe=10))
    want = _rows(query_ivf_index(spark, seq, qs, k=5, nprobe=10))
    assert got == want and got

    # Fused-deleting EVERYTHING serves empty, not a crash (the fileless
    # base case), and the observed n is 0.
    wipe = str(tmp_path / "wipe")
    build_ivf_index(emb, wipe, n_centroids=16, lloyd_iters=1)
    meta_wipe = vacuum_ivf_index(spark, wipe, delete_ids=emb.select("vec_id"))
    assert meta_wipe["n"] == 0
    assert query_ivf_index(spark, wipe, qs, k=5, nprobe=10).count() == 0


def test_delete_noop_and_interrupted_publish(spark, tmp_path, monkeypatch):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16, lloyd_iters=1)
    meta0 = load_ivf_meta(spark, path)

    # Never-indexed ids: meta unchanged, no tombstone litter.
    noop = spark.createDataFrame([(10**12,)], "vec_id long")
    assert delete_ivf_vectors(spark, path, noop) == meta0
    assert not os.path.exists(f"{path}/tombstones")

    qs = emb.filter(F.col("vec_id") % 20 == 0)
    before = _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10))

    real_publish = ivx._write_meta_atomic

    def boom(*_a, **_k):
        raise RuntimeError("killed mid-delete")

    monkeypatch.setattr(ivx, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="killed mid-delete"):
        delete_ivf_vectors(spark, path, _ids(spark, emb.filter(KILL())))
    monkeypatch.setattr(ivx, "_write_meta_atomic", real_publish)
    # Old meta intact and serving the pre-delete corpus.
    assert load_ivf_meta(spark, path) == meta0
    assert _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10)) == before
    # Retry converges (overwrites its own orphan generation).
    meta = delete_ivf_vectors(spark, path, _ids(spark, emb.filter(KILL())))
    assert meta["tomb_dir"] == "ts-g00001"
    killed = {r["vec_id"] for r in emb.filter(KILL()).collect()}
    got = _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10))
    assert not any(r[2] in killed for r in got)


def test_all_deleted_index_serves_empty_not_crash(spark, tmp_path):
    """Deleting EVERY vector (then vacuuming) must serve an empty frame,
    not crash on schema inference over the fileless generation."""
    from restructure_hdfs_topic_spark.operators.pq import (
        build_pq_for_ivf,
        query_ivfpq_index,
    )

    emb = _emb(spark).limit(200)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8, lloyd_iters=1, n_rows=200)
    build_pq_for_ivf(emb, path, m=8)
    delete_ivf_vectors(spark, path, _ids(spark, emb))
    qs = _emb(spark).filter(F.col("vec_id") % 20 == 0)
    assert query_ivf_index(spark, path, qs, k=5, nprobe=4).count() == 0
    assert query_ivfpq_index(spark, path, qs, k=5, nprobe=4).count() == 0
    vacuum_ivf_index(spark, path)
    assert query_ivf_index(spark, path, qs, k=5, nprobe=4).count() == 0
    assert query_ivfpq_index(spark, path, qs, k=5, nprobe=4).count() == 0


def test_reappending_tombstoned_id_rejected_until_vacuum(spark, tmp_path):
    """Re-adding a currently-tombstoned id would be silently invisible at
    serve time — rejected loudly; after a vacuum the id is free again."""
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        append_to_ivf_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16, lloyd_iters=1)
    batch = emb.filter(KILL())
    delete_ivf_vectors(spark, path, _ids(spark, batch))
    with pytest.raises(ValueError, match="tombstoned"):
        append_to_ivf_index(batch, path)
    vacuum_ivf_index(spark, path)
    meta = append_to_ivf_index(batch, path)  # physical purge freed the ids
    assert meta["n"] == emb.count()
    qs = emb.filter(F.col("vec_id") % 20 == 0)
    rows = query_ivf_index(spark, path, qs, k=5, nprobe=10).collect()
    readded = {r["vec_id"] for r in batch.limit(5).collect()}
    # Re-added vectors are servable again (at least one ranks somewhere
    # for SOME query — their own near-identical neighbors exist).
    assert rows


def test_build_requires_the_mutation_lease(spark, tmp_path):
    from restructure_hdfs_topic_spark.locks import artifact_mutation_lease

    emb = _emb(spark).limit(100)
    path = str(tmp_path / "ivf")
    held = artifact_mutation_lease(spark, path, "ivf-mutate")
    try:
        with pytest.raises(RuntimeError, match="another writer"):
            build_ivf_index(emb, path, n_centroids=4, lloyd_iters=1, n_rows=100)
    finally:
        held.close()
    build_ivf_index(emb, path, n_centroids=4, lloyd_iters=1, n_rows=100)


def test_repair_sweeps_orphan_generations(spark, tmp_path, monkeypatch):
    """Crash a delete AND a vacuum mid-publish: repair sweeps the orphan
    ts-g / base-g litter without touching referenced data; a missing
    REFERENCED dir raises."""
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        repair_ivf_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16, lloyd_iters=1)
    delete_ivf_vectors(spark, path, _ids(spark, emb.filter(KILL())))
    qs = emb.filter(F.col("vec_id") % 20 == 0)
    before = _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10))

    real_publish = ivx._write_meta_atomic

    def boom(*_a, **_k):
        raise RuntimeError("crash")

    # Orphan base-g from a crashed vacuum + orphan ts-g from a crashed
    # follow-up delete.
    monkeypatch.setattr(ivx, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="crash"):
        vacuum_ivf_index(spark, path)
    with pytest.raises(RuntimeError, match="crash"):
        delete_ivf_vectors(
            spark, path, _ids(spark, emb.filter(F.col("vec_id") % 5 == 2))
        )
    monkeypatch.setattr(ivx, "_write_meta_atomic", real_publish)
    assert os.path.isdir(f"{path}/base-g00001")
    assert os.path.isdir(f"{path}/tombstones/ts-g00002")

    rep = repair_ivf_index(spark, path)
    assert "base-g00001" in rep["removed"]
    assert "tombstones/ts-g00002" in rep["removed"]
    assert not os.path.exists(f"{path}/base-g00001")
    assert os.path.isdir(f"{path}/tombstones/ts-g00001")  # referenced, kept
    assert _rows(query_ivf_index(spark, path, qs, k=5, nprobe=10)) == before

    # Damage beyond janitorial repair: referenced tombstone gone.
    shutil.rmtree(f"{path}/tombstones/ts-g00001")
    with pytest.raises(RuntimeError, match="damaged"):
        repair_ivf_index(spark, path)


def test_ivfpq_query_respects_tombstones_and_vacuum(spark, tmp_path):
    from restructure_hdfs_topic_spark.operators.pq import (
        build_pq_for_ivf,
        query_ivfpq_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivfpq")
    build_ivf_index(emb, path, n_centroids=16, lloyd_iters=1)
    build_pq_for_ivf(emb, path, m=8)
    kill = _ids(spark, emb.filter(KILL()))
    delete_ivf_vectors(spark, path, kill)

    # Same-centroid same-codebook witness: filtered copies of both stores.
    witness = str(tmp_path / "witness")
    _witness_index(spark, path, witness, kill)
    surv_codes = spark.read.parquet(f"{path}/codes").join(
        kill.withColumnRenamed("vec_id", "id"), "id", "left_anti"
    )
    (
        surv_codes.repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{witness}/codes")
    )
    shutil.copyfile(f"{path}/_pq_meta.json", f"{witness}/_pq_meta.json")

    qs = emb.filter(F.col("vec_id") % 20 == 0)
    got = _rows(query_ivfpq_index(spark, path, qs, k=5, nprobe=10))
    want = _rows(query_ivfpq_index(spark, witness, qs, k=5, nprobe=10))
    assert got == want and got
    killed = {r["vec_id"] for r in kill.collect()}
    assert not any(r[2] in killed for r in got)

    # Vacuum moves BOTH stores into the generation; results unchanged.
    meta = vacuum_ivf_index(spark, path)
    assert os.path.isdir(f"{path}/{meta['base_dir']}/codes")
    assert not os.path.exists(f"{path}/codes")
    assert _rows(query_ivfpq_index(spark, path, qs, k=5, nprobe=10)) == got
