"""Streaming IVF index sink (r13, VERDICT r12 stretch #7 — possible
only now that ``append_to_ivf_index`` is crash-replay idempotent):
exactly-once appends with ``last_batch_id`` riding the atomic meta,
train-on-first-batch bootstrap, auto-vacuum bounding the generation
count, and an engine-driven restart e2e mirroring the BM25 sink's."""

import os

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators import ivf_index as ivx
from restructure_hdfs_topic_spark.operators.ivf_index import (
    load_ivf_meta,
    query_ivf_index,
)
from restructure_hdfs_topic_spark.streaming.stateful import (
    streaming_ivf_index_sink,
)

SCHEMA = "vec_id long, embedding array<float>"


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [
            (i, [float(i % 7), float(i % 5), float(1 + (i % 3))])
            for i in range(lo, hi)
        ],
        SCHEMA,
    )


def _union_ids(spark, path):
    meta = load_ivf_meta(spark, path)
    return ivx._read_ivf_union(spark, meta, path, "assignments").select("id")


def test_streaming_ivf_sink_exactly_once(spark, tmp_path, monkeypatch):
    """Bootstrap trains on the first batch; committed replays skip;
    crash-before-publish replays converge to a clean run bit-identically."""
    crashy = str(tmp_path / "crashy")
    clean = str(tmp_path / "clean")
    body_crashy = streaming_ivf_index_sink(crashy, n_centroids=4)
    body_clean = streaming_ivf_index_sink(clean, n_centroids=4)

    b0, b1, b2 = _batch(spark, 0, 40), _batch(spark, 40, 60), _batch(spark, 60, 80)
    body_crashy(b0, 0)
    meta = load_ivf_meta(spark, crashy)
    assert meta["last_batch_id"] == 0 and meta["n"] == 40

    # Bootstrap replay (Spark re-offers batch 0 after recovery): skipped,
    # NOT appended on top of the index it trained.
    body_crashy(b0, 0)
    assert load_ivf_meta(spark, crashy)["n"] == 40

    body_crashy(b1, 1)
    v = load_ivf_meta(spark, crashy)["version"]
    body_crashy(b1, 1)  # committed replay
    assert load_ivf_meta(spark, crashy)["version"] == v

    # Crash between the generation write and the publish, then replay.
    monkeypatch.setattr(
        ivx,
        "_write_meta_atomic",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed")),
    )
    with pytest.raises(RuntimeError, match="killed"):
        body_crashy(b2, 2)
    assert load_ivf_meta(spark, crashy)["last_batch_id"] == 1
    monkeypatch.undo()
    body_crashy(b2, 2)  # replay overwrites its own orphan generation

    for b, i in ((b0, 0), (b1, 1), (b2, 2)):
        body_clean(b, i)
    meta = load_ivf_meta(spark, crashy)
    assert meta["last_batch_id"] == 2 and meta["n"] == 80
    ids = _union_ids(spark, crashy)
    assert ids.count() == 80
    assert ids.groupBy("id").count().filter(F.col("count") > 1).count() == 0

    qs = _batch(spark, 0, 80).filter(F.col("vec_id") % 10 == 0)
    got = sorted(map(tuple, query_ivf_index(spark, crashy, qs, k=3, nprobe=4).collect()))
    want = sorted(map(tuple, query_ivf_index(spark, clean, qs, k=3, nprobe=4).collect()))
    assert got == want and got


def test_streaming_ivf_sink_empty_leading_batch_and_metaless_refusal(
    spark, tmp_path
):
    path = str(tmp_path / "idx")
    body = streaming_ivf_index_sink(path, n_centroids=4)
    body(_batch(spark, 0, 0), 0)  # empty: nothing to train on, no state
    assert not os.path.exists(f"{path}/_ivf_meta.json")
    body(_batch(spark, 0, 30), 1)  # first NON-empty batch bootstraps
    meta = load_ivf_meta(spark, path)
    assert meta["last_batch_id"] == 1 and meta["n"] == 30

    # Meta-less artifacts are never a bootstrap target.
    damaged = str(tmp_path / "damaged")
    os.makedirs(f"{damaged}/assignments")
    with pytest.raises(RuntimeError, match="meta is missing"):
        streaming_ivf_index_sink(damaged)(_batch(spark, 0, 10), 0)


def test_streaming_ivf_sink_real_stream_restart_with_auto_vacuum(
    spark, tmp_path
):
    """Engine-driven: a parquet file stream, availableNow, restart over
    the same checkpoint; auto-vacuum keeps the append-generation count
    bounded and the exactly-once state survives the fold."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")

    def run_once():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            stream.writeStream.foreachBatch(
                streaming_ivf_index_sink(
                    idx, n_centroids=4, vacuum_every_n_appends=2
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _batch(spark, 0, 40).coalesce(1).write.parquet(f"{src}/f0")
    _batch(spark, 40, 60).coalesce(1).write.parquet(f"{src}/f1")
    _batch(spark, 60, 80).coalesce(1).write.parquet(f"{src}/f2")
    run_once()
    meta = load_ivf_meta(spark, idx)
    assert meta["n"] == 80
    # f0 bootstrapped; f1+f2 appended and hit the vacuum threshold → folded.
    assert meta["appends"] == [] and meta["base_dir"].startswith("base-g")
    assert meta["last_batch_id"] == 2

    # Restart with one new file: only the new batch lands.
    _batch(spark, 80, 90).coalesce(1).write.parquet(f"{src}/f3")
    run_once()
    meta = load_ivf_meta(spark, idx)
    assert meta["n"] == 90 and meta["last_batch_id"] == 3
    ids = _union_ids(spark, idx)
    assert ids.count() == 90
    assert ids.groupBy("id").count().filter(F.col("count") > 1).count() == 0
    qs = _batch(spark, 80, 90)
    got = query_ivf_index(spark, idx, qs, k=3, nprobe=4)
    assert got.filter(F.col("neighbor_id") >= 80).count() > 0
