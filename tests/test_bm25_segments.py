"""Segment-based BM25 index append (VERDICT r10 #3): served rows must be
BIT-IDENTICAL to a from-scratch rebuild on the concatenated corpus,
because N/avgdl/df are derived at serve time from per-segment exact ints
instead of being frozen into any segment."""

import pytest

from restructure_hdfs_topic_spark.operators import bm25_index as bix
from restructure_hdfs_topic_spark.operators.bm25_index import (
    append_bm25_segment,
    build_bm25_index,
    load_bm25_meta,
    query_bm25_index,
)
from restructure_hdfs_topic_spark.operators.retrieval import bm25_topk

BATCH_A = [
    (1, "alpha beta gamma"),
    (2, "beta beta delta"),
    (3, "gamma delta epsilon"),
    (4, "alpha alpha alpha beta"),
]
BATCH_B = [
    (11, "beta epsilon zeta"),
    (12, "alpha zeta zeta eta"),
    (13, "   "),  # empty after trim — excluded from stats everywhere
]
BATCH_C = [
    (21, "eta theta alpha"),
    (22, "beta gamma theta theta"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark):
    terms = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    return spark.createDataFrame(
        [(i % 3, t) for i, t in enumerate(terms)], "query_id long, term string"
    )


def test_appended_index_equals_full_rebuild(spark, tmp_path):
    qs = _queries(spark)
    inc_path = str(tmp_path / "inc")
    build_bm25_index(_df(spark, BATCH_A), inc_path, n_buckets=4)
    append_bm25_segment(_df(spark, BATCH_B), inc_path)
    append_bm25_segment(_df(spark, BATCH_C), inc_path)

    full_path = str(tmp_path / "full")
    everything = _df(spark, BATCH_A + BATCH_B + BATCH_C)
    build_bm25_index(everything, full_path, n_buckets=4)

    served_inc = sorted(map(tuple, query_bm25_index(spark, inc_path, qs, k=4).collect()))
    served_full = sorted(
        map(tuple, query_bm25_index(spark, full_path, qs, k=4).collect())
    )
    direct = sorted(map(tuple, bm25_topk(everything, qs, k=4).collect()))
    assert served_inc == served_full == direct
    assert len(served_inc) > 0

    # Pruning survives the union: the bucket filter still lands in
    # PartitionFilters for the segment scans.
    out = query_bm25_index(spark, inc_path, qs, k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:300]


def test_meta_versioning_and_stale_read_guard(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    assert load_bm25_meta(spark, path)["version"] == 0
    append_bm25_segment(_df(spark, BATCH_B), path)
    meta = load_bm25_meta(spark, path)
    assert meta["version"] == 1
    assert [s["name"] for s in meta["segments"]] == ["seg-00000"]
    assert meta["segments"][0]["n_docs"] == 2  # the blank doc is excluded

    qs = _queries(spark)
    assert query_bm25_index(spark, path, qs, k=3, expected_version=1).count() > 0
    with pytest.raises(ValueError, match="version"):
        query_bm25_index(spark, path, qs, k=3, expected_version=0)


def test_interrupted_append_keeps_previous_meta_valid_and_retry_converges(
    spark, tmp_path, monkeypatch
):
    """An append killed before its atomic meta publish leaves the index
    serving the PRE-append corpus (the orphan segment dir is
    unreferenced), and a retry overwrites the orphan and converges to
    the full corpus — the recovery story the streaming sink relies on."""
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    qs = _queries(spark)
    before = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))

    def boom(*_a, **_k):
        raise RuntimeError("killed mid-append")

    monkeypatch.setattr(bix, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="killed mid-append"):
        append_bm25_segment(_df(spark, BATCH_B), path)
    # Old meta intact; serving unchanged despite the orphan segment dir.
    assert load_bm25_meta(spark, path)["version"] == 0
    assert (
        sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
        == before
    )

    monkeypatch.undo()
    append_bm25_segment(_df(spark, BATCH_B), path)
    served = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    direct = sorted(
        map(tuple, bm25_topk(_df(spark, BATCH_A + BATCH_B), qs, k=4).collect())
    )
    assert served == direct


def test_streaming_bm25_index_sink_exactly_once(spark, tmp_path, monkeypatch):
    """The foreachBatch sink body: bootstrap-on-first-batch, committed
    replays skip, crash-before-publish replays converge — index always
    equal to the direct path over the stream's history."""
    from restructure_hdfs_topic_spark.streaming.stateful import (
        streaming_bm25_index_sink,
    )

    path = str(tmp_path / "sidx")
    body = streaming_bm25_index_sink(path, n_buckets=4)
    qs = _queries(spark)

    body(_df(spark, BATCH_A), 0)
    body(_df(spark, BATCH_B), 1)
    served = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    direct = sorted(
        map(tuple, bm25_topk(_df(spark, BATCH_A + BATCH_B), qs, k=4).collect())
    )
    assert served == direct and served
    v = load_bm25_meta(spark, path)["version"]

    # Committed replay (Spark re-offers the last batch after restart).
    body(_df(spark, BATCH_B), 1)
    assert load_bm25_meta(spark, path)["version"] == v

    # Crash between segment write and meta publish, then replay.
    def boom(*_a, **_k):
        raise RuntimeError("killed mid-publish")

    monkeypatch.setattr(bix, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="killed mid-publish"):
        body(_df(spark, BATCH_C), 2)
    assert load_bm25_meta(spark, path)["last_batch_id"] == 1  # pre-crash state
    monkeypatch.undo()
    body(_df(spark, BATCH_C), 2)  # replay overwrites its orphan segment
    served = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    direct = sorted(
        map(
            tuple,
            bm25_topk(_df(spark, BATCH_A + BATCH_B + BATCH_C), qs, k=4).collect(),
        )
    )
    assert served == direct
    meta = load_bm25_meta(spark, path)
    assert meta["last_batch_id"] == 2 and len(meta["segments"]) == 3


def test_append_requires_existing_index_and_matching_id_type(spark, tmp_path):
    with pytest.raises(Exception):
        append_bm25_segment(_df(spark, BATCH_A), str(tmp_path / "nowhere"))

    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    sdocs = spark.createDataFrame([("x", "alpha")], "doc_id string, text string")
    with pytest.raises(ValueError, match="id type"):
        append_bm25_segment(sdocs, path)


def test_append_all_empty_batch_is_a_noop_for_serving(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    qs = _queries(spark)
    before = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    meta = append_bm25_segment(
        _df(spark, [(99, "   "), (100, "")]), path
    )
    assert meta["segments"][0]["n_docs"] == 0
    after = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    assert after == before


def test_compaction_preserves_served_rows_bit_identically(spark, tmp_path):
    """compact_bm25_index merges base+segments back into the single-base
    layout from the postings alone — served rows unchanged, segments
    gone, version bumped, fingerprint folded."""
    from restructure_hdfs_topic_spark.operators.bm25_index import (
        compact_bm25_index,
        corpus_fingerprint,
    )

    qs = _queries(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    append_bm25_segment(_df(spark, BATCH_B), path)
    append_bm25_segment(_df(spark, BATCH_C), path)
    before = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))

    meta = compact_bm25_index(spark, path)
    assert meta["segments"] == [] and meta["version"] == 3
    after = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    assert after == before and after

    # The folded stats and fingerprint equal a fresh build's on the
    # concatenated corpus (counts sum; XORs compose over disjoint ids).
    everything = _df(spark, BATCH_A + BATCH_B + BATCH_C)
    want_fp = corpus_fingerprint(everything)
    assert {k: meta[k] for k in want_fp} == want_fp
    import os

    assert not os.path.exists(f"{path}/segments")
    assert not os.path.exists(f"{path}/compact-tmp")
    # Generational layout (r12): the merged base lives in base-gNNNNN,
    # the meta points at it, and the superseded legacy root pair is gone.
    assert meta["base_dir"] == "base-g00001"
    assert os.path.isdir(f"{path}/base-g00001/postings")
    assert not os.path.exists(f"{path}/postings")
    assert not os.path.exists(f"{path}/vocab")

    # Compacting an already-compact index is a no-op.
    meta2 = compact_bm25_index(spark, path)
    assert meta2["version"] == 3

    # And the compacted index accepts new appends.
    append_bm25_segment(_df(spark, [(31, "iota beta")]), path)
    rows = query_bm25_index(
        spark,
        path,
        spark.createDataFrame([(1, "iota")], "query_id long, term string"),
        k=3,
    ).collect()
    assert [r["doc_id"] for r in rows] == [31]


def test_interrupted_compaction_leaves_old_index_serving(
    spark, tmp_path, monkeypatch
):
    """r12 generational crash discipline: a compaction killed at ANY
    point before its atomic meta publish leaves the PRE-compaction index
    fully valid and serving (the merged base-g dir is unreferenced
    litter), repair sweeps the litter, and a retry converges to the same
    served rows."""
    import os

    from restructure_hdfs_topic_spark.operators.bm25_index import (
        compact_bm25_index,
        repair_bm25_index,
    )

    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    append_bm25_segment(_df(spark, BATCH_B), path)
    qs = _queries(spark)
    before = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))

    real_publish = bix._write_meta_atomic

    def boom(*_a, **_k):
        raise RuntimeError("killed mid-compact")

    monkeypatch.setattr(bix, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="killed mid-compact"):
        compact_bm25_index(spark, path)
    monkeypatch.setattr(bix, "_write_meta_atomic", real_publish)

    # The old meta is still valid, the segment dirs intact, and the
    # index serves the pre-compaction rows unchanged.
    meta = load_bm25_meta(spark, path)
    assert len(meta["segments"]) == 1 and "base_dir" not in meta
    assert (
        sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
        == before
    )
    # The half-written generation is unreferenced litter; repair sweeps
    # it without touching referenced data.
    assert os.path.isdir(f"{path}/base-g00001")
    rep = repair_bm25_index(spark, path)
    assert "base-g00001" in rep["removed"]
    assert not [r for r in rep["removed"] if r.startswith("segments/")]

    # A retry converges: compaction succeeds and serves identically.
    meta2 = compact_bm25_index(spark, path)
    assert meta2["segments"] == [] and meta2["base_dir"] == "base-g00001"
    assert (
        sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
        == before
    )


def test_streaming_bm25_index_sink_real_stream_restart(spark, tmp_path):
    """Engine-driven e2e: a parquet file stream through
    writeStream.foreachBatch(streaming_bm25_index_sink), availableNow,
    with a RESTART over the same checkpoint — the index equals the
    direct path over everything ingested, with no double-indexing."""
    from restructure_hdfs_topic_spark.streaming.stateful import (
        streaming_bm25_index_sink,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    schema = "doc_id long, text string"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            stream.writeStream.foreachBatch(
                streaming_bm25_index_sink(idx, n_buckets=4)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(BATCH_A, schema).coalesce(1).write.parquet(f"{src}/f0")
    spark.createDataFrame(BATCH_B, schema).coalesce(1).write.parquet(f"{src}/f1")
    run_once()
    qs = _queries(spark)
    served = sorted(map(tuple, query_bm25_index(spark, idx, qs, k=4).collect()))
    direct = sorted(
        map(tuple, bm25_topk(_df(spark, BATCH_A + BATCH_B), qs, k=4).collect())
    )
    assert served == direct and served

    # Restart over the same checkpoint with one new file: only the new
    # batch is indexed (checkpoint + last_batch_id both dedup).
    spark.createDataFrame(BATCH_C, schema).coalesce(1).write.parquet(f"{src}/f2")
    run_once()
    served = sorted(map(tuple, query_bm25_index(spark, idx, qs, k=4).collect()))
    direct = sorted(
        map(
            tuple,
            bm25_topk(_df(spark, BATCH_A + BATCH_B + BATCH_C), qs, k=4).collect(),
        )
    )
    assert served == direct
    meta = load_bm25_meta(spark, idx)
    # One segment per non-bootstrap micro-batch, no replays re-indexed.
    assert len(meta["segments"]) == 3


def test_append_onto_empty_base(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, []), path, n_buckets=4)
    append_bm25_segment(_df(spark, BATCH_A), path)
    qs = _queries(spark)
    served = sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))
    direct = sorted(map(tuple, bm25_topk(_df(spark, BATCH_A), qs, k=4).collect()))
    assert served == direct and served
