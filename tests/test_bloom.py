"""Bloom sidecar tests: the no-false-negative guarantee, measured fpp,
byte-identical equivalence with the plain anti-join filter, and the
automatic staleness rebuild."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_probe_positions_build_probe_agree():
    from restructure_hdfs_topic_spark.operators.bloom import (
        _bloom_params,
        _probe_positions,
    )

    fps = np.array([0, 1, -1, 2**62, -(2**62), 123456789], dtype=np.int64)
    m, k = _bloom_params(len(fps), 10)
    pos = _probe_positions(fps, m, k)
    assert pos.shape == (k, len(fps))
    assert (pos < m).all()
    # Deterministic.
    assert np.array_equal(pos, _probe_positions(fps, m, k))


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    """Every committed fingerprint probes positive (hard guarantee);
    disjoint fingerprints probe positive at ≲ the theoretical fpp for
    10 bits/key (~0.8%; assert a loose 3%)."""
    from restructure_hdfs_topic_spark.operators.bloom import (
        _bloom_tag,
        bloom_from_fingerprints,
    )

    n = 20_000
    fps = spark.range(0, n).select(F.xxhash64("id").alias("fp"))
    bloom = bloom_from_fingerprints(fps, n_buckets=16, bits_per_key=10)
    rows = bloom.collect()
    assert sum(r["n_keys"] for r in rows) == n
    assert all(r["m_bits"] >= 10 * r["n_keys"] for r in rows)

    members = fps.select(F.col("fp").alias("__fp"))
    tag_m = _bloom_tag(members, bloom, 16)
    assert tag_m.filter(~F.col("__bloom_maybe")).count() == 0

    others = (
        spark.range(n, 2 * n)
        .select(F.xxhash64("id").alias("__fp"))
        .join(members, "__fp", "left_anti")
    )
    tag_o = _bloom_tag(others, bloom, 16)
    total = tag_o.count()
    false_pos = tag_o.filter(F.col("__bloom_maybe")).count()
    assert false_pos / total < 0.03, f"fpp {false_pos / total:.4f}"


def test_bloom_filter_equals_plain_filter(spark, tmp_path):
    """filter_novel_documents_bloom must return EXACTLY the rows
    filter_novel_documents returns — the sidecar reshapes cost, never
    results."""
    from restructure_hdfs_topic_spark.operators.bloom import (
        filter_novel_documents_bloom,
    )
    from restructure_hdfs_topic_spark.operators.incremental import (
        commit_fingerprints,
        document_fingerprints,
        filter_novel_documents,
        read_fingerprints,
    )

    state_dir = str(tmp_path / "state")
    committed = spark.createDataFrame(
        [(i, f"doc {i % 40}") for i in range(60)], "doc_id long, text string"
    )
    commit_fingerprints(spark, state_dir, document_fingerprints(committed))

    # Batch: some texts overlap history, some are in-batch dups, some new.
    batch = spark.createDataFrame(
        [(100 + i, f"doc {i % 80}") for i in range(160)],
        "doc_id long, text string",
    )
    plain = {
        tuple(r) for r in filter_novel_documents(
            batch, read_fingerprints(spark, state_dir)
        ).collect()
    }
    fast = {
        tuple(r)
        for r in filter_novel_documents_bloom(
            spark, state_dir, batch, n_buckets=8
        ).collect()
    }
    assert fast == plain and fast


def test_bloom_sidecar_staleness_rebuild(spark, tmp_path):
    """Committing more fingerprints after a sidecar build must trigger a
    rebuild (version check) — a stale sidecar would let duplicates of the
    newly committed texts through."""
    from restructure_hdfs_topic_spark.operators.bloom import (
        filter_novel_documents_bloom,
        read_bloom_meta,
        write_bloom_sidecar,
    )
    from restructure_hdfs_topic_spark.operators.incremental import (
        commit_fingerprints,
        document_fingerprints,
    )

    state_dir = str(tmp_path / "state")
    first = spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id long, text string")
    commit_fingerprints(spark, state_dir, document_fingerprints(first))
    meta1 = write_bloom_sidecar(spark, state_dir, n_buckets=4)
    assert meta1["state_version"] == 1

    second = spark.createDataFrame([(3, "gamma")], "doc_id long, text string")
    commit_fingerprints(spark, state_dir, document_fingerprints(second))

    # Batch re-offers 'gamma' (committed AFTER the sidecar build) — it
    # must be dropped, which requires the automatic rebuild.
    batch = spark.createDataFrame(
        [(10, "gamma"), (11, "delta")], "doc_id long, text string"
    )
    out = filter_novel_documents_bloom(spark, state_dir, batch, n_buckets=4)
    assert [(r["doc_id"], r["text"]) for r in out.collect()] == [(11, "delta")]
    meta2 = read_bloom_meta(spark, state_dir)
    assert meta2["state_version"] == 2


def test_bloom_empty_state(spark, tmp_path):
    """No committed state at all: everything (keep-first within batch)
    passes, nothing crashes."""
    from restructure_hdfs_topic_spark.operators.bloom import (
        filter_novel_documents_bloom,
    )

    state_dir = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, text string"
    )
    out = filter_novel_documents_bloom(spark, state_dir, batch, n_buckets=4)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_bloom_rejects_bad_buckets(spark):
    from restructure_hdfs_topic_spark.operators.bloom import bloom_from_fingerprints

    fps = spark.range(5).select(F.xxhash64("id").alias("fp"))
    with pytest.raises(ValueError):
        bloom_from_fingerprints(fps, n_buckets=0)


def test_bloom_cogroup_and_broadcast_paths_agree(spark, tmp_path):
    """Both probe paths (broadcast Pandas UDF vs cogroup) must tag
    identically; the filter must return the same rows through either."""
    from restructure_hdfs_topic_spark.operators import bloom as B
    from restructure_hdfs_topic_spark.operators.incremental import (
        commit_fingerprints,
        document_fingerprints,
        filter_novel_documents,
        read_fingerprints,
    )

    state_dir = str(tmp_path / "state")
    committed = spark.createDataFrame(
        [(i, f"t {i % 30}") for i in range(50)], "doc_id long, text string"
    )
    commit_fingerprints(spark, state_dir, document_fingerprints(committed))
    batch = spark.createDataFrame(
        [(200 + i, f"t {i % 60}") for i in range(120)], "doc_id long, text string"
    )
    plain = {
        tuple(r)
        for r in filter_novel_documents(
            batch, read_fingerprints(spark, state_dir)
        ).collect()
    }
    fast = {
        tuple(r)
        for r in B.filter_novel_documents_bloom(
            spark, state_dir, batch, n_buckets=4
        ).collect()
    }
    # Force the cogroup path by dropping the broadcast cap.
    old = B.BROADCAST_BITS_CAP
    B.BROADCAST_BITS_CAP = -1
    try:
        slow = {
            tuple(r)
            for r in B.filter_novel_documents_bloom(
                spark, state_dir, batch, n_buckets=4
            ).collect()
        }
    finally:
        B.BROADCAST_BITS_CAP = old
    assert fast == plain == slow and fast


def test_update_bloom_sidecar_incremental_fold(spark, tmp_path):
    """Steady-state ingest folds each commit's keys into the sidecar
    incrementally: the meta version tracks the state, no full rebuild
    happens (pinned by the built_bits invariant: a fold keeps the built
    capacity, a rebuild resizes it), and the no-false-negative guarantee
    holds across folds."""
    from restructure_hdfs_topic_spark.operators import bloom as B
    from restructure_hdfs_topic_spark.operators.incremental import (
        commit_fingerprints_versioned,
        document_fingerprints,
        filter_novel_documents,
        read_fingerprints,
    )

    state_dir = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [(i, f"base {i}") for i in range(40)], "doc_id long, text string"
    )
    _, v0, v1 = commit_fingerprints_versioned(
        spark, state_dir, document_fingerprints(b1)
    )
    meta1 = B.write_bloom_sidecar(spark, state_dir, n_buckets=4)
    assert (v0, v1) == (0, 1) and meta1["state_version"] == 1
    built = meta1["built_bits"]

    # Second commit, incremental fold.
    b2 = spark.createDataFrame(
        [(100 + i, f"extra {i}") for i in range(5)], "doc_id long, text string"
    )
    fps2 = document_fingerprints(b2)
    _, s, n = commit_fingerprints_versioned(spark, state_dir, fps2)
    meta2 = B.update_bloom_sidecar(spark, state_dir, fps2, s, n, n_buckets=4)
    assert meta2["state_version"] == 2
    assert meta2["built_bits"] == built  # folded, not rebuilt
    assert meta2["total_keys"] == meta1["total_keys"] + 5

    # The folded sidecar still suppresses EVERYTHING committed (both
    # batches) — exact equivalence with the plain filter.
    probe = spark.createDataFrame(
        [(500 + i, f"base {i}") for i in range(40)]
        + [(600 + i, f"extra {i}") for i in range(5)]
        + [(700, "genuinely new text")],
        "doc_id long, text string",
    )
    plain = {
        tuple(r)
        for r in filter_novel_documents(
            probe, read_fingerprints(spark, state_dir)
        ).collect()
    }
    fast = {
        tuple(r)
        for r in B.filter_novel_documents_bloom(
            spark, state_dir, probe, n_buckets=4
        ).collect()
    }
    assert fast == plain == {(700, "genuinely new text")}

    # Version-lineage violation (stale from_version) falls back to a full
    # rebuild rather than producing an unsound sidecar.
    b3 = spark.createDataFrame([(900, "late")], "doc_id long, text string")
    fps3 = document_fingerprints(b3)
    _, s3, n3 = commit_fingerprints_versioned(spark, state_dir, fps3)
    meta3 = B.update_bloom_sidecar(
        spark, state_dir, fps3, from_version=1, to_version=n3, n_buckets=4
    )
    assert meta3["state_version"] == n3  # rebuilt against the real state


def test_ingest_batch_bloom_steady_state(spark, tmp_path):
    """ingest_batch(use_bloom=True) keeps the sidecar current per commit
    (incremental), so the NEXT batch's filter never rebuilds: its meta
    version already equals the state version."""
    from restructure_hdfs_topic_spark.operators.bloom import read_bloom_meta
    from restructure_hdfs_topic_spark import state
    from restructure_hdfs_topic_spark.operators.incremental import ingest_batch

    state_dir = str(tmp_path / "state")
    out = []
    for k in range(3):
        batch = spark.createDataFrame(
            [(k * 100 + i, f"doc {k}-{i % 8}") for i in range(20)],
            "doc_id long, text string",
        )
        res = ingest_batch(
            spark, state_dir, batch, lambda df: out.append(df.count()),
            use_bloom=True,
        )
        assert res["accepted_rows"] == 8
        meta = read_bloom_meta(spark, state_dir)
        assert meta["state_version"] == (
            state.current_version(spark, state_dir) or 0
        )
    # Re-offering batch 0 accepts nothing.
    res = ingest_batch(
        spark,
        state_dir,
        spark.createDataFrame(
            [(999, "doc 0-0")], "doc_id long, text string"
        ),
        lambda df: None,
        use_bloom=True,
    )
    assert res["accepted_rows"] == 0


def test_sidecar_gc_keeps_one_prior_version(spark, tmp_path):
    """Review r8 #3: the GC after a fold keeps the PREDECESSOR data dir
    (a concurrent reader planned against the old meta must survive one
    swap) and prunes older ones."""
    import os as _os

    from restructure_hdfs_topic_spark.operators import bloom as B
    from restructure_hdfs_topic_spark.operators.incremental import (
        commit_fingerprints_versioned,
        document_fingerprints,
    )

    state_dir = str(tmp_path / "state")
    sub = f"{state_dir}/bloom"
    for k in range(3):
        batch = spark.createDataFrame(
            [(k * 10 + i, f"v{k}-{i}") for i in range(4)], "doc_id long, text string"
        )
        fps = document_fingerprints(batch)
        _, s, n = commit_fingerprints_versioned(spark, state_dir, fps)
        if k == 0:
            B.write_bloom_sidecar(spark, state_dir, n_buckets=4)
        else:
            B.update_bloom_sidecar(spark, state_dir, fps, s, n, n_buckets=4)
    dirs = sorted(d for d in _os.listdir(sub) if d.startswith("data_v"))
    # Version 3 is current, version 2 retained for in-flight readers,
    # version 1 pruned.
    assert dirs == ["data_v00000002", "data_v00000003"], dirs
