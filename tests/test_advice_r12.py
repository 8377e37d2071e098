"""ADVICE r12 findings:

1. (medium) ``build_pq_for_ivf`` / ``append_to_ivfpq_index`` mutated the
   shared IVF layout WITHOUT the ``ivf-mutate`` lease every mutator in
   ivf_index.py takes — concurrent with vacuum the appended batch lands
   in the swept old generation (silently lost vectors), and two IVFPQ
   appends lose one batch's ``n``.  Both now take the lease.
2. (low) compact/vacuum/delete swept superseded dirs immediately after
   the atomic publish; lock-free readers holding the prior meta had no
   grace period.  ``sweep_superseded=False`` defers the sweep to the
   janitors, whose ``min_age_s`` gates removal on the meta's age.
3. (low) ``grouped_holdout_split``'s pinned path joined the pinned table
   without id-uniqueness validation — a duplicated pinned id fanned out
   corpus rows.  Exact (id, split) repeats now collapse; conflicting
   pins raise.
"""

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.locks import StorageLockManager

SF_DIR = "/root/testdata/sf0.01"


def _emb(spark):
    from restructure_hdfs_topic_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "embeddings")


# ---------------------------------------------------------------------------
# 1: IVFPQ mutators take the ivf-mutate lease
# ---------------------------------------------------------------------------


def test_ivfpq_mutators_respect_mutation_lease(spark, tmp_path):
    from restructure_hdfs_topic_spark.operators.ivf_index import build_ivf_index
    from restructure_hdfs_topic_spark.operators.pq import (
        append_to_ivfpq_index,
        build_pq_for_ivf,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 2 == 0)
    extra = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 100))
    path = str(tmp_path / "ivfpq")
    build_ivf_index(base, path, n_centroids=8)

    mgr = StorageLockManager(spark, path, ttl_s=300)
    held = mgr.acquire("ivf-mutate")
    assert held is not None
    with pytest.raises(RuntimeError, match="another writer"):
        build_pq_for_ivf(base, path, m=4)
    with pytest.raises(RuntimeError, match="another writer"):
        append_to_ivfpq_index(extra, path)
    held.close()

    # After release both proceed; the lease is released on success so the
    # next mutator can acquire it.
    build_pq_for_ivf(base, path, m=4)
    meta = append_to_ivfpq_index(extra, path)
    assert meta["n"] == base.count() + extra.count()
    again = StorageLockManager(spark, path, ttl_s=300).acquire("ivf-mutate")
    assert again is not None
    again.close()


# ---------------------------------------------------------------------------
# 2: reader grace — deferred sweep + age-gated janitors
# ---------------------------------------------------------------------------


def _bm25_docs(spark):
    rows = [(i, f"tok{i % 7} tok{i % 3} common") for i in range(1, 41)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25_queries(spark):
    return spark.createDataFrame(
        [(1, "common"), (1, "tok1"), (2, "tok2")], "query_id long, term string"
    )


def test_bm25_deferred_sweep_lets_prior_reader_drain(spark, tmp_path):
    from restructure_hdfs_topic_spark.operators.bm25_index import (
        append_bm25_segment,
        build_bm25_index,
        compact_bm25_index,
        query_bm25_index,
        repair_bm25_index,
    )

    path = str(tmp_path / "idx")
    docs = _bm25_docs(spark)
    build_bm25_index(docs.filter(F.col("doc_id") <= 20), path, n_buckets=4)
    append_bm25_segment(docs.filter(F.col("doc_id") > 20), path)

    # A lock-free reader loads its plan against the pre-compaction meta...
    prior_plan = query_bm25_index(spark, path, _bm25_queries(spark), k=5)
    # ...then a compaction publishes a new generation WITHOUT sweeping.
    compact_bm25_index(spark, path, sweep_superseded=False)
    post_plan = query_bm25_index(spark, path, _bm25_queries(spark), k=5)
    # The prior reader's lazy plan still executes (its dirs survived) and
    # returns the same rows as the post-compaction serve.
    assert sorted(map(tuple, prior_plan.collect())) == sorted(
        map(tuple, post_plan.collect())
    )

    # Young meta + min_age_s: the janitor defers (validation still ran).
    rep = repair_bm25_index(spark, path, min_age_s=3600)
    assert rep.get("deferred") is True and rep["removed"] == []
    assert sorted(map(tuple, prior_plan.collect())) == sorted(
        map(tuple, post_plan.collect())
    )
    # Age gate off: the janitor sweeps the superseded segment dirs.
    rep2 = repair_bm25_index(spark, path)
    assert any(r.startswith("segments/") or r == "postings" for r in rep2["removed"])
    # The committed index is untouched.
    assert sorted(map(tuple, query_bm25_index(spark, path, _bm25_queries(spark), k=5).collect())) == sorted(
        map(tuple, post_plan.collect())
    )


def test_ivf_deferred_sweep_and_age_gate(spark, tmp_path):
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        build_ivf_index,
        delete_ivf_vectors,
        query_ivf_index,
        repair_ivf_index,
        vacuum_ivf_index,
    )

    emb = _emb(spark).filter(F.col("vec_id") < 2000)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    kill = emb.filter(F.col("vec_id") % 5 == 1).select("vec_id")
    delete_ivf_vectors(spark, path, kill)

    queries = emb.filter(F.col("vec_id") % 400 == 0)
    prior_plan = query_ivf_index(spark, path, queries, k=3, nprobe=8)
    prior_rows = sorted(map(tuple, prior_plan.collect()))

    vacuum_ivf_index(spark, path, sweep_superseded=False)
    # Prior reader's tombstone-filtered plan still executes and agrees
    # with the post-vacuum serve (vacuum is a physical no-op logically).
    post_rows = sorted(
        map(tuple, query_ivf_index(spark, path, queries, k=3, nprobe=8).collect())
    )
    assert sorted(map(tuple, prior_plan.collect())) == post_rows == prior_rows

    rep = repair_ivf_index(spark, path, min_age_s=3600)
    assert rep.get("deferred") is True and rep["removed"] == []
    rep2 = repair_ivf_index(spark, path)
    assert "assignments" in rep2["removed"] or any(
        r.startswith("tombstones") for r in rep2["removed"]
    )
    assert (
        sorted(map(tuple, query_ivf_index(spark, path, queries, k=3, nprobe=8).collect()))
        == post_rows
    )


# ---------------------------------------------------------------------------
# 3: pinned id uniqueness in grouped_holdout_split
# ---------------------------------------------------------------------------


def _corpus(spark):
    return spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 21)], "doc_id long, text string"
    )


def _groups(spark):
    return spark.createDataFrame([], "doc_id long, group_id long")


def test_pinned_duplicate_same_split_collapses(spark):
    from restructure_hdfs_topic_spark.operators.sampling import (
        grouped_holdout_split,
    )

    corpus = _corpus(spark)
    # The same id pinned twice to the SAME split (concatenated assignment
    # runs): must not fan out corpus rows.
    pinned = spark.createDataFrame(
        [(1, "train"), (1, "train"), (2, "test")], "doc_id long, split string"
    )
    out = grouped_holdout_split(
        corpus,
        "doc_id",
        {"train": 0.8, "test": 0.2},
        _groups(spark),
        pinned=pinned,
    )
    assert out.count() == corpus.count()
    assert out.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert got[1] == "train" and got[2] == "test"


def test_pinned_conflicting_splits_raise(spark):
    from restructure_hdfs_topic_spark.operators.sampling import (
        grouped_holdout_split,
    )

    pinned = spark.createDataFrame(
        [(1, "train"), (1, "test")], "doc_id long, split string"
    )
    with pytest.raises(ValueError, match="multiple distinct splits"):
        grouped_holdout_split(
            _corpus(spark),
            "doc_id",
            {"train": 0.8, "test": 0.2},
            _groups(spark),
            pinned=pinned,
        ).count()
