"""Takedown propagation (r13, VERDICT r12 #3/#4): a deleted document's
fingerprints must stop suppressing new near-identical documents —
``delete_from_incremental_state`` retracts the exact-fingerprint and
MinHash-signature lanes with versioned CAS commits, the Bloom sidecar
follows via its version gate, and ``Corpus.forget`` composes all three
index-like states into one fan-out whose serve paths then behave as if
the documents never existed."""

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.incremental import (
    delete_from_incremental_state,
    ingest_batch,
    ingest_batch_near_dup,
    read_fingerprints,
    read_signatures,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sink():
    seen = []

    def write(df):
        seen.append([r["doc_id"] for r in df.collect()])

    return seen, write


def test_exact_lane_forgets_deleted_content(spark, tmp_path):
    """After the takedown, a NEW document with the forgotten text is
    accepted again (the r12 inverse right-to-be-forgotten hole); other
    committed fingerprints keep suppressing."""
    state = str(tmp_path / "state")
    seen, write = _sink()
    ingest_batch(
        spark, state, _docs(spark, [(1, "secret recipe"), (2, "keep me")]), write
    )

    rep = delete_from_incremental_state(
        spark, state, docs=_docs(spark, [(1, "secret recipe")])
    )
    assert rep["fp_state"]["removed"] == 1
    assert rep["sig_state"] is None  # no signature state committed

    out = ingest_batch(
        spark,
        state,
        _docs(spark, [(10, "secret recipe"), (11, "keep me")]),
        write,
    )
    # The forgotten text is novel again; the surviving fingerprint still
    # suppresses its duplicate.
    assert out["accepted_rows"] == 1
    assert seen[-1] == [10]


def test_exact_lane_bloom_path_agrees(spark, tmp_path):
    """The Bloom-accelerated path gives the same answer post-delete: the
    state version moved, the sidecar rebuilds, and even a stale bitmap
    could only produce exact-verified false positives."""
    from restructure_hdfs_topic_spark.operators.bloom import read_bloom_meta

    state = str(tmp_path / "state")
    seen, write = _sink()
    ingest_batch(
        spark,
        state,
        _docs(spark, [(1, "vanish me"), (2, "stay")]),
        write,
        use_bloom=True,
    )
    v_before = read_bloom_meta(spark, state)["state_version"]
    delete_from_incremental_state(spark, state, docs=_docs(spark, [(1, "vanish me")]))
    out = ingest_batch(
        spark,
        state,
        _docs(spark, [(20, "vanish me"), (21, "stay")]),
        write,
        use_bloom=True,
    )
    assert out["accepted_rows"] == 1
    assert seen[-1] == [20]
    # The sidecar moved past the delete commit (rebuild or fold — either
    # way its version now reflects post-delete, post-ingest state).
    assert read_bloom_meta(spark, state)["state_version"] > v_before


def test_exact_lane_surviving_guard(spark, tmp_path):
    """A fingerprint shared with a SURVIVING document is kept: the
    surviving copy still justifies suppressing future duplicates."""
    state = str(tmp_path / "state")
    seen, write = _sink()
    # Docs 1 and 2 share text; only doc 1 is taken down.
    ingest_batch(spark, state, _docs(spark, [(1, "shared text")]), write)
    rep = delete_from_incremental_state(
        spark,
        state,
        docs=_docs(spark, [(1, "shared text")]),
        surviving=_docs(spark, [(2, "shared text")]),
    )
    assert rep["fp_state"]["removed"] == 0
    out = ingest_batch(spark, state, _docs(spark, [(30, "shared text")]), write)
    assert out["accepted_rows"] == 0  # still suppressed


def test_sig_lane_forgets_near_dups(spark, tmp_path):
    """The MinHash lane: a near-identical successor of a forgotten
    document is NOT suppressed, while other state survives."""
    state = str(tmp_path / "state")
    seen, write = _sink()
    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about warehouse scale spark plans"
    ingest_batch_near_dup(
        spark, state, _docs(spark, [(1, base), (2, other)]), write, threshold=0.5
    )
    assert read_signatures(spark, state).count() == 2

    rep = delete_from_incremental_state(spark, state, ids=_docs(spark, [(1, base)]))
    assert rep["sig_state"]["removed"] == 1
    assert read_signatures(spark, state).count() == 1

    near = base + " extra"
    out = ingest_batch_near_dup(
        spark, state, _docs(spark, [(40, near), (41, other)]), write, threshold=0.5
    )
    # The forgotten doc's near-dup is accepted; the survivor's near-dup
    # (identical text) is still suppressed.
    assert out["accepted_rows"] == 1
    assert seen[-1] == [40]


def test_delete_on_empty_state_is_noop(spark, tmp_path):
    rep = delete_from_incremental_state(
        spark, str(tmp_path / "nostate"), docs=_docs(spark, [(1, "x")])
    )
    assert rep == {"fp_state": None, "sig_state": None}


def test_corpus_forget_end_to_end(spark, tmp_path):
    """The composed lifecycle: ingest → index everything (BM25 + IVF +
    incremental state) → ``Corpus.forget`` one doc set → every serve
    path behaves as if the docs never existed."""
    from restructure_hdfs_topic_spark.corpus import Corpus
    from restructure_hdfs_topic_spark.operators.bm25_index import (
        build_bm25_index,
        query_bm25_index,
    )
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        build_ivf_index,
        query_ivf_index,
    )

    rows = [
        (i, f"document number {i} with shared vocabulary token{i % 4}")
        for i in range(1, 41)
    ]
    docs = _docs(spark, rows)
    emb = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(
            (F.col("doc_id") % 7).cast("float"),
            (F.col("doc_id") % 5).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    bm25_path = str(tmp_path / "bm25")
    ivf_path = str(tmp_path / "ivf")
    state = str(tmp_path / "state")
    build_bm25_index(docs, bm25_path, n_buckets=4)
    build_ivf_index(emb, ivf_path, id_col="vec_id", n_centroids=4)
    seen, write = _sink()
    ingest_batch(spark, state, docs, write)

    kill = docs.filter(F.col("doc_id") % 10 == 3)
    # Corpus.forget needs the DELETED docs' embeddings id under the
    # corpus id column for the IVF lane — doc_id IS vec_id here.
    report = Corpus(kill, id_col="doc_id").forget(
        bm25_path=bm25_path, ivf_path=None, state_dir=state
    )
    # The IVF index uses vec_id as its id column; forget through a
    # vec_id-keyed Corpus view of the same kill set.
    report_ivf = Corpus(
        kill.select(F.col("doc_id").alias("vec_id")), id_col="vec_id"
    ).forget(ivf_path=ivf_path)

    assert report["bm25"]["n_deleted"] == kill.count()
    assert report_ivf["ivf"]["n_deleted"] == kill.count()
    assert report["incremental"]["fp_state"]["removed"] == kill.count()

    killed_ids = {r["doc_id"] for r in kill.collect()}

    # BM25 serve: no forgotten id ever appears.
    q = spark.createDataFrame(
        [(1, "document"), (1, "token3"), (2, "number")],
        "query_id long, term string",
    )
    served = query_bm25_index(spark, bm25_path, q, k=10)
    assert not {r["doc_id"] for r in served.collect()} & killed_ids

    # IVF serve: no forgotten id among neighbors.
    queries = emb.filter(F.col("vec_id") % 10 == 1)
    got = query_ivf_index(spark, ivf_path, queries, k=5, nprobe=4)
    assert not {r["neighbor_id"] for r in got.collect()} & killed_ids

    # Incremental probe: a re-submission of forgotten content is novel.
    resub = kill.select(
        (F.col("doc_id") + 1000).alias("doc_id"), F.col("text")
    )
    out = ingest_batch(spark, state, resub, write)
    assert out["accepted_rows"] == kill.count()
