"""Tombstone deletes (r12, Lucene's liveDocs model): served rows after
``delete_bm25_docs`` must be BIT-IDENTICAL to a from-scratch rebuild on
the corpus minus the deleted docs — global stats subtracted exactly from
the doclens sidecar, df(t) derived from live postings, compaction purges
physically.  The takedown / right-to-be-forgotten lane of the index
lifecycle."""

import json
import os

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators import bm25_index as bix
from restructure_hdfs_topic_spark.operators.bm25_index import (
    append_bm25_segment,
    build_bm25_index,
    compact_bm25_index,
    corpus_fingerprint,
    delete_bm25_docs,
    load_bm25_meta,
    query_bm25_index,
    repair_bm25_index,
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
    (13, "   "),  # empty after trim — in doclens (dl 0), not in postings
]
BATCH_C = [
    (21, "eta theta alpha"),
    (22, "beta gamma theta theta"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _queries(spark):
    terms = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    return spark.createDataFrame(
        [(i % 3, t) for i, t in enumerate(terms)], "query_id long, term string"
    )


def _served(spark, path, qs, k=4):
    return sorted(map(tuple, query_bm25_index(spark, path, qs, k=k).collect()))


def _direct(spark, rows, qs, k=4):
    return sorted(map(tuple, bm25_topk(_df(spark, rows), qs, k=k).collect()))


def test_delete_serves_rebuild_on_complement(spark, tmp_path):
    """Delete ids spanning base AND segment: served rows bit-identical to
    the direct path over the complement; stats and version move."""
    qs = _queries(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    append_bm25_segment(_df(spark, BATCH_B), path)
    v_before = load_bm25_meta(spark, path)["version"]

    meta = delete_bm25_docs(spark, path, _ids(spark, [2, 12]))
    assert meta["version"] == v_before + 1
    assert meta["n_deleted"] == 2 and meta["tomb_dir"] == "ts-g00001"

    complement = [r for r in BATCH_A + BATCH_B if r[0] not in (2, 12)]
    assert _served(spark, path, qs) == _direct(spark, complement, qs)
    assert _served(spark, path, qs)  # non-empty


def test_delete_nonexistent_and_double_delete_are_noops(spark, tmp_path):
    qs = _queries(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    before = _served(spark, path, qs)
    meta0 = load_bm25_meta(spark, path)

    # Never-indexed id: no hits, meta unchanged (no version bump).
    meta1 = delete_bm25_docs(spark, path, _ids(spark, [999]))
    assert meta1["version"] == meta0["version"]
    assert _served(spark, path, qs) == before

    # Real delete, then deleting the SAME id again is a no-op (already
    # tombstoned — a rebuild on the complement wouldn't change either).
    meta2 = delete_bm25_docs(spark, path, _ids(spark, [2]))
    meta3 = delete_bm25_docs(spark, path, _ids(spark, [2]))
    assert meta3["version"] == meta2["version"]
    assert meta3["n_deleted"] == meta2["n_deleted"] == 1
    complement = [r for r in BATCH_A if r[0] != 2]
    assert _served(spark, path, qs) == _direct(spark, complement, qs)
    # The no-op's candidate generation was cleaned up: only the committed
    # generation remains on disk (no ts-g00002 litter).
    assert sorted(os.listdir(f"{path}/tombstones")) == [meta2["tomb_dir"]]


def test_delete_then_append_then_serve_exact(spark, tmp_path):
    qs = _queries(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    delete_bm25_docs(spark, path, _ids(spark, [1, 4]))
    append_bm25_segment(_df(spark, BATCH_C), path)
    complement = [r for r in BATCH_A if r[0] not in (1, 4)] + BATCH_C
    assert _served(spark, path, qs) == _direct(spark, complement, qs)


def test_compaction_purges_tombstones_physically(spark, tmp_path):
    """Compaction after deletes: tombstoned postings physically gone, the
    tombstone state cleared, served rows unchanged, and the folded meta
    fingerprint equals a fresh fingerprint of the complement corpus."""
    qs = _queries(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    append_bm25_segment(_df(spark, BATCH_B), path)
    delete_bm25_docs(spark, path, _ids(spark, [2, 11]))
    before = _served(spark, path, qs)

    meta = compact_bm25_index(spark, path)
    assert meta["segments"] == [] and meta["tomb_dir"] == ""
    assert meta["n_deleted"] == 0 and meta["fp_deleted_count"] == 0
    assert not os.path.exists(f"{path}/tombstones")
    # Physical purge: the merged postings/doclens hold no deleted id.
    posts = spark.read.parquet(f"{path}/{meta['base_dir']}/postings")
    assert posts.filter(F.col("doc_id").isin([2, 11])).count() == 0
    dls = spark.read.parquet(f"{path}/{meta['base_dir']}/doclens")
    assert dls.filter(F.col("doc_id").isin([2, 11])).count() == 0

    assert _served(spark, path, qs) == before
    complement = [r for r in BATCH_A + BATCH_B if r[0] not in (2, 11)]
    assert before == _direct(spark, complement, qs)
    # Folded fingerprint == fresh fingerprint of the complement.
    want_fp = corpus_fingerprint(_df(spark, complement))
    assert {k: meta[k] for k in want_fp} == want_fp

    # The lifecycle continues: delete more AFTER the compaction (the
    # merged doclens carries the sidecar forward).
    delete_bm25_docs(spark, path, _ids(spark, [3]))
    complement2 = [r for r in complement if r[0] != 3]
    assert _served(spark, path, qs) == _direct(spark, complement2, qs)


def test_interrupted_delete_leaves_old_state_serving(spark, tmp_path, monkeypatch):
    """A delete killed before its atomic publish leaves the index serving
    the PRE-delete corpus; repair sweeps the orphan tombstone generation;
    a retry converges."""
    qs = _queries(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    before = _served(spark, path, qs)
    v0 = load_bm25_meta(spark, path)["version"]

    real_publish = bix._write_meta_atomic

    def boom(*_a, **_k):
        raise RuntimeError("killed mid-delete")

    monkeypatch.setattr(bix, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="killed mid-delete"):
        delete_bm25_docs(spark, path, _ids(spark, [2]))
    monkeypatch.setattr(bix, "_write_meta_atomic", real_publish)

    meta = load_bm25_meta(spark, path)
    assert meta["version"] == v0 and "tomb_dir" not in meta
    assert _served(spark, path, qs) == before
    assert os.path.isdir(f"{path}/tombstones/ts-g00001")  # orphan litter
    rep = repair_bm25_index(spark, path)
    assert "tombstones/ts-g00001" in rep["removed"] or "tombstones" in rep["removed"]
    assert not os.path.exists(f"{path}/tombstones")

    meta2 = delete_bm25_docs(spark, path, _ids(spark, [2]))
    assert meta2["version"] == v0 + 1 and meta2["tomb_dir"] == "ts-g00001"
    complement = [r for r in BATCH_A if r[0] != 2]
    assert _served(spark, path, qs) == _direct(spark, complement, qs)


def test_delete_refused_without_doclens_sidecar(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    meta_file = f"{path}/_bm25_meta.json"
    with open(meta_file) as fh:
        meta = json.load(fh)
    meta.pop("doclens")  # simulate an index built before the sidecar
    with open(meta_file, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="doclens"):
        delete_bm25_docs(spark, path, _ids(spark, [1]))


def test_delete_validates_id_column_and_type(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    with pytest.raises(ValueError, match="id column"):
        delete_bm25_docs(
            spark, path, spark.createDataFrame([(1,)], "other long")
        )
    with pytest.raises(ValueError, match="id type"):
        delete_bm25_docs(
            spark, path, spark.createDataFrame([("1",)], "doc_id string")
        )


def test_delete_empty_text_doc_folds_fingerprint_only(spark, tmp_path):
    """Deleting a doc the postings never held (empty text): stats stay,
    served rows stay, but the fingerprint fold tracks it — after
    compaction the meta fp equals the complement's, exactly."""
    qs = _queries(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_B), path, n_buckets=4)  # holds (13, "   ")
    before = _served(spark, path, qs)
    meta0 = load_bm25_meta(spark, path)

    meta = delete_bm25_docs(spark, path, _ids(spark, [13]))
    assert meta["n_deleted"] == 0 and meta["sum_dl_deleted"] == 0
    assert meta["fp_deleted_count"] == 1
    assert meta["version"] == meta0["version"] + 1
    assert _served(spark, path, qs) == before

    meta2 = compact_bm25_index(spark, path)
    want_fp = corpus_fingerprint(_df(spark, [r for r in BATCH_B if r[0] != 13]))
    assert {k: meta2[k] for k in want_fp} == want_fp
    assert _served(spark, path, qs) == before


def test_expected_version_guard_sees_deletes(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_df(spark, BATCH_A), path, n_buckets=4)
    qs = _queries(spark)
    query_bm25_index(spark, path, qs, expected_version=0)
    delete_bm25_docs(spark, path, _ids(spark, [1]))
    with pytest.raises(ValueError, match="version"):
        query_bm25_index(spark, path, qs, expected_version=0)
