"""On-disk BM25 inverted index: bit-identical equality with the direct
``bm25_topk`` path, partition-pruning / pushdown plan shape, meta
round-trip, and query edges."""

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators import bm25_index as bix
from restructure_hdfs_topic_spark.operators.bm25_index import (
    build_bm25_index,
    load_bm25_meta,
    query_bm25_index,
)
from restructure_hdfs_topic_spark.operators.retrieval import (
    bm25_topk,
    corpus_queries,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bm25") / "idx")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    meta = build_bm25_index(docs, path, n_buckets=16)
    assert meta["n_docs"] > 0 and meta["sum_dl"] > meta["n_docs"]
    return path


def test_index_query_equals_direct_path(spark, index_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qs = corpus_queries(docs, sample_mod=7)
    direct = sorted(map(tuple, bm25_topk(docs, qs, k=5).collect()))
    served = sorted(map(tuple, query_bm25_index(spark, index_path, qs, k=5).collect()))
    assert served == direct
    assert len(served) > 0


def test_index_query_prunes_buckets_and_pushes_token_filter(spark, index_path):
    qs = spark.createDataFrame([(1, "the")], "query_id long, term string")
    out = query_bm25_index(spark, index_path, qs, k=3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The bucket equality/IN filter must land in PartitionFilters (whole
    # directories skipped) and the token filter must reach the scan.
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in pf
    assert "PushedFilters" in plan
    assert "token" in plan.split("PushedFilters", 1)[1][:300]


def test_meta_roundtrip_and_rebuild(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma gamma"), (3, "  ")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    meta = build_bm25_index(docs, path, n_buckets=4)
    assert load_bm25_meta(spark, path) == meta
    assert meta["n_docs"] == 2 and meta["sum_dl"] == 5 and meta["n_buckets"] == 4

    # Rebuild with a different corpus fully overwrites.
    docs2 = spark.createDataFrame(
        [(7, "delta delta")], "doc_id long, text string"
    )
    build_bm25_index(docs2, path, n_buckets=4)
    qs = spark.createDataFrame([(1, "delta"), (1, "beta")], "query_id long, term string")
    rows = query_bm25_index(spark, path, qs, k=5).collect()
    assert [r["doc_id"] for r in rows] == [7]
    assert rows[0]["n_terms_matched"] == 1  # "beta" is gone after rebuild


def test_query_edges(spark, index_path, monkeypatch):
    empty = spark.createDataFrame([], "query_id long, term string")
    assert query_bm25_index(spark, index_path, empty, k=5).count() == 0

    nomatch = spark.createDataFrame(
        [(9, "zzzznotaword")], "query_id long, term string"
    )
    assert query_bm25_index(spark, index_path, nomatch, k=5).count() == 0

    monkeypatch.setattr(bix, "MAX_QUERY_TERMS", 1)
    big = spark.createDataFrame(
        [(1, "alpha"), (1, "beta")], "query_id long, term string"
    )
    with pytest.raises(ValueError, match="MAX_QUERY_TERMS"):
        query_bm25_index(spark, index_path, big, k=5)


def test_empty_corpus_index(spark, tmp_path):
    docs = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "idx")
    meta = build_bm25_index(docs, path, n_buckets=4)
    assert meta["n_docs"] == 0
    qs = spark.createDataFrame([(1, "alpha")], "query_id long, term string")
    assert query_bm25_index(spark, path, qs, k=5).count() == 0


def test_null_terms_and_string_id_empty_schema(spark, index_path, tmp_path):
    # NULL terms drop (the direct path's inner join drops them too) —
    # both paths return the same rows instead of one crashing.
    from restructure_hdfs_topic_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qs = spark.createDataFrame(
        [(1, None), (1, "the")], "query_id long, term string"
    )
    direct = sorted(map(tuple, bm25_topk(docs, qs, k=3).collect()))
    served = sorted(
        map(tuple, query_bm25_index(spark, index_path, qs, k=3).collect())
    )
    assert served == direct

    # String-id corpus: the no-match empty result carries the SAME schema
    # as a matching batch (meta id_type + the caller's query_id type).
    sdocs = spark.createDataFrame(
        [("a", "alpha beta"), ("b", "beta gamma")], "doc_id string, text string"
    )
    path = str(tmp_path / "sidx")
    build_bm25_index(sdocs, path, id_col="doc_id", n_buckets=4)
    hit = query_bm25_index(
        spark, path, spark.createDataFrame([(1, "beta")], "query_id long, term string")
    )
    miss = query_bm25_index(
        spark, path, spark.createDataFrame([(1, "zzz")], "query_id long, term string")
    )
    assert miss.schema == hit.schema
    assert hit.unionByName(miss).count() == hit.count() == 2


def test_segment_fingerprint_rides_doclens_write(spark, tmp_path):
    """r14: _write_segment derives the corpus fingerprint from an
    Observation on the doclens write; it must equal the direct
    corpus_fingerprint scan — including empty-text docs (doclens rows
    with dl=0) and the all-empty corpus (no part dirs → zeros, the
    observation never consulted)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, ""), (3, "gamma"), (4, "   "),
         (5, "alpha gamma delta")],
        "doc_id long, text string",
    )
    # fp_mod=1 hashes EVERY text → the strictest equality surface.
    n_docs, sum_dl, fp = bix._write_segment(
        docs, str(tmp_path / "seg"), "doc_id", "text", n_buckets=4, fp_mod=1
    )
    assert (n_docs, sum_dl) == (3, 7)
    assert fp == bix.corpus_fingerprint(docs, text_sample_mod=1)

    # Sampled rule (default mod): same equality through the null-skipping
    # bit_xor path.
    n_docs2, sum_dl2, fp2 = bix._write_segment(
        docs, str(tmp_path / "seg2"), "doc_id", "text", n_buckets=4
    )
    assert fp2 == bix.corpus_fingerprint(docs)

    # Empty input: no part dirs are written; the fingerprint is zeros and
    # matches the scan's empty-aggregate convention.
    empty = docs.filter(F.lit(False))
    n_docs3, sum_dl3, fp3 = bix._write_segment(
        empty, str(tmp_path / "seg3"), "doc_id", "text", n_buckets=4
    )
    assert (n_docs3, sum_dl3) == (0, 0)
    assert fp3 == bix.corpus_fingerprint(empty)
