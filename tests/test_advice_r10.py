"""Regression tests for the round-10 advisor findings (ADVICE.md r10):

1. medium — ``build_bm25_index`` must invalidate the meta FIRST, so a
   build killed between the postings overwrite and the meta write is
   detected as stale (no intact previous meta describing new postings).
2. low — ``corpus_queries`` rejects non-integral id columns loudly
   instead of returning a silently empty query set.
3. low — build-once BM25 artifacts carry a corpus fingerprint so a
   corpus regenerated in place under the same path is detected.
"""

import json

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators import bm25_index as bix
from restructure_hdfs_topic_spark.operators.bm25_index import (
    build_bm25_index,
    corpus_fingerprint,
    load_bm25_meta,
    query_bm25_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_interrupted_build_leaves_no_valid_meta(spark, tmp_path, monkeypatch):
    """A build that dies before its meta write must leave NO meta behind
    — the previous build's meta would otherwise describe the NEW
    postings (wrong n_docs/sum_dl → silently wrong scores)."""
    docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    path = str(tmp_path / "idx")
    build_bm25_index(docs, path, n_buckets=4)
    assert load_bm25_meta(spark, path)["n_docs"] == 2

    def boom(*_a, **_k):
        raise RuntimeError("killed mid-build")

    monkeypatch.setattr(bix, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="killed mid-build"):
        build_bm25_index(_docs(spark, [(9, "delta")]), path, n_buckets=4)
    # The OLD meta is gone: any reader sees "stale, rebuild", never
    # new-postings-vs-old-stats.
    with pytest.raises(Exception):
        load_bm25_meta(spark, path)


def test_corpus_queries_rejects_string_ids(spark):
    from restructure_hdfs_topic_spark.operators.retrieval import corpus_queries

    sdocs = spark.createDataFrame(
        [("a", "alpha beta gamma delta")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="integral"):
        corpus_queries(sdocs, id_col="doc_id")


def test_corpus_fingerprint_detects_changes(spark):
    n = 600  # large enough that the ~1% text sample is non-empty
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("token word "), F.col("id").cast("string")).alias("text"),
    )
    fp = corpus_fingerprint(base)
    assert fp["fp_count"] == n
    # Partitioning-independent (XOR + count are commutative).
    assert corpus_fingerprint(base.repartition(7)) == fp
    # Different id set → different fingerprint.
    shifted = base.withColumn("doc_id", F.col("doc_id") + 1)
    assert corpus_fingerprint(shifted) != fp
    # SAME id set, regenerated text → the sampled text hash moves.
    retext = base.withColumn("text", F.concat(F.col("text"), F.lit(" v2")))
    fp2 = corpus_fingerprint(retext)
    assert fp2["fp_count"] == fp["fp_count"]
    assert fp2["fp_xor_id"] == fp["fp_xor_id"]
    assert fp2["fp_xor_text"] != fp["fp_xor_text"]


def test_build_meta_records_fingerprint(spark, tmp_path):
    docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    path = str(tmp_path / "idx")
    meta = build_bm25_index(docs, path, n_buckets=4)
    want = corpus_fingerprint(docs)
    assert {k: meta[k] for k in want} == want


def test_entry_rebuilds_on_regenerated_corpus(spark, tmp_path):
    """End-to-end on the driver surface: q_bm25_index_query must NOT
    serve stale postings after the corpus parquet is regenerated in
    place (same path, same params, different data)."""
    import __spark_entry__ as entry

    sf_dir = str(tmp_path / "sfx")
    docs_v1 = _docs(
        spark,
        [(0, "apple banana cherry durian"), (101, "banana cherry elder fig")],
    )
    docs_v1.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    out1 = entry.q_bm25_index_query(spark, sf_dir).collect()
    assert {r["doc_id"] for r in out1} <= {0, 101} and out1

    # Regenerate IN PLACE: same ids would dodge an id-only check, so
    # change both membership and text.
    docs_v2 = _docs(
        spark,
        [(0, "zebra yak xenops walrus"), (202, "yak xenops vole zebra")],
    )
    docs_v2.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    out2 = entry.q_bm25_index_query(spark, sf_dir).collect()
    assert {r["doc_id"] for r in out2} <= {0, 202} and out2
    # v1 vocabulary must be gone from the served index.
    meta_path = [
        p for p in __import__("glob").glob("/tmp/spark_graft_bm25_index_sfx_*")
    ]
    assert meta_path, "entry should have built a keyed artifact"
    meta = json.loads(open(f"{sorted(meta_path)[-1]}/_bm25_meta.json").read())
    assert meta["fp_count"] == 2
