"""Regression tests for the round-11 advisor findings (ADVICE.md r11):

1. medium — ``streaming_bm25_index_sink`` bootstraps ONLY on a
   verified-absent index: a missing-meta-with-artifacts state refuses
   loudly, and a meta that exists but fails to load re-raises instead
   of silently rebuilding an empty base over the live index.
2. low — ``corpus_fingerprint`` documents its text check as
   probabilistic and exposes ``text_sample_mod`` (mod=1 hashes every
   text, catching single-document in-place edits).
3. low — ``near_dup_groups``'s memo folds a content fingerprint into
   its key, so a corpus regenerated in place under an identical plan is
   served FRESH groups.
4. low — ``storage``'s Hadoop ``replace`` replaces in one FileContext
   rename (no neither-version crash window); ``read_replaced`` recovers
   the ``.old`` aside-copy the object-store fallback path can leave.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark import storage
from restructure_hdfs_topic_spark.operators.bm25_index import (
    bm25_artifacts_exist,
    bm25_meta_exists,
    build_bm25_index,
    corpus_fingerprint,
    load_bm25_meta,
)
from restructure_hdfs_topic_spark.streaming.stateful import (
    streaming_bm25_index_sink,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- finding 1


def test_sink_refuses_bootstrap_over_metaless_artifacts(spark, tmp_path):
    """Index data dirs without a meta = interrupted build/compaction;
    the sink must fail loudly, never rebuild an empty base over them."""
    path = str(tmp_path / "idx")
    build_bm25_index(_docs(spark, [(1, "alpha beta"), (2, "beta gamma")]), path, n_buckets=4)
    os.remove(f"{path}/_bm25_meta.json")  # simulate the crashed compactor
    assert bm25_artifacts_exist(spark, path) and not bm25_meta_exists(spark, path)

    body = streaming_bm25_index_sink(path, n_buckets=4)
    with pytest.raises(RuntimeError, match="recover or rebuild explicitly"):
        body(_docs(spark, [(3, "delta")]), 0)
    # Nothing was overwritten: the postings survive the refusal.
    assert os.path.isdir(f"{path}/postings")


def test_sink_reraises_on_corrupt_meta(spark, tmp_path):
    """An existing-but-unreadable meta is an ERROR, not 'first batch' —
    silently rebuilding would erase the indexed history and the
    exactly-once state."""
    path = str(tmp_path / "idx")
    build_bm25_index(_docs(spark, [(1, "alpha beta")]), path, n_buckets=4)
    with open(f"{path}/_bm25_meta.json", "w") as fh:
        fh.write("{ truncated")
    body = streaming_bm25_index_sink(path, n_buckets=4)
    with pytest.raises(Exception) as exc:
        body(_docs(spark, [(2, "gamma")]), 0)
    assert not isinstance(exc.value, RuntimeError) or "recover" not in str(exc.value)
    # The corrupt meta is still there — no silent reset happened.
    with open(f"{path}/_bm25_meta.json") as fh:
        assert fh.read().startswith("{ truncated")


def test_sink_bootstraps_only_on_verified_absent_index(spark, tmp_path):
    path = str(tmp_path / "fresh_idx")
    body = streaming_bm25_index_sink(path, n_buckets=4)
    body(_docs(spark, [(1, "alpha beta gamma")]), 0)
    meta = load_bm25_meta(spark, path)
    assert meta["last_batch_id"] == 0 and len(meta["segments"]) == 1


# ---------------------------------------------------------------- finding 2


def test_corpus_fingerprint_mod1_detects_single_edit(spark):
    rows = [(i, f"document number {i} body") for i in range(50)]
    edited = [(i, t if i != 17 else t + " EDITED") for i, t in rows]
    fp_a = corpus_fingerprint(_docs(spark, rows), text_sample_mod=1)
    fp_b = corpus_fingerprint(_docs(spark, edited), text_sample_mod=1)
    assert fp_a["fp_mod"] == 1
    assert fp_a["fp_count"] == fp_b["fp_count"]
    assert fp_a["fp_xor_id"] == fp_b["fp_xor_id"]
    assert fp_a["fp_xor_text"] != fp_b["fp_xor_text"]


def test_corpus_fingerprint_records_mod_in_meta(spark, tmp_path):
    path = str(tmp_path / "idx")
    meta = build_bm25_index(_docs(spark, [(1, "alpha")]), path, n_buckets=4)
    assert meta["fp_mod"] == 101  # the default sample rate, persisted


# ---------------------------------------------------------------- finding 3


def test_near_dup_groups_fresh_after_inplace_regen(spark, tmp_path):
    """Regenerate a corpus IN PLACE under an identical read plan: the
    memo must serve groups for the NEW content (mirror of the BM25
    fingerprint case in test_advice_r10)."""
    from restructure_hdfs_topic_spark.operators.dedup import near_dup_groups

    path = str(tmp_path / "corpus")
    base = "the quick brown fox jumps over the lazy dog again and again"
    # v1: docs 1 and 2 are near-dups, 3 is distinct.
    _docs(
        spark,
        [(1, base), (2, base + " extra"), (3, "completely different words entirely here now")],
    ).coalesce(1).write.mode("overwrite").parquet(path)
    g1 = {
        r["doc_id"]: r["group_id"]
        for r in near_dup_groups(spark.read.parquet(path), "doc_id", "text").collect()
    }
    assert g1[1] == g1[2] and g1[3] != g1[1]

    # v2 regenerated in place: now 2 and 3 share text, 1 is distinct.
    other = "pack my box with five dozen liquor jugs for the long winter trip"
    _docs(
        spark,
        [(1, "totally unrelated content sits here instead now"), (2, other), (3, other + " extra")],
    ).coalesce(1).write.mode("overwrite").parquet(path)
    g2 = {
        r["doc_id"]: r["group_id"]
        for r in near_dup_groups(spark.read.parquet(path), "doc_id", "text").collect()
    }
    assert g2[2] == g2[3] and g2[1] != g2[2]


def test_near_dup_groups_memo_still_hits_on_same_content(spark):
    """Identical plan + identical content must return the SAME frame
    object (the memo hit the bench warm loop relies on)."""
    from restructure_hdfs_topic_spark.operators.dedup import near_dup_groups

    docs = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta"), (2, "eta theta iota kappa lambda mu")])
    a = near_dup_groups(docs, "doc_id", "text")
    b = near_dup_groups(docs, "doc_id", "text")
    assert a is b


# ---------------------------------------------------------------- finding 4


def test_atomic_replace_over_uri_keeps_one_valid_version(spark, tmp_path, viewfs):
    # A viewfs:// mount takes the Hadoop store (file:// URIs are local).
    path = f"{viewfs(tmp_path)}/meta.json"
    st = storage.store(path, spark)
    assert isinstance(st, storage.Hadoop)
    st.replace(path, b'{"v": 1}')
    assert json.loads(st.read(path)) == {"v": 1}
    st.replace(path, b'{"v": 2}')
    assert json.loads(st.read(path)) == {"v": 2}
    # The one-op rename leaves no .tmp/.old litter on the FileContext path.
    assert not st.exists(f"{path}.tmp")
    assert not st.exists(f"{path}.old")


def test_read_small_file_fallback_recovers_old(tmp_path):
    """The object-store fallback's only torn state is 'previous at .old,
    new not yet published' — the fallback reader returns the previous
    version per the old-stays-valid contract."""
    path = str(tmp_path / "meta.json")
    with open(f"{path}.old", "w") as fh:
        fh.write('{"v": 1}')
    assert json.loads(storage.store(path).read_replaced(path)) == {"v": 1}
    with open(path, "w") as fh:
        fh.write('{"v": 2}')
    assert json.loads(storage.store(path).read_replaced(path)) == {"v": 2}
    os.remove(path)
    os.remove(f"{path}.old")
    with pytest.raises(FileNotFoundError):
        storage.store(path).read_replaced(path)
