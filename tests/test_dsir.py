"""DSIR importance resampling (Xie et al. 2023): exact pure-Python
re-derivation of the hashed-n-gram features, bag-model log ratios,
per-document importance, and Gumbel top-k selection; plus enrichment
semantics over the documents table and partitioning independence."""

import math
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} missing"
)

HASH_MOD = 2_147_483_647
HASH_BASE = 131


def _tokens(text):
    """Mirror functions.text.tokens: trim SPACES only, lower, split on
    ASCII whitespace (Java's \\s — Python \\s+ would also split on
    Unicode whitespace like NBSP and diverge); keeps empty tokens from
    edge tabs/newlines."""
    t = (text or "").strip(" ").lower()
    return re.split(r"[ \t\n\x0b\f\r]+", t) if t else []


def _phash(s):
    acc = 0
    for ch in s:
        acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
    return acc


BIGRAM_MULT = 8191


def _gram_hashes(text):
    """Unigram token hashes + arithmetic bigram combinations — mirrors
    dsir_ngram_counts' hashing exactly (the bigram feature hash is
    (h1·8191 + h2) mod p of adjacent TOKEN hashes, never a char-fold
    over a joined string)."""
    th = [_phash(t) for t in _tokens(text)]
    return th + [
        (th[i] * BIGRAM_MULT + th[i + 1]) % HASH_MOD
        for i in range(len(th) - 1)
    ]


def _doc_counts(text, n_buckets):
    return Counter(h % n_buckets for h in _gram_hashes(text))


def _model(raw_rows, target_rows, n_buckets, smoothing, k):
    """(scores dict, selected id list) — the full DSIR chain."""
    raw_c = {i: _doc_counts(t, n_buckets) for i, t in raw_rows}
    tgt_c = {i: _doc_counts(t, n_buckets) for i, t in target_rows}
    agg_r, agg_t = Counter(), Counter()
    for c in raw_c.values():
        agg_r.update(c)
    for c in tgt_c.values():
        agg_t.update(c)
    T, R = sum(agg_t.values()), sum(agg_r.values())
    a = smoothing

    def ratio(b):
        return math.log((agg_t[b] + a) / (T + a * n_buckets)) - math.log(
            (agg_r[b] + a) / (R + a * n_buckets)
        )

    scores = {
        i: round(sum(cnt * ratio(b) for b, cnt in c.items()), 6)
        for i, c in raw_c.items()
    }
    keys = {}
    for i in scores:
        u = (_phash(str(i)) + 0.5) / HASH_MOD
        keys[i] = round(scores[i] - math.log(-math.log(u)), 6)
    sel = sorted(keys, key=lambda i: (-keys[i], i))[:k]
    return scores, sel


def _edge_rows():
    raw = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "der schnelle braune fuchs springt"),
        (3, "the fast brown dog runs over the field"),
        (4, "completely unrelated tokens xylophone quartz"),
        (5, ""),
        (6, None),
        (7, "the the the the the"),
    ]
    target = [
        (100, "the quick dog and the brown fox"),
        (101, "the lazy brown dog sleeps over there"),
    ]
    return raw, target


def test_dsir_matches_python_model_on_edges(spark):
    from restructure_hdfs_topic_spark.operators.dsir import (
        dsir_importance,
        dsir_select,
    )

    raw_rows, target_rows = _edge_rows()
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    n_buckets, a, k = 256, 1.0, 3
    scores, sel = _model(raw_rows, target_rows, n_buckets, a, k)

    got = {
        r["doc_id"]: r["log_importance"]
        for r in dsir_importance(
            raw, target, n_buckets=n_buckets, smoothing=a
        ).collect()
    }
    assert set(got) == set(scores)
    for i in scores:
        # Float-sum association differs between engines; 6-decimal
        # rounding leaves ≤1e-5 of slack at worst.
        assert abs(got[i] - scores[i]) <= 1e-5, (i, got[i], scores[i])
    # Featureless docs score exactly 0 and are not dropped.
    assert got[5] == 0.0 and got[6] == 0.0

    picked = dsir_select(
        raw, target, k=k, n_buckets=n_buckets, smoothing=a
    )
    assert sorted(r["doc_id"] for r in picked.collect()) == sorted(sel)
    # Selected rows carry raw's columns + the two score columns.
    assert picked.columns == ["doc_id", "text", "log_importance", "gumbel_key"]
    # English-looking raw docs outrank the German/unrelated ones.  DSIR
    # weights are length-sensitive (a bag-model log likelihood ratio
    # SUMS per gram), so compare PER-GRAM across different-length docs.
    per_gram = {
        i: got[i] / len(_gram_hashes(t)) for i, t in raw_rows if _tokens(t)
    }
    assert per_gram[1] > per_gram[2]
    assert per_gram[3] > per_gram[4]


def test_dsir_enrichment_and_partitioning(spark):
    from restructure_hdfs_topic_spark.operators.dsir import dsir_select
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    raw = docs.select("doc_id", "text")
    k = 120
    picked = dsir_select(raw, target, k=k)
    rows = picked.collect()
    assert len(rows) == k
    # Enrichment: the en fraction among selected beats the base rate.
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    sel_en = sum(langs[r["doc_id"]] == "en" for r in rows) / k
    base_en = sum(v == "en" for v in langs.values()) / len(langs)
    assert sel_en > base_en
    # Deterministic + partitioning-independent selection.
    again = {
        r["doc_id"]
        for r in dsir_select(
            raw.repartition(7), target.repartition(5), k=k
        ).collect()
    }
    assert again == {r["doc_id"] for r in rows}


def test_dsir_validates_k(spark):
    from restructure_hdfs_topic_spark.operators.dsir import dsir_select

    raw_rows, target_rows = _edge_rows()
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    with pytest.raises(ValueError):
        dsir_select(raw, target, k=0)


def test_dsir_string_ids(spark):
    """String/UUID ids must get REAL Gumbel keys (hash_bucket would cast
    them to long -> NULL and silently pick the k smallest ids)."""
    from restructure_hdfs_topic_spark.operators.dsir import dsir_select

    raw_rows, target_rows = _edge_rows()
    raw = spark.createDataFrame(
        [(f"url-{i}", t) for i, t in raw_rows], "doc_id string, text string"
    )
    target = spark.createDataFrame(
        [(f"b-{i}", t) for i, t in target_rows], "doc_id string, text string"
    )
    k = 3
    picked = dsir_select(raw, target, k=k).collect()
    assert len(picked) == k
    assert all(r["gumbel_key"] is not None for r in picked)
    scores, sel = _model(
        [(f"url-{i}", t) for i, t in raw_rows],
        [(f"b-{i}", t) for i, t in target_rows],
        10_000, 1.0, k,
    )
    assert sorted(r["doc_id"] for r in picked) == sorted(sel)
