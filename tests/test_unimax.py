"""UniMax sampling (Chung et al. 2023): exact allocation witness,
exact realization witness (hash-order token prefix re-derived in
Python), budget accounting, and edges."""

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.functions.text import token_count
from restructure_hdfs_topic_spark.operators.sampling import (
    KNUTH,
    MOD,
    unimax_allocation,
    unimax_sample,
)

SF_DIR = "/root/testdata/sf0.001"


def test_allocation_witness_cases():
    # Budget below every cap: pure uniform waterfill.
    assert unimax_allocation({"a": 100, "b": 100, "c": 100}, 90, 4) == {
        "a": 30,
        "b": 30,
        "c": 30,
    }
    # Scarce stratum caps out; freed budget redistributes.
    alloc = unimax_allocation({"tail": 10, "web": 1000, "code": 1000}, 300, 4)
    assert alloc["tail"] == 40  # capped at 4 epochs of 10
    assert alloc["web"] + alloc["code"] == 260
    assert abs(alloc["web"] - alloc["code"]) <= 1
    # Budget above the total cap: everything at max_epochs, rest unspent.
    assert unimax_allocation({"a": 5, "b": 7}, 10_000, 2) == {"a": 10, "b": 14}
    # Floor waterfill: unallocated remainder < n_strata.
    alloc = unimax_allocation({"a": 100, "b": 100, "c": 100}, 100, 4)
    assert sum(alloc.values()) in (99, 100)
    # Fractional max_epochs caps at floor(n * e).
    assert unimax_allocation({"a": 10}, 1000, 1.5) == {"a": 15}
    # …including fractions inexact in binary: int(10 * 0.7) would read 6.
    assert unimax_allocation({"a": 10}, 1000, 0.7) == {"a": 7}
    assert unimax_allocation({"a": 10}, 1000, 0.3) == {"a": 3}
    with pytest.raises(ValueError):
        unimax_allocation({"a": 1}, -1, 4)
    with pytest.raises(ValueError):
        unimax_allocation({"a": 1}, 10, 0)


def _bucket(i: int) -> int:
    return (i % MOD) * KNUTH % MOD


def test_unimax_sample_exact_witness(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("n_tokens", token_count(F.col("text")))
        .select("doc_id", "lang", "n_tokens")
    )
    rows = docs.collect()
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["lang"]] = counts.get(r["lang"], 0) + r["n_tokens"]
    budget = sum(counts.values()) // 2  # forces partial epochs
    alloc = unimax_allocation(counts, budget, 3)

    # Expected multiset of (doc_id, epoch): whole copies + the strict
    # hash-order token prefix of the remainder (boundary doc kept).
    exp: set[tuple[int, int]] = set()
    for s, b in alloc.items():
        n = counts[s]
        whole = b // n
        rem = b - whole * n
        members = sorted(
            (r for r in rows if r["lang"] == s),
            key=lambda r: (_bucket(r["doc_id"]), r["doc_id"]),
        )
        for r in members:
            for e in range(whole):
                exp.add((r["doc_id"], e))
        cum = 0
        for r in members:
            if rem > 0 and cum < rem:
                exp.add((r["doc_id"], whole))
            cum += r["n_tokens"]

    out = unimax_sample(docs, "doc_id", "lang", budget, max_epochs=3)
    got = {(r["doc_id"], r["epoch"]) for r in out.collect()}
    assert len(got) == out.count()  # (doc, epoch) pairs are unique
    assert got == exp

    # Budget accounting: every stratum within one document of its
    # allocation, and no stratum exceeds max_epochs.
    tok = {r["doc_id"]: r["n_tokens"] for r in rows}
    lang = {r["doc_id"]: r["lang"] for r in rows}
    spent: dict[str, int] = {}
    for d, _e in got:
        spent[lang[d]] = spent.get(lang[d], 0) + tok[d]
    max_doc = max(tok.values())
    for s, b in alloc.items():
        assert b <= spent.get(s, 0) <= b + max_doc
        assert spent.get(s, 0) <= counts[s] * 3 + max_doc


def test_unimax_sample_partitioning_independent(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("n_tokens", token_count(F.col("text")))
    )
    budget = 20_000
    a = {
        (r["doc_id"], r["epoch"])
        for r in unimax_sample(docs, "doc_id", "lang", budget).collect()
    }
    b = {
        (r["doc_id"], r["epoch"])
        for r in unimax_sample(
            docs.repartition(13), "doc_id", "lang", budget
        ).collect()
    }
    assert a == b and a


def test_unimax_sample_edges(spark):
    docs = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 10), (3, "b", 5)],
        "doc_id long, lang string, n_tokens long",
    )
    # Zero budget: nothing survives, schema keeps the epoch column.
    zero = unimax_sample(docs, "doc_id", "lang", 0)
    assert zero.count() == 0 and "epoch" in zero.columns
    # Budget above all caps: every doc at exactly max_epochs copies.
    full = unimax_sample(docs, "doc_id", "lang", 10**9, max_epochs=2)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in full.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_doc == {1: 2, 2: 2, 3: 2}
    with pytest.raises(ValueError, match="no strata"):
        unimax_sample(
            spark.createDataFrame([], "doc_id long, lang string, n_tokens long"),
            "doc_id",
            "lang",
            100,
        )


def test_corpus_facade_delegates(spark):
    from restructure_hdfs_topic_spark.corpus import Corpus

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumn("n_tokens", token_count(F.col("text")))
    )
    direct = {
        (r["doc_id"], r["epoch"])
        for r in unimax_sample(docs, "doc_id", "lang", 20_000).collect()
    }
    via_facade = {
        (r["doc_id"], r["epoch"])
        for r in Corpus(docs, strata_col="lang").unimax_sample(20_000).collect()
    }
    assert via_facade == direct and direct
