"""Best-fit-decreasing no-split packing (Ding et al. 2024): exact
Python re-derivation of the per-bucket BFD assignment, bin invariants,
oversize-split semantics, and partitioning independence."""

import math
import os
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} missing"
)

HASH_MOD = 2_147_483_647
HASH_BASE = 131


def _phash(s):
    acc = 0
    for ch in s:
        acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
    return acc


def _model_bucket(members, budget):
    """BFD over one bucket's (id, n) pairs — mirrors the kernel."""
    from bisect import bisect_left, insort

    chunks = []
    for did, n in members:
        n = max(int(n or 0), 0)
        if n <= budget:
            chunks.append((n, did, 0))
        else:
            full, rem = divmod(n, budget)
            for c in range(full):
                chunks.append((budget, did, c))
            if rem:
                chunks.append((rem, did, full))
    chunks.sort(key=lambda t: (-t[0], t[1], t[2]))
    free, nbins, out = [], 0, {}
    for size, did, ci in chunks:
        j = bisect_left(free, (size, -1))
        if j < len(free):
            rem, b = free.pop(j)
            off = budget - rem
            if rem - size:
                insort(free, (rem - size, b))
        else:
            b, off = nbins, 0
            nbins += 1
            if budget - size:
                insort(free, (budget - size, b))
        out[(did, ci)] = (b, off, size)
    return out, nbins


def _assignments(df):
    return {
        (r["doc_id"], r["chunk"]): (
            r["bucket"], r["pack_id"], r["offset_in_pack"], r["n_tokens"]
        )
        for r in df.collect()
    }


def _docs(spark):
    rows = [
        (1, 1000), (2, 900), (3, 500), (4, 500), (5, 100), (6, 2048),
        (7, 5000),  # oversize: 2 full chunks + 904 remainder
        (8, 0), (9, None), (10, 1), (11, 2047), (12, 1024), (13, 1024),
        (14, 700), (15, 650), (16, 600),
        (17, -5),  # bad upstream count: clamps to a zero-length chunk
    ]
    return spark.createDataFrame(rows, "doc_id long, n_tokens long")


def test_best_fit_pack_matches_python_model(spark):
    from restructure_hdfs_topic_spark.operators.packing import best_fit_pack

    docs = _docs(spark)
    budget, n_buckets = 2048, 4
    got = _assignments(best_fit_pack(docs, budget=budget, n_buckets=n_buckets))

    buckets = defaultdict(list)
    for r in docs.collect():
        b = _phash(str(r["doc_id"])) % n_buckets
        buckets[b].append((r["doc_id"], r["n_tokens"]))
    want = {}
    for b, members in buckets.items():
        asg, _ = _model_bucket(members, budget)
        for (did, ci), (bin_idx, off, size) in asg.items():
            want[(did, ci)] = (b, (b << 31) + bin_idx, off, size)
    assert got == want

    # Oversize doc 7 splits into ceil(5000/2048)=3 chunks: 2048/2048/904.
    sizes = sorted(got[(7, c)][3] for c in range(3))
    assert sizes == [904, 2048, 2048] and (7, 3) not in got
    # Zero/NULL-token docs occupy one zero-length chunk each.
    assert got[(8, 0)][3] == 0 and got[(9, 0)][3] == 0


def test_best_fit_pack_invariants_and_partitioning(spark):
    from restructure_hdfs_topic_spark.functions.text import token_count
    from restructure_hdfs_topic_spark.operators.packing import best_fit_pack
    from restructure_hdfs_topic_spark.sources.tables import load_table

    budget = 256
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    )
    out = best_fit_pack(docs, budget=budget, n_buckets=8)
    rows = out.collect()
    n_docs = docs.count()

    # Every pack holds at most `budget` tokens and fills contiguously.
    packs = defaultdict(list)
    for r in rows:
        packs[r["pack_id"]].append((r["offset_in_pack"], r["n_tokens"]))
    for members in packs.values():
        members.sort()
        off = 0
        for o, n in members:
            assert o == off
            off += n
        assert off <= budget

    # No-split guarantee: docs <= budget appear exactly once (chunk 0);
    # oversize docs split into ceil(n/budget) chunks.
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r["doc_id"]].append(r)
    for r in docs.collect():
        n = r["n_tokens"] or 0
        want_chunks = max(math.ceil(n / budget), 1)
        assert len(per_doc[r["doc_id"]]) == want_chunks
        if n <= budget:
            assert per_doc[r["doc_id"]][0]["chunk"] == 0
    assert sum(len(v) for v in per_doc.values()) == len(rows)
    assert len(per_doc) == n_docs

    # Fill efficiency: BFD can't beat the concat-split lower bound but
    # must stay near it (the paper reports >=99% fill on web corpora).
    total = sum(r["n_tokens"] or 0 for r in docs.collect())
    n_bins = len(packs)
    assert n_bins >= math.ceil(total / budget)
    assert total / (n_bins * budget) >= 0.9

    # Partitioning independence.
    again = _assignments(best_fit_pack(docs.repartition(7), budget=budget, n_buckets=8))
    assert again == _assignments(out)


def test_best_fit_pack_follows_id_type(spark):
    from restructure_hdfs_topic_spark.operators.packing import best_fit_pack

    docs = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 2049)], "doc_id string, n_tokens long"
    )
    out = best_fit_pack(docs, budget=2048)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.count() == 4  # c splits into 2 chunks


def test_best_fit_pack_null_id_fails_loud(spark):
    """ADVICE r9: a NULL id used to hash to a NULL bucket and die as an
    opaque TypeError inside the Arrow worker — it must fail fast with a
    clear message instead."""
    from pyspark.errors import SparkRuntimeException

    from restructure_hdfs_topic_spark.operators.packing import best_fit_pack

    docs = spark.createDataFrame(
        [("a", 10), (None, 20), ("c", 30)], "doc_id string, n_tokens long"
    )
    with pytest.raises(SparkRuntimeException, match="NULL doc_id"):
        best_fit_pack(docs, budget=2048).collect()
