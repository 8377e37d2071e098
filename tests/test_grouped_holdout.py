"""grouped_holdout_split: no near-dup group ever straddles a split,
singletons match plain holdout_split exactly, and the real near-dup
pipeline composes end-to-end."""

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.sampling import (
    KNUTH,
    MOD,
    grouped_holdout_split,
    holdout_split,
)

SF_DIR = "/root/testdata/sf0.001"
FRACTIONS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def _bucket(i: int) -> int:
    return (i % MOD) * KNUTH % MOD


def test_groups_never_straddle_and_witness(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # Groups: ids 0-9 -> group 0, 10-19 -> group 10, rest singletons.
    groups = spark.createDataFrame(
        [(i, (i // 10) * 10) for i in range(20)], "doc_id long, group_id long"
    )
    out = grouped_holdout_split(docs, "doc_id", FRACTIONS, groups).collect()
    split = {r["doc_id"]: r["split"] for r in out}
    assert len(split) == 200

    # Every group's members share one split.
    assert len({split[i] for i in range(10)}) == 1
    assert len({split[i] for i in range(10, 20)}) == 1

    # Exact witness: split = the fractions tiling of hash_bucket(key),
    # key = group_id for members, own id for singletons.
    def expected(key: int) -> str:
        b = _bucket(key)
        if b < int(0.8 * MOD):
            return "train"
        if b < int((0.8 + 0.1) * MOD):
            return "valid"
        return "test"

    for i in range(200):
        key = (i // 10) * 10 if i < 20 else i
        assert split[i] == expected(key), i


def test_singletons_match_plain_holdout_split(spark):
    docs = spark.createDataFrame(
        [(i, "x") for i in range(500)], "doc_id long, text string"
    )
    empty_groups = spark.createDataFrame([], "doc_id long, group_id long")
    grouped = {
        r["doc_id"]: r["split"]
        for r in grouped_holdout_split(docs, "doc_id", FRACTIONS, empty_groups).collect()
    }
    plain = {
        r["doc_id"]: r["split"]
        for r in holdout_split(docs, "doc_id", FRACTIONS).collect()
    }
    assert grouped == plain


def test_composes_with_real_near_dup_groups(spark):
    from restructure_hdfs_topic_spark.operators.dedup import near_dup_groups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    groups = near_dup_groups(docs, "doc_id", "text", bits=32, max_hamming=3)
    out = grouped_holdout_split(docs, "doc_id", FRACTIONS, groups)
    # No group straddles: exactly one distinct split per group.
    straddlers = (
        out.join(
            groups.select(F.col("doc_id"), "group_id"), "doc_id"
        )
        .groupBy("group_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddlers == 0
    # Every doc got exactly one split.  Fractions hold at GROUP
    # granularity (the unit actually hashed — at this tiny sf the 500
    # docs collapse into ~44 near-dup components, so doc-level counts
    # legitimately swing with whichever giant groups land in train).
    n = docs.count()
    assert out.count() == n
    per_group = (
        out.join(groups.select("doc_id", "group_id"), "doc_id")
        .select("group_id", "split")
        .distinct()
    )
    n_groups = per_group.count()
    train_groups = per_group.filter(F.col("split") == "train").count()
    assert 0.5 * n_groups < train_groups < 0.97 * n_groups


def test_bad_fractions_rejected(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    groups = spark.createDataFrame([], "doc_id long, group_id long")
    with pytest.raises(ValueError, match="sum to 1"):
        grouped_holdout_split(docs, "doc_id", {"train": 0.5}, groups)


def test_default_groups_id_col_composes_with_producers_and_facade(spark):
    """The default groups_id_col follows id_col, so near_dup_groups
    output (whose id column is named after ITS input id_col) composes
    without extra plumbing — directly and through the Corpus facade."""
    from restructure_hdfs_topic_spark.corpus import Corpus
    from restructure_hdfs_topic_spark.operators.dedup import near_dup_groups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    groups = near_dup_groups(docs, "doc_id", "text", bits=32, max_hamming=3)
    direct = {
        r["doc_id"]: r["split"]
        for r in grouped_holdout_split(docs, "doc_id", FRACTIONS, groups).collect()
    }
    via_facade = {
        r["doc_id"]: r["split"]
        for r in Corpus(docs).grouped_holdout_split(FRACTIONS, groups).collect()
    }
    assert via_facade == direct and direct


def _expected_split(key: int) -> str:
    b = _bucket(key)
    if b < int(0.8 * MOD):
        return "train"
    if b < int((0.8 + 0.1) * MOD):
        return "valid"
    return "test"


def test_split_churn_planted_merge_exact_witness(spark):
    """Exact Python re-derivation of the churn report over a planted
    group merge, an added doc, a removed doc, and an ungrouped doc —
    split_churn must agree row-for-row (VERDICT r10 #4)."""
    from restructure_hdfs_topic_spark.operators.sampling import split_churn

    prev_ids = list(range(100))
    new_ids = [i for i in range(101) if i != 70]  # +100 (new), -70 (gone)
    prev_g = {2: 2, 3: 2, 60: 60, 61: 60, 80: 80, 81: 80}
    # New doc 100 near-dups 3 AND 50 AND the {60,61} group -> one merged
    # cluster keyed by its min member (2); the {80,81} pair dissolved.
    new_g = {2: 2, 3: 2, 50: 2, 60: 2, 61: 2, 100: 2}

    prev_docs = spark.createDataFrame([(i,) for i in prev_ids], "doc_id long")
    new_docs = spark.createDataFrame([(i,) for i in new_ids], "doc_id long")
    prev_groups = spark.createDataFrame(
        list(prev_g.items()), "doc_id long, group_id long"
    )
    new_groups = spark.createDataFrame(
        list(new_g.items()), "doc_id long, group_id long"
    )

    out = {
        r["doc_id"]: (r["prev_split"], r["new_split"], r["reason"])
        for r in split_churn(
            prev_docs, new_docs, prev_groups, new_groups, FRACTIONS
        ).collect()
    }

    expected = {}
    for i in set(prev_ids) | set(new_ids):
        ps = _expected_split(prev_g.get(i, i)) if i in prev_ids else None
        ns = _expected_split(new_g.get(i, i)) if i in new_ids else None
        if ps == ns:
            continue
        if ps is None:
            reason = "added"
        elif ns is None:
            reason = "removed"
        elif i in prev_g and i in new_g:
            reason = "group_rekey"
        elif i in new_g:
            reason = "grouped"
        else:
            reason = "ungrouped"
        expected[i] = (ps, ns, reason)
    assert out == expected
    # The scenario actually exercises the interesting rows: the added
    # doc and the removed doc always churn; the merge moved at least one
    # previously-grouped or singleton doc unless every key collides.
    assert out[100][2] == "added" and out[70][2] == "removed"


def test_split_churn_identical_inputs_report_nothing(spark):
    from restructure_hdfs_topic_spark.operators.sampling import split_churn

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    groups = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, group_id long"
    )
    assert split_churn(docs, docs, groups, groups, FRACTIONS).count() == 0


def test_non_integral_ids_rejected_loudly(spark):
    """String ids would hash_bucket to NULL and silently land every row
    in the LAST split — both splitters refuse them instead."""
    sdocs = spark.createDataFrame(
        [("a", "x"), ("b", "y")], "doc_id string, text string"
    )
    groups = spark.createDataFrame([], "doc_id long, group_id long")
    with pytest.raises(ValueError, match="integral"):
        holdout_split(sdocs, "doc_id", FRACTIONS)
    with pytest.raises(ValueError, match="integral"):
        grouped_holdout_split(sdocs, "doc_id", FRACTIONS, groups)
    ldocs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    sgroups = spark.createDataFrame([], "doc_id long, group_id string")
    with pytest.raises(ValueError, match="integral"):
        grouped_holdout_split(ldocs, "doc_id", FRACTIONS, sgroups)


def test_near_dup_groups_memoized_per_plan(spark):
    """Repeated same-plan calls reuse the memoized closure (CC executes
    eagerly at construction — the ivf_ann_topk memo discipline); a
    different plan or params misses."""
    from restructure_hdfs_topic_spark.operators.dedup import near_dup_groups

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = near_dup_groups(docs, "doc_id", "text", bits=32, max_hamming=3)
    b = near_dup_groups(docs, "doc_id", "text", bits=32, max_hamming=3)
    assert b is a  # memo hit — no second closure run
    c = near_dup_groups(docs, "doc_id", "text", bits=32, max_hamming=2)
    assert c is not a  # params in the key
    d = near_dup_groups(docs.limit(100), "doc_id", "text", bits=32, max_hamming=3)
    assert d is not a  # input plan in the key
