"""Pinned re-split (VERDICT r11 #1): ``grouped_holdout_split(...,
pinned=prev)`` freezes every previously-assigned document's split, so
re-splitting a grown corpus is churn-zero by construction; new documents
follow their group's pinned members (merges resolve toward the most-eval
pinned split)."""

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.sampling import (
    KNUTH,
    MOD,
    assignment_churn,
    grouped_holdout_split,
)

FRACTIONS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def _bucket(i: int) -> int:
    return (i % MOD) * KNUTH % MOD


def _expected_split(key: int) -> str:
    b = _bucket(key)
    if b < int(0.8 * MOD):
        return "train"
    if b < int((0.8 + 0.1) * MOD):
        return "valid"
    return "test"


def _docs(spark, ids):
    return spark.createDataFrame([(i, f"doc {i}") for i in ids], "doc_id long, text string")


def _groups(spark, mapping):
    return spark.createDataFrame(list(mapping.items()), "doc_id long, group_id long")


def _split_of(df):
    return {r["doc_id"]: r["split"] for r in df.collect()}


def test_pinned_resplit_is_churn_zero_on_growth(spark):
    """THE guarantee: grow the corpus (new docs, group merges included),
    re-split with pinned=prev — assignment_churn reports ONLY added
    rows, i.e. no previously-assigned document moved."""
    prev_ids = list(range(120))
    prev_g = {2: 2, 3: 2, 60: 60, 61: 60}
    new_ids = list(range(140))  # 20 new docs
    # Doc 130 merges the {2,3} and {60,61} groups; 131 joins {60,61};
    # the rest of the new docs are singletons.
    new_g = {2: 2, 3: 2, 60: 2, 61: 2, 130: 2, 131: 2}

    prev_assign = grouped_holdout_split(
        _docs(spark, prev_ids), "doc_id", FRACTIONS, _groups(spark, prev_g)
    ).select("doc_id", "split")
    resplit = grouped_holdout_split(
        _docs(spark, new_ids),
        "doc_id",
        FRACTIONS,
        _groups(spark, new_g),
        pinned=prev_assign,
    ).select("doc_id", "split")

    churn = assignment_churn(prev_assign, resplit).collect()
    assert churn, "growth must add rows"
    assert {r["reason"] for r in churn} == {"added"}
    assert {r["doc_id"] for r in churn} == set(new_ids) - set(prev_ids)


def test_pinned_exact_python_rederivation(spark):
    """Exact re-derivation of the pinned assignment rule over a planted
    scenario: frozen verbatim / follow-the-group / most-eval resolution /
    hash tiling for genuinely new docs."""
    prev_ids = list(range(100))
    prev_g = {10: 10, 11: 10, 40: 40, 41: 40}
    prev = {i: _expected_split(prev_g.get(i, i)) for i in prev_ids}
    # Force an interesting prior state: pin 40/41 into test explicitly
    # (a user's pinned table is whatever they froze, not necessarily the
    # hash tiling), and 10/11 into train.
    prev[40] = prev[41] = "test"
    prev[10] = prev[11] = "train"

    new_ids = list(range(110))
    new_g = {
        # 100 joins the {10,11} train group -> must follow into train.
        10: 10, 11: 10, 100: 10,
        # 101 merges {40,41}(test) with 42 (pinned, own split) -> group
        # spans test + whatever 42 had; most-eval wins for NEW members.
        40: 40, 41: 40, 42: 40, 101: 40,
    }
    pinned = spark.createDataFrame(list(prev.items()), "doc_id long, split string")
    out = _split_of(
        grouped_holdout_split(
            _docs(spark, new_ids), "doc_id", FRACTIONS, _groups(spark, new_g), pinned=pinned
        ).select("doc_id", "split")
    )

    order = list(FRACTIONS)
    for i in new_ids:
        if i in prev:
            assert out[i] == prev[i], f"doc {i} must stay frozen"
    # New docs: group members' pinned splits, resolved to max priority.
    assert out[100] == "train"
    grp40_pins = [prev[40], prev[41], prev[42]]
    assert out[101] == max(grp40_pins, key=order.index)
    # Genuinely new singletons follow the hash tiling.
    for i in range(102, 110):
        assert out[i] == _expected_split(i)


def test_removed_pinned_doc_still_guards_group(spark):
    """A frozen eval doc REMOVED from the corpus keeps guarding its
    surviving group: its near-dups carry its content, so a new member
    must not land in train just because the eval doc left."""
    # Pick a doc whose hash tiling is train so the guard is observable.
    probe = next(i for i in range(1000, 2000) if _expected_split(i) == "train")
    pinned = spark.createDataFrame([(77, "test")], "doc_id long, split string")
    out = _split_of(
        grouped_holdout_split(
            _docs(spark, [probe]),  # 77 itself is GONE
            "doc_id",
            FRACTIONS,
            _groups(spark, {77: 77, probe: 77}),
            pinned=pinned,
        ).select("doc_id", "split")
    )
    assert out[probe] == "test"


def test_no_near_dup_pair_straddles_after_pinned_resplit(spark):
    """Leakage-safety: when the prior assignments had no frozen
    cross-split groups, a pinned re-split leaves every group's members
    (old and new) in ONE split."""
    prev_ids = list(range(200))
    prev_g = {i: (i // 4) * 4 for i in range(40)}  # ten 4-member groups
    prev_assign = grouped_holdout_split(
        _docs(spark, prev_ids), "doc_id", FRACTIONS, _groups(spark, prev_g)
    ).select("doc_id", "split")
    # Grow: every group gains a new member; plus 10 new singletons.
    new_ids = list(range(200)) + list(range(300, 320))
    new_g = dict(prev_g)
    for k, nid in enumerate(range(300, 310)):
        new_g[nid] = k * 4
    resplit = grouped_holdout_split(
        _docs(spark, new_ids), "doc_id", FRACTIONS, _groups(spark, new_g), pinned=prev_assign
    )
    per_group = (
        resplit.join(
            _groups(spark, new_g).withColumnRenamed("group_id", "gid"), "doc_id"
        )
        .groupBy("gid")
        .agg(F.count_distinct("split").alias("n"))
        .collect()
    )
    assert per_group and all(r["n"] == 1 for r in per_group)
    # And the prior members did not move.
    assert {r["reason"] for r in assignment_churn(prev_assign, resplit.select("doc_id", "split")).collect()} == {"added"}


def test_pinned_unknown_split_rejected(spark):
    pinned = spark.createDataFrame([(1, "dev")], "doc_id long, split string")
    with pytest.raises(ValueError, match="not in fractions"):
        grouped_holdout_split(
            _docs(spark, [1, 2]), "doc_id", FRACTIONS,
            _groups(spark, {}), pinned=pinned,
        ).collect()
    # Exactness: ONE offender hiding among many valid pins is still
    # caught (a distinct-sample check could miss it), and a NULL pin is
    # rejected rather than silently degrading to unpinned.
    many = [(i, "train") for i in range(200)] + [(999, "dev")]
    pinned2 = spark.createDataFrame(many, "doc_id long, split string")
    with pytest.raises(ValueError, match="not in fractions"):
        grouped_holdout_split(
            _docs(spark, [1, 2]), "doc_id", FRACTIONS,
            _groups(spark, {}), pinned=pinned2,
        ).collect()
    pinned3 = spark.createDataFrame([(1, None)], "doc_id long, split string")
    with pytest.raises(ValueError, match="NULL"):
        grouped_holdout_split(
            _docs(spark, [1, 2]), "doc_id", FRACTIONS,
            _groups(spark, {}), pinned=pinned3,
        ).collect()


def test_assignment_churn_exact_witness(spark):
    prev = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "valid")], "doc_id long, split string"
    )
    new = spark.createDataFrame(
        [(1, "train"), (2, "train"), (4, "test")], "doc_id long, split string"
    )
    out = {r["doc_id"]: (r["prev_split"], r["new_split"], r["reason"]) for r in assignment_churn(prev, new).collect()}
    assert out == {
        2: ("test", "train", "moved"),
        3: ("valid", None, "removed"),
        4: (None, "test", "added"),
    }


def test_empty_pinned_matches_unpinned(spark):
    docs = _docs(spark, range(150))
    groups = _groups(spark, {7: 7, 8: 7})
    empty = spark.createDataFrame([], "doc_id long, split string")
    a = _split_of(grouped_holdout_split(docs, "doc_id", FRACTIONS, groups).select("doc_id", "split"))
    b = _split_of(grouped_holdout_split(docs, "doc_id", FRACTIONS, groups, pinned=empty).select("doc_id", "split"))
    assert a == b
