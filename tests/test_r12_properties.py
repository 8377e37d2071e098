"""Property-based tests (hypothesis) for round 12.

- BM25 segment lifecycle (VERDICT r11 #7): under ARBITRARY partitions of
  a corpus into base + appended segments, with compactions interleaved
  at arbitrary points, the served rows are always bit-identical to a
  single from-scratch build over the concatenated corpus — the invariant
  previously pinned only at fixed split points.
- Pinned re-split (r12): under arbitrary growth and group topology, a
  re-split with ``pinned=prev`` never moves a previously-assigned doc,
  and a new doc whose group has pinned members lands on the most-eval
  pinned split.
"""

from __future__ import annotations

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]

# A doc pool with deterministic, varied texts; examples draw partitions.
_POOL = [
    (i, " ".join(_WORDS[(i + j) % len(_WORDS)] for j in range(1 + i % 5)))
    for i in range(14)
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _served(spark, path, qs):
    from restructure_hdfs_topic_spark.operators.bm25_index import query_bm25_index

    return sorted(map(tuple, query_bm25_index(spark, path, qs, k=4).collect()))


@settings(max_examples=prop_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_segment_lifecycle_always_equals_single_build(spark, tmp_path_factory, data):
    from restructure_hdfs_topic_spark.operators.bm25_index import (
        append_bm25_segment,
        build_bm25_index,
        compact_bm25_index,
        delete_bm25_docs,
        load_bm25_meta,
    )
    from restructure_hdfs_topic_spark.operators.retrieval import bm25_topk

    # Random ordered partition of a random subset of the pool into a base
    # plus 0-3 appended batches (batches may be empty), with a compaction
    # decision after each append.
    n_docs = data.draw(st.integers(min_value=1, max_value=len(_POOL)))
    docs = _POOL[:n_docs]
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n_docs), min_size=0, max_size=3
            )
        )
    )
    edges = [0] + cuts + [n_docs]
    base, batches = docs[: edges[1]], [
        docs[edges[k] : edges[k + 1]] for k in range(1, len(edges) - 1)
    ]
    compact_after = [data.draw(st.booleans()) for _ in batches]

    path = str(tmp_path_factory.mktemp("bm25_prop") / "idx")
    qs = spark.createDataFrame(
        [(i % 2, t) for i, t in enumerate(_WORDS)], "query_id long, term string"
    )
    build_bm25_index(_df(spark, base), path, n_buckets=4)
    history = list(base)
    for batch, do_compact in zip(batches, compact_after):
        append_bm25_segment(_df(spark, batch), path)
        history += batch
        if do_compact:
            compact_bm25_index(spark, path)
            assert load_bm25_meta(spark, path)["segments"] == []
        # r12: optionally tombstone up to 2 live docs (always leaving at
        # least one) — served rows must track the shrinking complement
        # through every later append/compaction.
        if len(history) > 1 and data.draw(st.booleans()):
            kill = data.draw(
                st.lists(
                    st.sampled_from([d[0] for d in history]),
                    min_size=1,
                    max_size=min(2, len(history) - 1),
                    unique=True,
                )
            )
            delete_bm25_docs(
                spark,
                path,
                spark.createDataFrame([(i,) for i in kill], "doc_id long"),
            )
            history = [d for d in history if d[0] not in kill]
        direct = sorted(map(tuple, bm25_topk(_df(spark, history), qs, k=4).collect()))
        assert _served(spark, path, qs) == direct
    # Terminal compaction is always a no-op on the served rows.
    compact_bm25_index(spark, path)
    direct = sorted(map(tuple, bm25_topk(_df(spark, history), qs, k=4).collect()))
    assert _served(spark, path, qs) == direct


@settings(max_examples=prop_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_lifecycle_with_crashes_and_repair_still_equals_single_build(
    spark, tmp_path_factory, monkeypatch, data
):
    """Adversarial lifecycle: before each committed append, optionally
    CRASH an append mid-publish (leaving an orphan segment dir) or a
    COMPACTION mid-publish (r12: leaving an orphan base-g generation,
    with the old meta still valid) and optionally run the janitor —
    served rows must still always equal the single build over the
    committed history, and repair must never remove a referenced
    segment."""
    from restructure_hdfs_topic_spark.operators import bm25_index as bix
    from restructure_hdfs_topic_spark.operators.bm25_index import (
        append_bm25_segment,
        build_bm25_index,
        compact_bm25_index,
        repair_bm25_index,
    )
    from restructure_hdfs_topic_spark.operators.retrieval import bm25_topk

    n_docs = data.draw(st.integers(min_value=2, max_value=len(_POOL)))
    docs = _POOL[:n_docs]
    cut = data.draw(st.integers(min_value=1, max_value=n_docs))
    base, rest = docs[:cut], docs[cut:]
    batches = [rest[i : i + 3] for i in range(0, len(rest), 3)]

    path = str(tmp_path_factory.mktemp("bm25_crash") / "idx")
    qs = spark.createDataFrame(
        [(i % 2, t) for i, t in enumerate(_WORDS)], "query_id long, term string"
    )
    build_bm25_index(_df(spark, base), path, n_buckets=4)
    history = list(base)
    real_publish = bix._write_meta_atomic

    def boom(*_a, **_k):
        raise RuntimeError("crash")

    for batch in batches:
        if data.draw(st.booleans()):  # crash an append mid-publish
            monkeypatch.setattr(bix, "_write_meta_atomic", boom)
            try:
                append_bm25_segment(_df(spark, batch), path)
            except RuntimeError:
                pass
            monkeypatch.setattr(bix, "_write_meta_atomic", real_publish)
            if data.draw(st.booleans()):
                repair_bm25_index(spark, path)  # sweep the orphan
        append_bm25_segment(_df(spark, batch), path)
        history += batch
        if data.draw(st.booleans()):  # crash a compaction mid-publish
            monkeypatch.setattr(bix, "_write_meta_atomic", boom)
            try:
                compact_bm25_index(spark, path)
            except RuntimeError:
                pass
            monkeypatch.setattr(bix, "_write_meta_atomic", real_publish)
            if data.draw(st.booleans()):
                repair_bm25_index(spark, path)  # sweep the orphan base-g
        if data.draw(st.booleans()):  # committed compaction
            compact_bm25_index(spark, path)
        direct = sorted(map(tuple, bm25_topk(_df(spark, history), qs, k=4).collect()))
        assert _served(spark, path, qs) == direct
    rep = repair_bm25_index(spark, path)
    # Repair after a clean run removes no segment dirs, and the index
    # still serves identically.
    assert not [r for r in rep["removed"] if r.startswith("segments/")]
    direct = sorted(map(tuple, bm25_topk(_df(spark, history), qs, k=4).collect()))
    assert _served(spark, path, qs) == direct


@settings(max_examples=prop_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_assignment_churn_matches_dict_diff(spark, data):
    """assignment_churn over arbitrary assignment tables equals the
    plain-Python dict diff (added/removed/moved, unchanged silent)."""
    from restructure_hdfs_topic_spark.operators.sampling import assignment_churn

    splits = ["train", "valid", "test"]
    prev = {
        i: data.draw(st.sampled_from(splits))
        for i in data.draw(st.lists(st.integers(0, 50), max_size=20, unique=True))
    }
    new = {
        i: data.draw(st.sampled_from(splits))
        for i in data.draw(st.lists(st.integers(0, 50), max_size=20, unique=True))
    }
    pdf = spark.createDataFrame(
        list(prev.items()) or [], "doc_id long, split string"
    )
    ndf = spark.createDataFrame(list(new.items()) or [], "doc_id long, split string")
    out = {
        r["doc_id"]: (r["prev_split"], r["new_split"], r["reason"])
        for r in assignment_churn(pdf, ndf).collect()
    }
    expected = {}
    for i in set(prev) | set(new):
        p, n = prev.get(i), new.get(i)
        if p == n:
            continue
        reason = "added" if p is None else "removed" if n is None else "moved"
        expected[i] = (p, n, reason)
    assert out == expected


_prev_ids = st.lists(
    st.integers(min_value=0, max_value=5_000), min_size=1, max_size=30, unique=True
)
_FRACTIONS = {"train": 0.8, "valid": 0.1, "test": 0.1}


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(_prev_ids, st.data())
def test_pinned_resplit_never_moves_assigned_docs(spark, prev_ids, data):
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.sampling import (
        assignment_churn,
        grouped_holdout_split,
    )

    # Previous corpus split under a random pairing topology.
    k = data.draw(st.integers(min_value=0, max_value=len(prev_ids) // 2))
    prev_groups = {}
    for i in range(k):
        a, b = prev_ids[2 * i], prev_ids[2 * i + 1]
        prev_groups[a] = prev_groups[b] = min(a, b)
    docs_prev = spark.createDataFrame(
        [(i, f"d{i}") for i in prev_ids], "doc_id long, text string"
    )
    gdf_prev = spark.createDataFrame(
        list(prev_groups.items()) or [], "doc_id long, group_id long"
    )
    prev = grouped_holdout_split(
        docs_prev, "doc_id", _FRACTIONS, gdf_prev
    ).select("doc_id", "split")

    # Growth: new ids, and a random merge of everything-seen into groups
    # keyed by min member (the producer invariant).
    new_extra = data.draw(
        st.lists(
            st.integers(min_value=5_001, max_value=9_999),
            min_size=0,
            max_size=10,
            unique=True,
        )
    )
    all_ids = list(prev_ids) + new_extra
    m = data.draw(st.integers(min_value=0, max_value=len(all_ids) // 2))
    new_groups = {}
    for i in range(m):
        a, b = all_ids[2 * i], all_ids[2 * i + 1]
        g = min(a, b)
        new_groups[a] = new_groups.get(a, g)
        new_groups[b] = new_groups.get(b, g)
    docs_new = spark.createDataFrame(
        [(i, f"d{i}") for i in all_ids], "doc_id long, text string"
    )
    gdf_new = spark.createDataFrame(
        list(new_groups.items()) or [], "doc_id long, group_id long"
    )
    resplit = grouped_holdout_split(
        docs_new, "doc_id", _FRACTIONS, gdf_new, pinned=prev
    ).select("doc_id", "split")

    churn = assignment_churn(prev, resplit).collect()
    assert {r["reason"] for r in churn} <= {"added"}
    assert {r["doc_id"] for r in churn} == set(new_extra)

    # New docs grouped with pinned members follow the most-eval pin.
    prev_split = {r["doc_id"]: r["split"] for r in prev.collect()}
    out = {r["doc_id"]: r["split"] for r in resplit.collect()}
    order = list(_FRACTIONS)
    by_group: dict[int, list[int]] = {}
    for i, g in new_groups.items():
        by_group.setdefault(g, []).append(i)
    for g, members in by_group.items():
        pins = [prev_split[i] for i in members if i in prev_split]
        if not pins:
            continue
        want = max(pins, key=order.index)
        for i in members:
            if i not in prev_split:
                assert out[i] == want, (i, g, pins)
