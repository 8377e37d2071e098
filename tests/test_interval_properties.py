"""Property-based tests (hypothesis) for the offset-interval algebra —
the accounting core everything exactly-once rests on (O16).

Each hypothesis example packs MANY generated cases into ONE DataFrame
(cases isolated by topic key), so a Spark job amortizes over ~dozens of
random cases and the suite stays fast.  The model is brute-force integer
painting: an interval set IS the set of covered offsets; merge must
reproduce its adjacency-merged islands, remove must reproduce set
difference.  The ledger's driver algebra (``merge_intervals``,
``remove_intervals``) must equal the DataFrame operators row for row,
``last_processed`` included — unknown (None) and the
``_MTIME_UNKNOWN_US`` sentinel among its values."""

import sys

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from restructure_hdfs_topic_spark.operators.offsets import _MTIME_UNKNOWN_US

# last_processed in unix micros: unknown, the sentinel or a small time.
last_processed = st.one_of(
    st.none(), st.just(_MTIME_UNKNOWN_US), st.integers(min_value=0, max_value=5)
)
interval = st.tuples(
    st.integers(min_value=0, max_value=120),
    st.integers(min_value=0, max_value=40),
    last_processed,
).map(lambda t: (t[0], t[0] + t[1], t[2]))

case = st.lists(interval, min_size=1, max_size=8)
cases = st.lists(case, min_size=1, max_size=12)


def _islands(covered: set[int]) -> list[tuple[int, int]]:
    """Adjacency-merged islands of an integer set ([0,2]+[3,4] merges:
    stream offsets are integers)."""
    out = []
    for p in sorted(covered):
        if out and p <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], p))
        else:
            out.append((p, p))
    return out


def _paint(ivs) -> set[int]:
    s: set[int] = set()
    for lo, hi, *_ in ivs:
        s.update(range(lo, hi + 1))
    return s


def _interval_frame(spark, rows):
    """Ledger rows as an interval frame, ``last_processed`` built from the
    micros (the sentinel is no Python datetime)."""
    return spark.createDataFrame(
        rows, "topic string, partition int, offset_from long, offset_to long, lp_us long"
    ).select(
        "topic", "partition", "offset_from", "offset_to",
        F.timestamp_micros("lp_us").alias("last_processed"),
    )


def _ledger(frame) -> list[tuple]:
    """An interval frame's rows in ledger order, micros exact."""
    from restructure_hdfs_topic_spark.operators.offsets import committed_intervals

    return sorted(committed_intervals(frame), key=lambda r: r[:4])


@settings(
    max_examples=prop_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(cases)
def test_merge_equals_painted_islands(spark, all_cases):
    from restructure_hdfs_topic_spark.operators.offsets import (
        merge_intervals,
        merge_offset_intervals,
    )

    rows = [
        (f"case{i}", 0, lo, hi, lp)
        for i, ivs in enumerate(all_cases)
        for lo, hi, lp in ivs
    ]
    reference = _ledger(merge_offset_intervals(_interval_frame(spark, rows)))
    assert merge_intervals(rows) == reference
    got: dict[str, list] = {}
    for t, _p, lo, hi, _lp in reference:
        got.setdefault(t, []).append((lo, hi))
    for i, ivs in enumerate(all_cases):
        want = _islands(_paint(ivs))
        assert sorted(got[f"case{i}"]) == want, (ivs, got[f"case{i}"], want)


@settings(
    max_examples=prop_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(st.tuples(case, case), min_size=1, max_size=8))
def test_remove_equals_set_difference(spark, pairs):
    from restructure_hdfs_topic_spark.operators.offsets import (
        merge_intervals,
        merge_offset_intervals,
        remove_intervals,
        remove_offsets,
    )

    st_rows, rm_rows = [], []
    for i, (state_ivs, rm_ivs) in enumerate(pairs):
        st_rows += [(f"case{i}", 0, lo, hi, lp) for lo, hi, lp in state_ivs]
        rm_rows += [(f"case{i}", 0, lo, hi) for lo, hi, _ in rm_ivs]
    # State must satisfy the engine invariant (disjoint merged intervals —
    # merge_offset_intervals runs at every commit).
    state = merge_offset_intervals(_interval_frame(spark, st_rows))
    removals = spark.createDataFrame(
        rm_rows, "topic string, partition int, offset_from long, offset_to long"
    )
    reference = _ledger(remove_offsets(state, removals))
    assert remove_intervals(merge_intervals(st_rows), rm_rows) == reference
    got: dict[str, list] = {}
    for t, _p, lo, hi, _lp in reference:
        got.setdefault(t, []).append((lo, hi))
    for i, (state_ivs, rm_ivs) in enumerate(pairs):
        want = _islands(_paint(state_ivs) - _paint(rm_ivs))
        assert sorted(got.get(f"case{i}", [])) == want, (
            state_ivs,
            rm_ivs,
            got.get(f"case{i}"),
            want,
        )


@settings(
    max_examples=prop_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    )
)
def test_substring_spans_equal_brute_force(spark, docs_tokens):
    """duplicated_window_spans (Lee et al. 2021 semantics) against a
    brute-force model: every k-token window occurring >=2 times anywhere
    in the corpus, merged into maximal per-doc spans."""
    from restructure_hdfs_topic_spark.operators.dedup import (
        duplicated_window_spans,
    )

    k = 3
    docs = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, list] = {}
    for r in duplicated_window_spans(df, "doc_id", "text", k=k).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))

    # Brute force: corpus-wide window counts, then per-doc covered token
    # positions, then islands (span_end exclusive).
    from collections import Counter

    counts = Counter()
    for toks in docs_tokens:
        for s in range(len(toks) - k + 1):
            counts[tuple(toks[s : s + k])] += 1
    want: dict[int, list] = {}
    for i, toks in enumerate(docs_tokens):
        covered: set[int] = set()
        for s in range(len(toks) - k + 1):
            if counts[tuple(toks[s : s + k])] >= 2:
                covered.update(range(s, s + k))
        spans = [(lo, hi + 1) for lo, hi in _islands(covered)]
        if spans:
            want[i] = spans
    got_sorted = {d: sorted(v) for d, v in got.items()}
    assert got_sorted == want, (docs, got_sorted, want)


@settings(
    max_examples=prop_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(  # left rows: (key, time or None)
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.one_of(st.none(), st.integers(min_value=0, max_value=50)),
        ),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # right rows: (key, time or None, value or None)
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.one_of(st.none(), st.integers(min_value=0, max_value=50)),
            st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        ),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_equals_brute_force(spark, left_rows, right_rows):
    """asof_join vs a brute-force model over randomized inputs INCLUDING
    NULL timestamps and NULL carried values (the r5 parity bug class):
    each left row gains the right row with the greatest time <= its time
    for the same key; a right row with NULL time never matches; a matched
    row carries its value even when that value is NULL."""
    from restructure_hdfs_topic_spark.operators.temporal import asof_join

    # Right must be unique per (key, time): keep the last generated.
    r_dedup = {}
    for k, t, v in right_rows:
        if t is not None:
            r_dedup[(k, t)] = v
    l_df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "lid long, k long, t long",
    )
    r_df = spark.createDataFrame(
        [(k, t, v) for (k, t), v in r_dedup.items()] or [],
        "k long, t long, v long",
    )
    got = {
        r["lid"]: r["asof_v"]
        for r in asof_join(l_df, r_df, ["k"], "t", ["v"]).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        if t is None:
            want = None  # NULL left time matches nothing (t >= r.t is never true)
        else:
            candidates = [(rt, v) for (rk, rt), v in r_dedup.items() if rk == k and rt <= t]
            want = max(candidates)[1] if candidates else None
        assert got[i] == want, (i, k, t, got[i], want, sorted(r_dedup.items()))
