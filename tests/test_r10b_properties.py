"""Property-based tests (hypothesis) for the round-10 continuation
additions' pure-driver surfaces.

- ``unimax_allocation``: exhaustive invariants over random count/budget/
  cap configurations — never over budget, never over a stratum's cap,
  full spend whenever supply allows, uncapped strata within one token
  of each other (floor waterfill), monotone in budget, and exact cap
  arithmetic for binary-inexact ``max_epochs``.
- BM25 idf/term-score scalar models: idf ≥ 0 and strictly decreasing in
  df; the term score is increasing in tf and decreasing in dl — the
  Robertson–Zaragoza shape the Spark expressions implement (checked on
  the same formula the Python witnesses use).

Pure Python — no Spark jobs, so examples run in bulk.
"""

from __future__ import annotations

import math

from hypothesis import given
from hypothesis import strategies as st

from restructure_hdfs_topic_spark.operators.sampling import unimax_allocation

_counts = st.dictionaries(
    st.sampled_from(["en", "de", "fr", "zh", "code", "books", "tail"]),
    st.integers(min_value=0, max_value=10**9),
    min_size=1,
    max_size=7,
)


@given(
    counts=_counts,
    budget=st.integers(min_value=0, max_value=4 * 10**9),
    max_epochs=st.sampled_from([1, 2, 4, 0.3, 0.7, 1.5, 2.25]),
)
def test_unimax_allocation_invariants(counts, budget, max_epochs):
    alloc = unimax_allocation(counts, budget, max_epochs)
    e_grid = round(max_epochs * 10**9)
    caps = {s: n * e_grid // 10**9 for s, n in counts.items()}

    assert set(alloc) == set(counts)
    assert all(a >= 0 for a in alloc.values())
    # Never over budget; never over a stratum's epoch cap.
    assert sum(alloc.values()) <= budget
    assert all(alloc[s] <= caps[s] for s in alloc)
    # Full spend up to what the caps allow, modulo the floor waterfill's
    # < |strata| unallocated remainder.
    spendable = min(budget, sum(caps.values()))
    assert sum(alloc.values()) > spendable - len(counts)
    # Uncapped strata got a uniform share: any two differ by at most 1.
    uncapped = [alloc[s] for s in alloc if alloc[s] < caps[s]]
    if len(uncapped) >= 2:
        assert max(uncapped) - min(uncapped) <= 1


@given(
    counts=_counts,
    budget=st.integers(min_value=0, max_value=10**9),
    delta=st.integers(min_value=0, max_value=10**8),
)
def test_unimax_allocation_monotone_in_budget(counts, budget, delta):
    a = unimax_allocation(counts, budget, 4)
    b = unimax_allocation(counts, budget + delta, 4)
    # A bigger budget never shrinks any stratum's allocation: caps only
    # bind earlier, and uniform shares only grow.
    assert all(b[s] >= a[s] for s in a)


@given(
    n=st.integers(min_value=1, max_value=10**9),
    df=st.integers(min_value=1, max_value=10**6),
)
def test_bm25_idf_positive_and_decreasing(n, df):
    df = min(df, n)

    def idf(d):
        return math.log(1.0 + (n - d + 0.5) / (d + 0.5))

    assert idf(df) >= 0.0
    if df + 1 <= n:
        assert idf(df) > idf(df + 1)


@given(
    tf=st.integers(min_value=1, max_value=1000),
    dl=st.integers(min_value=1, max_value=10**5),
    avgdl=st.floats(min_value=1.0, max_value=10**4, allow_nan=False),
)
def test_bm25_term_score_monotone(tf, dl, avgdl):
    k1, b = 1.2, 0.75

    def score(t, d):
        return (t * (k1 + 1.0)) / (t + k1 * (1.0 - b + b * d / avgdl))

    # Increasing in tf (saturating), decreasing in dl.
    assert score(tf + 1, dl) > score(tf, dl)
    assert score(tf, dl + 1) < score(tf, dl)
    # Saturation: never exceeds the tf -> infinity limit (k1 + 1).
    assert score(tf, dl) < k1 + 1.0
