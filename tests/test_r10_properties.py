"""Property-based tests (hypothesis) for VERDICT r9 stretch #8: the two
newest operator families without property coverage.

- ``dsir_select``: the selected id set is invariant under input
  partitioning, monotone in k (Gumbel top-k with deterministic
  per-row keys has the prefix property), and always exactly
  ``min(k, |raw|)`` rows.
- ``duplication_weights``: per-row equality with the exact Python
  model (cluster = identical text; NULL text = singleton), and the
  derived mass identity Σ weights == n_clusters within 6-decimal
  rounding slack.

One DataFrame per hypothesis example so Spark jobs amortize."""

from __future__ import annotations

import math
from collections import Counter

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "the", "of"]
)
_doc = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_words, min_size=1, max_size=12).map(" ".join),
)


@settings(max_examples=prop_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(_doc, min_size=1, max_size=20),
    st.lists(_doc.filter(lambda t: t), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=6),
)
def test_dsir_select_partitioning_and_k_monotonicity(spark, raw, target, k):
    from restructure_hdfs_topic_spark.operators.dsir import dsir_select

    raw_df = spark.createDataFrame(
        list(enumerate(raw)), "doc_id long, text string"
    )
    tgt_df = spark.createDataFrame(
        list(enumerate(target)), "doc_id long, text string"
    )

    def sel(df, kk):
        return {
            r["doc_id"] for r in dsir_select(df, tgt_df, kk).collect()
        }

    got = sel(raw_df, k)
    assert len(got) == min(k, len(raw))
    # Partitioning independence.
    assert sel(raw_df.repartition(5), k) == got
    # Prefix property: top-k is a subset of top-(k+3).
    assert got <= sel(raw_df, k + 3)


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc, min_size=1, max_size=25))
def test_duplication_weights_match_model_and_mass(spark, texts):
    from restructure_hdfs_topic_spark.operators.dedup import (
        duplication_weights,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["cluster_size"], r["weight"])
        for r in duplication_weights(docs, "doc_id", "text").collect()
    }
    assert len(got) == len(texts)

    sizes = Counter(t for t in texts if t is not None)
    n_clusters = len(sizes) + sum(1 for t in texts if t is None)
    mass = 0.0
    for i, t in enumerate(texts):
        size = sizes[t] if t is not None else 1
        weight = math.floor(1e6 / size + 0.5) / 1e6
        assert got[i] == (size, weight), (i, repr(t))
        mass += got[i][1]
    # Σ weights == n_clusters up to the 6-decimal per-row rounding.
    assert abs(mass - n_clusters) <= len(texts) * 1e-6
