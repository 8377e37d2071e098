"""Property-based tests (hypothesis) for the round-7 samplers and the
epoch shuffle, each against a pure-Python model of its exact rule.

One DataFrame per hypothesis example so Spark jobs amortize."""

from __future__ import annotations

import math

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from restructure_hdfs_topic_spark.operators.packing import epoch_shuffle  # noqa: E402
from restructure_hdfs_topic_spark.operators.sampling import (  # noqa: E402
    KNUTH,
    MOD,
    TEMP_WEIGHT_SCALE,
    holdout_split,
    temperature_sample,
)


def _bucket(i: int) -> int:
    return (i * KNUTH) % MOD


# --- temperature_sample vs its exact integer-threshold model ---------------

ts_rows = st.lists(
    st.integers(min_value=0, max_value=3),  # stratum of row i
    min_size=1,
    max_size=80,
)


def _temperature_model(strata: list[int], alpha: float, max_rows):
    counts: dict[int, int] = {}
    for s in strata:
        counts[s] = counts.get(s, 0) + 1
    weights = {
        s: int(math.floor(math.pow(n, alpha) * TEMP_WEIGHT_SCALE))
        for s, n in counts.items()
    }
    den = sum(weights.values())
    n_out = min(counts[s] * den // w for s, w in weights.items())
    if max_rows is not None:
        n_out = min(n_out, max_rows)
    thresholds = {
        s: w * n_out * MOD // (den * counts[s]) for s, w in weights.items()
    }
    return {
        i for i, s in enumerate(strata) if _bucket(i) < thresholds[s]
    }


@settings(max_examples=prop_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ts_rows,
    st.sampled_from([0.1, 0.3, 0.5, 0.7, 1.0]),
    st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
)
def test_temperature_sample_matches_model(spark, strata, alpha, max_rows):
    df = spark.createDataFrame(
        [(i, f"s{s}") for i, s in enumerate(strata)], "doc_id long, src string"
    )
    got = {
        r["doc_id"]
        for r in temperature_sample(df, "doc_id", "src", alpha, max_rows).collect()
    }
    want = _temperature_model(strata, alpha, max_rows)
    assert got == want
    # No stratum oversampled; monotone: halving max_rows yields a subset.
    if got:
        smaller = {
            r["doc_id"]
            for r in temperature_sample(
                df, "doc_id", "src", alpha, len(got) // 2
            ).collect()
        }
        assert smaller <= got


# --- holdout_split: exact tiling, growth stability --------------------------

hs_fracs = st.sampled_from(
    [
        {"train": 1.0},
        {"train": 0.5, "test": 0.5},
        {"train": 0.9, "valid": 0.05, "test": 0.05},
        {"a": 0.25, "b": 0.25, "c": 0.25, "d": 0.25},
    ]
)


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True), hs_fracs)
def test_holdout_split_matches_model(spark, ids, fracs):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["split"] for r in holdout_split(df, "doc_id", fracs).collect()}
    # Model: contiguous cumulative ranges over the bucket space.
    names = list(fracs)
    edges = []
    cum = 0.0
    for n in names[:-1]:
        cum += fracs[n]
        edges.append(int(cum * MOD))
    def model(i):
        b = _bucket(i)
        for name, e in zip(names[:-1], edges):
            if b < e:
                return name
        return names[-1]
    assert got == {i: model(i) for i in ids}
    # Growth stability: any subset keeps identical assignments.
    sub = ids[: max(1, len(ids) // 2)]
    got_sub = {
        r["doc_id"]: r["split"]
        for r in holdout_split(
            spark.createDataFrame([(i,) for i in sub], "doc_id long"), "doc_id", fracs
        ).collect()
    }
    assert got_sub == {i: got[i] for i in sub}


# --- epoch_shuffle: permutation + model equality ----------------------------


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=60, unique=True),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=7),
)
def test_epoch_shuffle_matches_model(spark, ids, n_shards, seed):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in epoch_shuffle(df, "doc_id", n_shards, seed).collect()
    }
    keyed = sorted(((_bucket(i ^ seed), i) for i in ids))
    model: dict[int, tuple[int, int]] = {}
    counters: dict[int, int] = {}
    for k, i in keyed:
        sh = k % n_shards
        model[i] = (sh, counters.get(sh, 0))
        counters[sh] = counters.get(sh, 0) + 1
    assert got == model
    # Permutation: every row exactly once, dense positions per shard.
    assert len(got) == len(ids)
