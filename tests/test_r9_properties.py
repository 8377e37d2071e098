"""Property-based tests (hypothesis) for the round-9 additions, each
against a pure-Python model of its exact rule: the Gopher repetition
metrics (random whitespace-riddled text incl. NBSP/tabs and planted
repeats), best-fit packing invariants (random token counts incl.
negatives/zeros/oversize), and epoch upsampling mass accounting.

One DataFrame per hypothesis example so Spark jobs amortize."""

from __future__ import annotations

import math
from collections import defaultdict

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from restructure_hdfs_topic_spark.operators.packing import (  # noqa: E402
    best_fit_pack,
)

# --- repetition metrics vs the witness model over adversarial text --------

# Tiny alphabet (forces repeats) + every whitespace class that matters:
# ASCII separators, NBSP (NOT a separator), blank-ish lines.
_chunks = st.sampled_from(
    ["a", "bb", "ccc", " ", "  ", "\t", "\n", "\n\n", "\xa0", ".", "a b c d e"]
)
rep_text = st.one_of(
    st.none(),
    st.lists(_chunks, min_size=0, max_size=40).map("".join),
    # planted repetition: a short base repeated k times
    st.tuples(
        st.lists(_chunks, min_size=1, max_size=8).map("".join),
        st.integers(min_value=2, max_value=6),
    ).map(lambda t: (t[0] + " ") * t[1]),
)


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(rep_text, min_size=1, max_size=25))
def test_repetition_metrics_match_model_on_random_text(spark, texts):
    from test_repetition import METRICS, _model

    from restructure_hdfs_topic_spark.functions.text import (
        gopher_repetition_metrics,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: {m: r[m] for m in METRICS}
        for r in gopher_repetition_metrics(docs).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _model(t), (i, repr(t))


# --- best_fit_pack invariants + model equality ------------------------------

bf_counts = st.lists(
    st.one_of(
        st.none(),
        st.integers(min_value=-10, max_value=700),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(bf_counts, st.integers(min_value=8, max_value=256))
def test_best_fit_pack_invariants_hold(spark, counts, budget):
    from test_bestfit import _model_bucket, _phash

    docs = spark.createDataFrame(
        list(enumerate(counts)), "doc_id long, n_tokens long"
    )
    n_buckets = 4
    rows = best_fit_pack(
        docs, budget=budget, n_buckets=n_buckets
    ).collect()

    # Model equality per bucket (clamped sizes).
    buckets = defaultdict(list)
    for i, n in enumerate(counts):
        buckets[_phash(str(i)) % n_buckets].append((i, n))
    want = {}
    for b, members in buckets.items():
        asg, _ = _model_bucket(members, budget)
        for (did, ci), (bin_idx, off, size) in asg.items():
            want[(did, ci)] = (b, (b << 31) + bin_idx, off, size)
    got = {
        (r["doc_id"], r["chunk"]): (
            r["bucket"], r["pack_id"], r["offset_in_pack"], r["n_tokens"]
        )
        for r in rows
    }
    assert got == want

    # Invariants: capacity, contiguous fill, chunk accounting.
    packs = defaultdict(list)
    for r in rows:
        packs[r["pack_id"]].append((r["offset_in_pack"], r["n_tokens"]))
    for members in packs.values():
        members.sort()
        off = 0
        for o, n in members:
            assert o == off and n <= budget
            off += n
        assert off <= budget
    per_doc = defaultdict(int)
    for r in rows:
        per_doc[r["doc_id"]] += 1
    for i, n in enumerate(counts):
        n = max(n or 0, 0)
        assert per_doc[i] == max(math.ceil(n / budget), 1)


# --- epoch_upsample mass model ----------------------------------------------

eu_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5_000),  # id
        st.integers(min_value=0, max_value=2),      # stratum index
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)
eu_factors = st.lists(
    st.floats(min_value=0.05, max_value=4.0, allow_nan=False),
    min_size=3,
    max_size=3,
)


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(eu_rows, eu_factors)
def test_epoch_upsample_matches_model(spark, rows, factors):
    from restructure_hdfs_topic_spark.operators.sampling import (
        KNUTH,
        MOD,
        epoch_upsample,
    )

    strata = [f"s{j}" for j in range(3)]
    epochs = {strata[j]: factors[j] for j in range(3)}
    docs = spark.createDataFrame(
        [(i, strata[j]) for i, j in rows], "doc_id long, src string"
    )
    got = sorted(
        (r["doc_id"], r["epoch"])
        for r in epoch_upsample(docs, "doc_id", "src", epochs).collect()
    )
    want = []
    for i, j in rows:
        e = factors[j]
        w = int(math.floor(e))
        thresh = int(e * MOD) - w * MOD
        n = w + (1 if ((i % MOD) * KNUTH) % MOD < thresh else 0)
        want.extend((i, k) for k in range(n))
    assert got == sorted(want)
