"""Property-based tests (hypothesis) for line-level dedup: random
line-structured corpora vs a pure-Python model of the exact rule (strip
every line whose trimmed form occurs >= min_count corpus-wide; blank
lines never count; untouched docs byte-exact; all-dropped docs -> "").

One DataFrame per hypothesis example (many docs per case) so Spark jobs
amortize and the suite stays fast."""

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from restructure_hdfs_topic_spark.operators.dedup import strip_duplicated_lines

# Small line alphabet forces real cross-doc collisions; whitespace
# paddings exercise the trimmed-matching rule.
line = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", " alpha ", "\tbeta", "", "  ", "epsilon zeta"]
)
doc = st.lists(line, min_size=0, max_size=6).map(lambda ls: "\n".join(ls))
corpus = st.lists(doc, min_size=1, max_size=12)


def _model(texts: list[str], min_count: int) -> list[str]:
    from collections import Counter

    counts = Counter()
    for t in texts:
        for ln in t.split("\n"):
            tr = ln.strip()
            if tr:
                counts[tr] += 1
    out = []
    for t in texts:
        lines = t.split("\n")
        dup_idx = [
            i for i, ln in enumerate(lines)
            if ln.strip() and counts[ln.strip()] >= min_count
        ]
        if not dup_idx:
            out.append(t)  # byte-exact passthrough
        else:
            keep = [ln for i, ln in enumerate(lines) if i not in set(dup_idx)]
            out.append("\n".join(keep))
    return out


@settings(max_examples=prop_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus, st.integers(min_value=2, max_value=4))
def test_strip_matches_model(spark, texts, min_count):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_lines(df, "doc_id", "text", min_count).collect()
    }
    want = dict(enumerate(_model(texts, min_count)))
    assert got == want


# --- token_budget_sample vs its naive model over random corpora -----------

from restructure_hdfs_topic_spark.operators.sampling import (  # noqa: E402
    KNUTH,
    MOD,
    token_budget_sample,
)

tb_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # stratum
        st.integers(min_value=0, max_value=25),         # n_tokens (0 incl.)
    ),
    min_size=1,
    max_size=60,
)
tb_budgets = st.dictionaries(
    st.sampled_from(["s0", "s1", "s2", "s3"]),
    st.integers(min_value=0, max_value=300),
    min_size=1,
    max_size=4,
)


def _tb_model(rows, budgets):
    keep = set()
    for s, bud in budgets.items():
        docs = sorted(
            (r for r in rows if r[1] == s),
            key=lambda r: ((r[0] * KNUTH) % MOD, r[0]),
        )
        cum = 0
        for i, _s, n in docs:
            if cum < bud:
                keep.add(i)
            cum += n
    return keep


@settings(max_examples=prop_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(tb_rows, tb_budgets)
def test_token_budget_matches_model(spark, raw, budgets):
    rows = [(i, f"s{s}", n) for i, (s, n) in enumerate(raw)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r["doc_id"]
        for r in token_budget_sample(df, "doc_id", "source", budgets).collect()
    }
    assert got == _tb_model(rows, budgets)
