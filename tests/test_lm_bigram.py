"""Interpolated bigram LM scoring: hand-computed semantics + DuckDB
cross-check over the real documents table."""

import math

import pytest

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.functions.text import tokens
from restructure_hdfs_topic_spark.operators.lm import lm_bigram_cross_entropy


def test_bigram_hand_computed(spark):
    """Two docs: 'a b' and 'a c'.  Pair stream: (<s>,a)x2, (a,b), (a,c).
    Unigram: a=2/4, b=1/4, c=1/4.  Bigram: p(a|<s>)=1, p(b|a)=1/2,
    p(c|a)=1/2."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    lam = 0.7
    out = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in lm_bigram_cross_entropy(
            docs, tokens(F.col("text")), lam=lam
        ).collect()
    }
    p_a = lam * 1.0 + (1 - lam) * (2 / 4)
    p_b = lam * 0.5 + (1 - lam) * (1 / 4)
    expect = round(-(math.log2(p_a) + math.log2(p_b)) / 2, 4)
    assert out[1] == (2, expect)
    assert out[2] == (2, expect)  # symmetric by construction


def test_bigram_empty_and_single_token(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "solo"), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_tokens"]
        for r in lm_bigram_cross_entropy(docs, tokens(F.col("text"))).collect()
    }
    # Empty/NULL docs contribute no tokens and drop out; the single-token
    # doc scores its one (<s>, solo) bigram.
    assert out == {3: 1}


def test_bigram_duckdb_cross_check(spark):
    import duckdb

    from restructure_hdfs_topic_spark.sources.tables import configure, load_table

    sf_dir = "/root/testdata/sf0.01"
    configure(spark)
    docs = load_table(spark, sf_dir, "documents")
    lam = 0.7
    got = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in lm_bigram_cross_entropy(
            docs, tokens(F.col("text")), lam=lam
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    rows = con.execute(
        f"""
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
            FROM documents WHERE trim(text) <> ''
        ), p AS (
            SELECT doc_id,
                   unnest(list_zip(list_concat(['<s>'], toks[1:len(toks)-1]), toks)) AS pc
            FROM t
        ), bi AS (
            SELECT doc_id, pc[1] AS prev, pc[2] AS cur FROM p
        ), bc AS (
            SELECT prev, cur, COUNT(*) AS cnt_bi FROM bi GROUP BY prev, cur
        ), lc AS (
            SELECT prev, COUNT(*) AS cnt_left FROM bi GROUP BY prev
        ), uc AS (
            SELECT cur, COUNT(*) AS cnt_uni FROM bi GROUP BY cur
        ), tot AS (
            SELECT COUNT(*) AS total FROM bi
        )
        SELECT bi.doc_id,
               COUNT(*) AS n_tokens,
               round(-AVG(log2({lam} * cnt_bi / cnt_left
                                + {1 - lam} * cnt_uni / total)), 4) AS bits
        FROM bi
        JOIN bc USING (prev, cur) JOIN lc USING (prev) JOIN uc USING (cur), tot
        GROUP BY bi.doc_id
        """
    ).fetchall()
    want = {r[0]: (r[1], r[2]) for r in rows}
    assert set(got) == set(want)
    mismatches = {
        k: (got[k], want[k])
        for k in got
        if got[k][0] != want[k][0] or abs(got[k][1] - want[k][1]) > 1e-3
    }
    assert not mismatches, list(mismatches.items())[:5]


def test_curriculum_bins(spark):
    """Bins are monotone in the score, near-equal in size, and
    partitioning-independent."""
    from restructure_hdfs_topic_spark.operators.lm import curriculum_bins

    rows = [(i, float((i * 37) % 1000) / 10.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, bits_per_token double")
    out = curriculum_bins(df, n_bins=5).collect()
    by_id = {r["doc_id"]: (r["bits_per_token"], r["curriculum_bin"]) for r in out}
    # Monotone: a higher score never lands in a lower bin.
    ordered = sorted(by_id.values())
    for (s1, b1), (s2, b2) in zip(ordered, ordered[1:]):
        assert b1 <= b2
    # Near-equal populations (exact quantiles on 1000 distinct values).
    from collections import Counter

    sizes = Counter(b for _s, b in by_id.values())
    assert set(sizes) == {0, 1, 2, 3, 4}
    assert all(150 <= sizes[b] <= 250 for b in sizes)
    # Partitioning independence.
    out2 = curriculum_bins(df.repartition(7), n_bins=5).collect()
    assert {r["doc_id"]: r["curriculum_bin"] for r in out2} == {
        i: b for i, (_s, b) in by_id.items()
    }
