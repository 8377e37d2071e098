"""BM25 ranked retrieval: hand-computed formula pin, full DuckDB
cross-check over the real documents table (corpus-derived query set),
and the self-retrieval sanity property."""

import math

import duckdb
import pytest

from restructure_hdfs_topic_spark.operators.retrieval import (
    bm25_topk,
    corpus_queries,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, term string")


def test_bm25_hand_computed(spark):
    # Corpus: 3 non-empty docs (the empty one must not count toward N or
    # avgdl).  dl = 2, 3, 4 -> N = 3, avgdl = 3.0.
    docs = _docs(
        spark,
        [
            (1, "cat dog"),
            (2, "cat cat mouse"),
            (3, "dog mouse mouse mouse"),
            (4, "   "),
        ],
    )
    qs = _queries(spark, [(10, "cat"), (10, "mouse")])
    out = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["n_terms_matched"], r["score"])
        for r in bm25_topk(docs, qs, k=5).collect()
    }

    k1, b, n, avgdl = 1.2, 0.75, 3, 3.0

    def idf(df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def term(tf, df, dl):
        return round(
            idf(df) * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)),
            6,
        )

    # cat: df=2 (docs 1,2); mouse: df=2 (docs 2,3).
    exp = {
        (10, 1): round(term(1, 2, 2), 6),                       # cat only
        (10, 2): round(term(2, 2, 3) + term(1, 2, 3), 6),       # cat + mouse
        (10, 3): round(term(3, 2, 4), 6),                       # mouse only
    }
    assert set(out) == set(exp)
    for key, score in exp.items():
        assert out[key][2] == pytest.approx(score, abs=1e-9)
    # doc 2 matches both terms.
    assert out[(10, 2)][1] == 2
    # Ranks follow (score desc, doc_id asc).
    ranked = sorted(out.items(), key=lambda kv: kv[1][0])
    scores = [kv[1][2] for kv in ranked]
    assert scores == sorted(scores, reverse=True)


def test_bm25_duckdb_cross_check(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qs = corpus_queries(docs, sample_mod=7)  # dense sampling at sf0.001
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["n_terms_matched"], r["score"])
        for r in bm25_topk(docs, qs, k=5).collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    exp = sorted(
        tuple(row)
        for row in con.execute(
            r"""
            WITH base AS (
                SELECT doc_id, lower(trim(text)) AS t
                FROM documents WHERE trim(text) <> ''
            ), toks AS (
                SELECT doc_id, regexp_split_to_array(t, '\s+') AS toks FROM base
            ), dl AS (
                SELECT doc_id, len(toks) AS dl FROM toks
            ), stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM dl
            ), qdoc AS (
                SELECT doc_id AS query_id,
                       list_filter(toks, x -> length(x) >= 4) AS ftoks
                FROM toks WHERE doc_id % 7 = 0
            ), qterm AS (
                SELECT DISTINCT query_id, term
                FROM (
                    SELECT query_id,
                           unnest([ftoks[1], ftoks[8], ftoks[15]]) AS term
                    FROM qdoc
                ) WHERE term IS NOT NULL
            ), tok AS (
                SELECT doc_id, unnest(toks) AS token FROM toks
            ), matched AS (
                SELECT tok.doc_id, tok.token
                FROM tok JOIN (SELECT DISTINCT term FROM qterm) q
                     ON tok.token = q.term
            ), tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM matched GROUP BY doc_id, token
            ), df AS (
                SELECT token, count(*) AS df FROM tf GROUP BY token
            ), qw AS (
                SELECT q.query_id, q.term AS token,
                       ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                           AS idf,
                       stats.avgdl
                FROM qterm q JOIN df ON q.term = df.token CROSS JOIN stats
            ), scored AS (
                SELECT qw.query_id, tf.doc_id,
                       round(qw.idf * (tf.tf * 2.2)
                             / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / qw.avgdl)),
                             6) AS term_score
                FROM tf JOIN qw ON tf.token = qw.token
                        JOIN dl ON tf.doc_id = dl.doc_id
            ), agg AS (
                SELECT query_id, doc_id,
                       CAST(count(*) AS BIGINT) AS n_terms_matched,
                       round(sum(term_score), 6) AS score
                FROM scored GROUP BY query_id, doc_id
            ), ranked AS (
                SELECT query_id, doc_id, n_terms_matched, score,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY score DESC, doc_id
                       ) AS rank
                FROM agg
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
                   n_terms_matched, score
            FROM ranked WHERE rank <= 5
            """
        ).fetchall()
    )
    assert got == exp
    assert len(got) > 0


def test_bm25_self_retrieval(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qs = corpus_queries(docs, sample_mod=7)
    n_terms = {
        r["query_id"]: r["n"]
        for r in qs.groupBy("query_id").count().withColumnRenamed("count", "n").collect()
    }
    assert n_terms, "query set must be non-empty at sf0.001"
    # With an unbounded k the query document itself must appear, matching
    # every one of its own query terms (they were sampled from its text).
    full = bm25_topk(docs, qs, k=10**9)
    self_rows = {
        r["query_id"]: r["n_terms_matched"]
        for r in full.filter(full.query_id == full.doc_id).collect()
    }
    assert set(self_rows) == set(n_terms)
    for qid, matched in self_rows.items():
        assert matched == n_terms[qid]


def test_bm25_empty_query_set_and_no_match(spark):
    docs = _docs(spark, [(1, "alpha beta"), (2, "gamma")])
    none = bm25_topk(docs, _queries(spark, [(5, "zzzznotfound")]), k=3)
    assert none.count() == 0
    empty = bm25_topk(docs, _queries(spark, []), k=3)
    assert empty.count() == 0
