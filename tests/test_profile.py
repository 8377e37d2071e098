"""corpus_profile: per-source monitoring aggregate, DuckDB cross-check
(reusing the gopher_quality oracle SQL as the pass-rate CTE)."""

from restructure_hdfs_topic_spark.operators.profile import corpus_profile


def test_corpus_profile_basics(spark):
    rows = [
        (1, "a", "one two three"),
        (2, "a", "one two three"),  # exact dup of 1
        (3, "a", "four five"),
        (4, "b", "solo text here"),
        (5, "b", None),  # NULL text -> 0 tokens, counts as a doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in corpus_profile(df).collect()}
    a, b = got["a"], got["b"]
    assert a["n_docs"] == 3 and a["total_tokens"] == 8
    assert a["distinct_text_rate"] == round(2 / 3, 6)
    assert b["n_docs"] == 2 and b["total_tokens"] == 3
    # NULL text and "" hash differently but both are distinct here.
    assert b["p95_tokens"] >= b["p50_tokens"]
    # Word-salad micro docs never pass the 50-word Gopher bound.
    assert a["gopher_pass_rate"] == 0.0


def test_corpus_profile_duckdb_cross_check(spark):
    import duckdb

    import __spark_entry__ as e
    from restructure_hdfs_topic_spark.sources.tables import configure, load_table

    sf_dir = "/root/testdata/sf0.01"
    configure(spark)
    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        (tuple(r) for r in corpus_profile(docs).collect()), key=lambda t: t[0]
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    gopher = e.oracle_sql()["gopher_quality"]
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    rows = con.execute(
        f"""
        WITH g AS ({gopher}),
        t AS (
          SELECT source, doc_id, text,
                 CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len({toks}) END AS n_tok
          FROM documents
        )
        SELECT t.source,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               round(avg(n_tok), 4) AS avg_tokens,
               round(quantile_cont(n_tok, 0.5), 4) AS p50_tokens,
               round(quantile_cont(n_tok, 0.95), 4) AS p95_tokens,
               round(CAST(count(DISTINCT text) AS DOUBLE) / count(*), 6)
                 AS distinct_text_rate,
               round(avg(CASE WHEN g.passes THEN 1 ELSE 0 END), 6)
                 AS gopher_pass_rate
        FROM t JOIN g USING (doc_id)
        GROUP BY t.source ORDER BY t.source
        """
    ).fetchall()
    assert got == [tuple(r) for r in rows]


def test_corpus_profile_partitioning_independence(spark):
    rows = [(i, f"s{i % 3}", f"text body number {i % 11} repeated") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = sorted(tuple(r) for r in corpus_profile(df.repartition(13)).collect())
    b = sorted(tuple(r) for r in corpus_profile(df.repartition(2)).collect())
    assert a == b
