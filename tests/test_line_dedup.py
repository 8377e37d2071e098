"""Line-level corpus dedup (C4/RefinedWeb-style): fixture semantics +
DuckDB cross-check over a line-structured derivation of the documents
table (the raw testdata texts are single-line, so the cross-check wraps
each text in a per-source header and a corpus-wide footer — real
boilerplate shape)."""

from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.dedup import (
    duplicated_lines,
    strip_duplicated_lines,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicated_lines_cross_and_within_doc(spark):
    rows = [
        (1, "unique alpha\nshared line\ntail one"),
        (2, "shared line\nunique beta"),
        (3, "repeat me\nrepeat me\nunique gamma"),
    ]
    got = {
        (r["doc_id"], r["line_idx"]): r["cnt"]
        for r in duplicated_lines(_df(spark, rows), "doc_id", "text").collect()
    }
    # "shared line" appears in docs 1+2; "repeat me" twice within doc 3.
    assert got == {(1, 1): 2, (2, 0): 2, (3, 0): 2, (3, 1): 2}


def test_trimmed_matching_and_blank_lines_ignored(spark):
    rows = [
        (1, "  boiler plate  \n\nbody one\n\n"),
        (2, "boiler plate\n\nbody two\n\n"),
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_lines(_df(spark, rows), "doc_id", "text").collect()
    }
    # Matching is on the TRIMMED line, blank lines never count as dups;
    # surviving lines keep their exact bytes.
    assert out[1] == "\nbody one\n\n"
    assert out[2] == "\nbody two\n\n"


def test_untouched_docs_keep_bytes_and_all_dropped_becomes_empty(spark):
    rows = [
        (1, "only\tdoc \n with  weird   spacing "),  # no dups -> byte-exact
        (2, "dup\ndup"),
        (3, None),
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_lines(_df(spark, rows), "doc_id", "text").collect()
    }
    assert out[1] == rows[0][1]
    assert out[2] == ""
    assert out[3] is None


def test_min_count_threshold(spark):
    rows = [(1, "x\ny"), (2, "x\nz"), (3, "x\nw")]
    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_lines(
            _df(spark, rows), "doc_id", "text", min_count=4
        ).collect()
    }
    # "x" occurs 3 times < min_count=4 -> nothing stripped.
    assert out == {1: "x\ny", 2: "x\nz", 3: "x\nw"}


def test_line_dedup_duckdb_cross_check(spark):
    import duckdb

    from restructure_hdfs_topic_spark.sources.tables import configure, load_table

    sf_dir = "/root/testdata/sf0.01"
    configure(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.concat_ws(" ", F.lit("from source"), F.col("source")),
            F.lit("\n"),
            F.col("text"),
            F.lit("\nsubscribe to our newsletter"),
        ).alias("text"),
    )
    got = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_lines(docs, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    rows = con.execute(
        r"""
        WITH d AS (
          SELECT doc_id,
                 'from source ' || source || chr(10) || text || chr(10) ||
                 'subscribe to our newsletter' AS text
          FROM documents
        ), ex AS (
          SELECT doc_id, generate_subscripts(ls, 1) AS idx, unnest(ls) AS line
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d)
        ), t AS (
          SELECT doc_id, idx,
                 regexp_replace(line, '^\s+|\s+$', '', 'g') AS tr
          FROM ex
        ), c AS (
          SELECT tr FROM t WHERE tr <> '' GROUP BY tr HAVING count(*) >= 2
        ), dd AS (
          SELECT doc_id, list(idx) AS dup_idx
          FROM t JOIN c USING (tr) GROUP BY doc_id
        ), rebuilt AS (
          SELECT ex.doc_id,
                 coalesce(string_agg(ex.line, chr(10) ORDER BY ex.idx), '') AS new_text
          FROM dd JOIN ex ON ex.doc_id = dd.doc_id
                         AND NOT list_contains(dd.dup_idx, ex.idx)
          GROUP BY ex.doc_id
        )
        SELECT d.doc_id,
               CASE WHEN dd.doc_id IS NULL THEN d.text
                    ELSE coalesce(r.new_text, '') END AS text
        FROM d LEFT JOIN dd USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
        """
    ).fetchall()
    want = {r[0]: r[1] for r in rows}
    assert got == want
    # The construction actually exercised stripping: headers repeat within
    # a source, the footer repeats corpus-wide.
    assert all("subscribe to our newsletter" not in (t or "") for t in got.values())


def test_partitioning_independence(spark):
    rows = [(i, f"common header\nbody {i % 7}\nfooter line") for i in range(200)]
    df = _df(spark, rows)
    a = strip_duplicated_lines(df.repartition(13), "doc_id", "text").collect()
    b = strip_duplicated_lines(df.repartition(3), "doc_id", "text").collect()
    assert sorted((r["doc_id"], r["text"]) for r in a) == sorted(
        (r["doc_id"], r["text"]) for r in b
    )


def test_dedup_representatives(spark):
    """Highest-quality member survives per near-dup cluster; singletons
    pass through; explicit quality column honored."""
    from restructure_hdfs_topic_spark.operators.dedup import dedup_representatives

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base + "x!!!###"),            # noisy copy
        (2, base + "x"),                  # clean copy (higher quality)
        (3, "completely unrelated text about other things entirely"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r["doc_id"] for r in dedup_representatives(df, "doc_id", "text").collect()
    )
    # 1 and 2 cluster; the clean copy (2) wins despite the higher id.
    assert 2 in kept and 1 not in kept
    assert 3 in kept and 4 in kept

    # Explicit quality column flips the winner.
    df2 = spark.createDataFrame(
        [(i, t, float(10 - (i or 0))) for i, t, in rows], "doc_id long, text string, q double"
    )
    kept2 = sorted(
        r["doc_id"]
        for r in dedup_representatives(df2, "doc_id", "text", quality_col="q").collect()
    )
    assert 1 in kept2 and 2 not in kept2
    # original columns preserved, helpers dropped
    out = dedup_representatives(df, "doc_id", "text")
    assert out.columns == ["doc_id", "text"]
