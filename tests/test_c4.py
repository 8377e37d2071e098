"""C4 cleaning heuristics (Raffel et al. 2020 §2.2): DuckDB
re-derivation of the line keep + page drops over synthetic edge cases
AND the documents table, plus partitioning independence."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} missing"
)

_DUCK_SQL = """
WITH kept AS (
  SELECT doc_id,
         array_to_string(
           list_filter(
             string_split(text, chr(10)),
             l -> regexp_matches(rtrim(l), '[.!?]["”]?$')
                  AND len(list_filter(
                        regexp_split_to_array(l, '\\s+'),
                        w -> length(w) > 0)) >= 3
                  AND NOT contains(lower(l), 'javascript')
           ), chr(10)) AS text
  FROM docs WHERE text IS NOT NULL
)
SELECT doc_id, text FROM kept
WHERE length(lower(text)) - length(translate(lower(text), '.!?', '')) >= 5
  AND NOT contains(lower(text), 'lorem ipsum')
  AND NOT contains(lower(text), '{')
  AND NOT contains(lower(text), '}')
ORDER BY doc_id
"""


def _edge_docs(spark):
    rows = [
        (1, "Keep this sentence here. " * 6),  # plenty of sentences
        (2, "short line\nno punctuation either\nstill nothing"),  # all dropped
        (3, ("Good long sentence number one stays.\n" * 6) + "nav menu"),
        (4, "This page mentions lorem ipsum somewhere. " * 6),
        (5, "Code page here it is. " * 6 + "int main() { return 0; }"),
        (6, "Enable javascript to view this. " * 6),
        (7, "One. Two. Three. Four."),  # < 5 sentences after keep
        (8, None),
        (9, "Ends with a quoted terminal mark.” " * 6),
        # Closing brace only — the C4 rule is "any curly bracket".
        (10, "Prose that ends the block with a stray }. " * 6),
        # Leading-tab line with only TWO words (ADVICE r9): F.trim
        # strips spaces only, so the empty first split token used to
        # count as a word and let this min_words-1 line pass.
        (11, ("Plenty of real sentences pad this page out. " * 6)
             + "\n\ttwo words."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run_duck(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    return con.execute(_DUCK_SQL).fetchall()


def test_c4_clean_matches_duckdb_on_edges(spark):
    from restructure_hdfs_topic_spark.functions.text import c4_clean

    docs = _edge_docs(spark)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in c4_clean(docs).filter(F.col("text").isNotNull()).collect()
    )
    want = _run_duck([(r["doc_id"], r["text"]) for r in docs.collect()])
    assert got == [tuple(r) for r in want]
    # NULL text passes through untouched.
    out = {r["doc_id"] for r in c4_clean(docs).collect()}
    assert 8 in out
    # Spot checks: lorem ipsum / curly (either bracket) / javascript-only
    # / short pages drop.
    assert {2, 4, 5, 6, 7, 10}.isdisjoint(out - {8})
    assert {1, 3, 9} <= out


def test_c4_clean_matches_duckdb_on_documents(spark):
    from restructure_hdfs_topic_spark.functions.text import c4_clean
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    got = sorted(
        (r["doc_id"], r["text"]) for r in c4_clean(docs).collect()
    )
    want = _run_duck([(r["doc_id"], r["text"]) for r in docs.collect()])
    assert got == [tuple(r) for r in want]
    # The raw synthetic text has no punctuation, so C4 legitimately
    # drops every page — rerun over the sentence-ified projection the
    # extras query uses (IMPORTED from the query module: one
    # definition, so this test validates the query's actual prep).
    from __spark_entry__ import c4_prep

    prepared = c4_prep(docs)
    gotp = sorted(
        (r["doc_id"], r["text"]) for r in c4_clean(prepared).collect()
    )
    wantp = _run_duck([(r["doc_id"], r["text"]) for r in prepared.collect()])
    assert gotp == [tuple(r) for r in wantp]
    assert gotp, "sentence-ified documents should retain C4-clean pages"
    assert len(gotp) < prepared.count(), "some pages must still drop"
    # Partitioning independence.
    gotp2 = sorted(
        (r["doc_id"], r["text"])
        for r in c4_clean(prepared.repartition(7)).collect()
    )
    assert gotp2 == gotp


def test_c4_badwords_and_facade(spark):
    """Badwords match as WHOLE words (non-alphanumeric boundaries):
    'concatenate' must survive a 'cat' blocklist entry (the Scunthorpe
    problem), 'a cat sat' must drop, and edge positions/punctuation
    boundaries count as word breaks."""
    from restructure_hdfs_topic_spark.corpus import Corpus

    docs = spark.createDataFrame(
        [
            (1, "A perfectly ordinary clean sentence appears right here. " * 6),
            (2, "This page contains a forbidden veryBadWord token. " * 6),
            (3, "We concatenate strings and scattering categories happily. " * 6),
            (4, "Yesterday a cat sat on the mat again. " * 6),
            (5, "cat leads this page with more words after. " * 6),
            (6, "This one ends with punctuation around cat. " * 6),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]
        for r in Corpus(docs)
        .c4_clean(badwords=("verybadword", "cat"))
        .df.collect()
    }
    assert out == {1, 3}
