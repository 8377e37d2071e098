"""Round-7 operator tests: temperature (alpha) mixture sampling, the
deterministic epoch shuffle, CCNet-style perplexity gates, within-document
paragraph dedup, and GPT-3-style span decontamination.

Every exact-deterministic operator gets a DuckDB cross-check that
re-derives the SAME result independently; approximate pieces
(percentile_approx band boundaries) are checked against exact quantiles
with the sketch's documented tolerance.
"""

from __future__ import annotations

import math

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"


def _duck(sf_dir: str = SF_DIR):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


# --- temperature_sample ----------------------------------------------------


def test_temperature_sample_duckdb_cross_check(spark):
    """The kept set equals an independent DuckDB evaluation of the same
    integer thresholds; alpha up-weights scarce strata; max_rows is
    monotone (smaller budget => subset)."""
    from restructure_hdfs_topic_spark.operators.sampling import (
        KNUTH,
        MOD,
        TEMP_WEIGHT_SCALE,
        temperature_sample,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    alpha = 0.3
    docs = load_table(spark, SF_DIR, "documents")
    got = {
        (r["doc_id"], r["lang"])
        for r in temperature_sample(docs, "doc_id", "lang", alpha=alpha)
        .select("doc_id", "lang")
        .collect()
    }

    con = _duck()
    counts = dict(
        con.execute("SELECT lang, count(*) FROM documents GROUP BY lang").fetchall()
    )
    weights = {
        s: int(math.floor(math.pow(n, alpha) * TEMP_WEIGHT_SCALE))
        for s, n in counts.items()
    }
    den = sum(weights.values())
    n_out = min(counts[s] * den // w for s, w in weights.items())
    thresholds = {
        s: w * n_out * MOD // (den * counts[s]) for s, w in weights.items()
    }
    case = " ".join(f"WHEN lang = '{s}' THEN {t}" for s, t in thresholds.items())
    want = set(
        map(
            tuple,
            con.execute(
                f"""SELECT doc_id, lang FROM documents
                    WHERE (doc_id * {KNUTH}) % {MOD} < CASE {case} ELSE -1 END"""
            ).fetchall(),
        )
    )
    assert got == want and got

    # Scarce strata gain share: for every pair (s scarcer than t), the
    # output share ratio share_s/share_t must EXCEED the input ratio
    # n_s/n_t (alpha < 1 flattens the distribution).
    by_lang: dict[str, int] = {}
    for _, lang in got:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    langs = sorted(counts, key=counts.get)
    scarce, rich = langs[0], langs[-1]
    if counts[scarce] < counts[rich]:
        in_ratio = counts[scarce] / counts[rich]
        out_ratio = by_lang.get(scarce, 0) / max(by_lang.get(rich, 1), 1)
        assert out_ratio > in_ratio

    # Monotone in max_rows.
    small = {
        (r["doc_id"], r["lang"])
        for r in temperature_sample(
            docs, "doc_id", "lang", alpha=alpha, max_rows=len(got) // 2
        )
        .select("doc_id", "lang")
        .collect()
    }
    assert small <= got and len(small) < len(got)


def test_temperature_alpha_one_is_natural(spark):
    """alpha=1 keeps natural proportions: every stratum's rate is (near-)
    equal, so the full corpus survives when max_rows is unbounded (the
    scarcest-after-weighting stratum pins n_out at the total)."""
    from restructure_hdfs_topic_spark.operators.sampling import temperature_sample
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    total = docs.count()
    kept = temperature_sample(docs, "doc_id", "lang", alpha=1.0).count()
    # Rates are ~1 up to the floor-scaling quantization of the weights.
    assert kept >= total * 0.999


def test_temperature_sample_rejects_bad_alpha(spark):
    from restructure_hdfs_topic_spark.operators.sampling import temperature_sample
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError):
            temperature_sample(docs, "doc_id", "lang", alpha=bad)


# --- epoch_shuffle ---------------------------------------------------------


def test_epoch_shuffle_duckdb_cross_check(spark):
    """(shard, pos) for every row equals DuckDB's independent evaluation of
    the same hash-order window; per-shard positions are dense from 0."""
    from restructure_hdfs_topic_spark.operators.packing import epoch_shuffle
    from restructure_hdfs_topic_spark.operators.sampling import KNUTH, MOD
    from restructure_hdfs_topic_spark.sources.tables import load_table

    n_shards, seed = 8, 3
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    got = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in epoch_shuffle(docs, "doc_id", n_shards=n_shards, seed=seed).collect()
    }
    con = _duck()
    want = set(
        map(
            tuple,
            con.execute(
                f"""WITH h AS (
                        SELECT doc_id, (xor(doc_id, {seed}) * {KNUTH}) % {MOD} AS k
                        FROM documents
                    )
                    SELECT doc_id, k % {n_shards} AS shard,
                           row_number() OVER (
                               PARTITION BY k % {n_shards} ORDER BY k, doc_id
                           ) - 1 AS pos
                    FROM h"""
            ).fetchall(),
        )
    )
    assert got == want

    by_shard: dict[int, list[int]] = {}
    for _, s, p in got:
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        ps.sort()
        assert ps == list(range(len(ps)))


def test_epoch_shuffle_seed_changes_order_and_partitioning_independent(spark):
    from restructure_hdfs_topic_spark.operators.packing import epoch_shuffle

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {(r["doc_id"], r["shard"], r["pos"]) for r in epoch_shuffle(df, "doc_id", 4, seed=0).collect()}
    b = {(r["doc_id"], r["shard"], r["pos"]) for r in epoch_shuffle(df, "doc_id", 4, seed=1).collect()}
    assert a != b and len(a) == len(b) == 500
    # Same seed, different input partitioning: identical assignment.
    c = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in epoch_shuffle(df.repartition(13), "doc_id", 4, seed=0).collect()
    }
    assert a == c


# --- perplexity gates ------------------------------------------------------


def test_perplexity_filter_duckdb_cross_check(spark):
    """Survivor ids + attached scores equal DuckDB's evaluation of the same
    unigram model and threshold."""
    from restructure_hdfs_topic_spark.functions.text import tokens
    from restructure_hdfs_topic_spark.operators.lm import perplexity_filter
    from restructure_hdfs_topic_spark.sources.tables import load_table

    # sf0.01 scores cluster tightly around ~4.91 bits/token — a threshold
    # inside the cluster proves the gate actually separates.
    max_bits = 4.91
    docs = load_table(spark, SF_DIR, "documents")
    out = perplexity_filter(docs, tokens(docs["text"]), "doc_id", max_bits=max_bits)
    got = {(r["doc_id"], r["bits_per_token"]) for r in out.select("doc_id", "bits_per_token").collect()}
    assert set(out.columns) == set(docs.columns) | {"bits_per_token"}

    con = _duck()
    want = set(
        map(
            tuple,
            con.execute(
                f"""WITH tok AS (
                        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
                        FROM documents WHERE trim(text) <> ''
                    ), counts AS (
                        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
                    ), tot AS (SELECT SUM(cnt) AS total FROM counts),
                    probs AS (
                        SELECT token, log2(CAST(cnt AS DOUBLE)) - log2(CAST(total AS DOUBLE)) AS logp
                        FROM counts, tot
                    ), scored AS (
                        SELECT t.doc_id, ROUND(-AVG(p.logp), 4) AS bits_per_token
                        FROM tok t JOIN probs p USING (token) GROUP BY t.doc_id
                    )
                    SELECT doc_id, bits_per_token FROM scored
                    WHERE bits_per_token <= {max_bits}"""
            ).fetchall(),
        )
    )
    assert got == want and got
    # The gate actually cuts something at this threshold.
    assert len(got) < docs.count()


def test_perplexity_band_per_stratum(spark):
    """Per-language head-third band: survivors' scores sit inside the
    band implied by EXACT per-language quantiles (sketch accuracy slack at
    the boundary), and each language keeps roughly a third."""
    from restructure_hdfs_topic_spark.functions.text import tokens
    from restructure_hdfs_topic_spark.operators.lm import (
        lm_cross_entropy,
        perplexity_band,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = perplexity_band(
        docs, tokens(docs["text"]), "doc_id", lo_q=0.0, hi_q=1 / 3, strata_col="lang"
    )
    kept = out.select("doc_id", "lang", "bits_per_token").collect()
    assert kept

    scored = lm_cross_entropy(docs, tokens(docs["text"]), "doc_id")
    joined = docs.select("doc_id", "lang").join(scored, "doc_id")
    all_scores: dict[str, list[float]] = {}
    for r in joined.collect():
        all_scores.setdefault(r["lang"], []).append(r["bits_per_token"])
    for lang, vals in all_scores.items():
        vals.sort()
    kept_by_lang: dict[str, list[float]] = {}
    for r in kept:
        kept_by_lang.setdefault(r["lang"], []).append(r["bits_per_token"])
    for lang, vals in kept_by_lang.items():
        ref = all_scores[lang]
        exact_hi = ref[min(len(ref) - 1, int(len(ref) / 3))]
        # Sketch boundary within a few rank-units of the exact tertile.
        slack_idx = min(len(ref) - 1, int(len(ref) / 3) + max(3, len(ref) // 100))
        assert max(vals) <= ref[slack_idx]
        share = len(vals) / len(ref)
        assert 0.2 <= share <= 0.5, (lang, share)


# --- strip_repeated_paragraphs ----------------------------------------------


def test_strip_repeated_paragraphs_semantics(spark):
    from restructure_hdfs_topic_spark.operators.dedup import strip_repeated_paragraphs

    df = spark.createDataFrame(
        [
            (1, "Nav bar\n\ncontent one\n\nNav bar\n\ncontent two"),
            (2, "a\n\n\n\nb"),  # empty paragraph preserved (spacing intact)
            (3, None),
            (4, "solo"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in strip_repeated_paragraphs(df, "doc_id", "text").collect()}
    assert got[1] == "Nav bar\n\ncontent one\n\ncontent two"
    assert got[2] == "a\n\n\n\nb"
    assert got[3] is None
    assert got[4] == "solo"
    assert got[5] == ""


def test_strip_repeated_paragraphs_duckdb_cross_check(spark):
    """Full-table cross-check on synthetic paragraphized text derived from
    the documents table (repeat each doc's first sentence as a fake nav
    block around the body)."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.dedup import strip_repeated_paragraphs
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF_DIR, "documents")
        .withColumn(
            "text",
            F.concat_ws(
                "\n\n",
                F.substring("text", 1, 20),
                F.col("text"),
                F.substring("text", 1, 20),
            ),
        )
        .select("doc_id", "text")
    )
    got = {
        (r["doc_id"], r["text"])
        for r in strip_repeated_paragraphs(docs, "doc_id", "text").collect()
    }
    con = _duck()
    want = set(
        map(
            tuple,
            con.execute(
                r"""WITH d AS (
                        SELECT doc_id,
                               substring(text, 1, 20) || e'\n\n' || text ||
                               e'\n\n' || substring(text, 1, 20) AS text
                        FROM documents
                    ), p AS (
                        SELECT doc_id, string_split(text, e'\n\n') AS paras FROM d
                    )
                    SELECT doc_id,
                           array_to_string(
                               list_filter(paras, (x, i) ->
                                   x = '' OR list_position(paras, x) = i),
                               e'\n\n') AS text
                    FROM p"""
            ).fetchall(),
        )
    )
    assert got == want


# --- span decontamination ----------------------------------------------------


def test_contaminated_spans_margin_and_merge(spark):
    from restructure_hdfs_topic_spark.operators.dedup import (
        contaminated_spans,
        decontaminate_spans,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated words here"),
            (3, "QUICK BROWN FOX elsewhere quick brown fox again and again"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "quick brown fox")], "doc_id long, text string"
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in contaminated_spans(corpus, bench, "doc_id", "text", n=3).collect()
    }
    # doc 1: window at token 1; doc 3: case-insensitive hits at 0 and 4.
    assert spans == {(1, 1, 4), (3, 0, 3), (3, 4, 7)}

    # margin=1 expands and merges doc 3's two hits (gap 4 <= 3 + 2*1).
    spans_m = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in contaminated_spans(
            corpus, bench, "doc_id", "text", n=3, margin=1
        ).collect()
    }
    assert spans_m == {(1, 0, 5), (3, 0, 8)}

    out = {
        r["doc_id"]: r["text"]
        for r in decontaminate_spans(corpus, bench, "doc_id", "text", n=3).collect()
    }
    assert out[1] == "the jumps over the lazy dog today"
    assert out[2] == "completely unrelated words here"  # untouched, byte-for-byte
    assert out[3] == "elsewhere again and again"


def test_decontaminate_spans_duckdb_cross_check(spark):
    """Span table over the documents corpus vs a benchmark built from a
    doc_id slice, re-derived in DuckDB with the window/island SQL."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.dedup import contaminated_spans
    from restructure_hdfs_topic_spark.sources.tables import load_table

    n = 5
    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in contaminated_spans(docs, bench, "doc_id", "text", n=n).collect()
    }
    con = _duck()
    want = set(
        map(
            tuple,
            con.execute(
                f"""WITH toks AS (
                        SELECT doc_id,
                               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
                        FROM documents WHERE trim(text) <> ''
                    ), w AS (
                        SELECT doc_id, u.i - 1 AS idx,
                               array_to_string(t[u.i:u.i+{n - 1}], ' ') AS win
                        FROM toks, LATERAL unnest(generate_series(1, len(t) - {n - 1})) u(i)
                    ), bench AS (
                        SELECT DISTINCT win FROM w WHERE doc_id % 97 = 0
                    ), hits AS (
                        SELECT w.doc_id, w.idx FROM w JOIN bench USING (win)
                    ), isl AS (
                        SELECT doc_id, idx,
                               CASE WHEN idx - lag(idx) OVER (
                                   PARTITION BY doc_id ORDER BY idx) <= {n}
                               THEN 0 ELSE 1 END AS brk
                        FROM hits
                    ), g AS (
                        SELECT doc_id, idx, SUM(brk) OVER (
                            PARTITION BY doc_id ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS grp
                        FROM isl
                    )
                    SELECT doc_id, MIN(idx) AS span_start,
                           MAX(idx) + {n} AS span_end, COUNT(*) AS n_windows
                    FROM g GROUP BY doc_id, grp"""
            ).fetchall(),
        )
    )
    assert got == want and got


# --- holdout_split -----------------------------------------------------------


def test_holdout_split_duckdb_cross_check(spark):
    """Every row gets exactly one split; the assignment equals DuckDB's
    evaluation of the same cumulative thresholds; growth-stability: the
    split of an id is unchanged when the corpus halves."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.sampling import (
        KNUTH,
        MOD,
        holdout_split,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    fr = {"train": 0.9, "valid": 0.05, "test": 0.05}
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    got = {
        (r["doc_id"], r["split"])
        for r in holdout_split(docs, "doc_id", fr).collect()
    }
    e1 = int(0.9 * MOD)
    e2 = int(0.95 * MOD)
    con = _duck()
    want = set(
        map(
            tuple,
            con.execute(
                f"""SELECT doc_id,
                           CASE WHEN (doc_id * {KNUTH}) % {MOD} < {e1} THEN 'train'
                                WHEN (doc_id * {KNUTH}) % {MOD} < {e2} THEN 'valid'
                                ELSE 'test' END AS split
                    FROM documents"""
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) == docs.count()  # exactly one split per row

    halved = holdout_split(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", fr)
    sub = {(r["doc_id"], r["split"]) for r in halved.collect()}
    assert sub <= got

    with pytest.raises(ValueError):
        holdout_split(docs, "doc_id", {"train": 0.5, "valid": 0.1})


# --- unit-granularity span dedup (C4 three-sentence rule) --------------------


def test_duplicated_unit_spans_semantics(spark):
    from restructure_hdfs_topic_spark.operators.dedup import (
        duplicated_unit_spans,
        strip_duplicated_unit_spans,
    )

    block = "alpha one\nbeta two\ngamma three"
    df = spark.createDataFrame(
        [
            (1, f"intro A\n{block}\noutro A"),
            (2, f"intro B\n{block}\noutro B"),
            (3, "totally\nunrelated\nlines\nhere"),
            (4, f"{block}\nmiddle\n{block}"),  # within-doc repeat
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_unit_spans(df, "doc_id", "text", sep="\n", k=3).collect()
    }
    assert (1, 1, 4) in spans and (2, 1, 4) in spans
    assert (4, 0, 3) in spans and (4, 4, 7) in spans
    assert not any(d == 3 for d, _, _ in spans)

    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_unit_spans(df, "doc_id", "text", sep="\n", k=3).collect()
    }
    assert out[1] == "intro A\noutro A"
    assert out[2] == "intro B\noutro B"
    assert out[3] == "totally\nunrelated\nlines\nhere"  # untouched bytes
    assert out[4] == "middle"


def test_duplicated_unit_spans_duckdb_cross_check(spark):
    """Unit-window span table over multi-line derivations of the documents
    table equals DuckDB's island SQL (trim-insensitive matching)."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.dedup import duplicated_unit_spans
    from restructure_hdfs_topic_spark.sources.tables import load_table

    k = 3
    # Derive multi-line docs: split each text into words-as-lines so
    # cross-document duplication actually occurs at sf0.01.
    docs = (
        load_table(spark, SF_DIR, "documents")
        .withColumn("text", F.regexp_replace("text", " ", "\n"))
        .select("doc_id", "text")
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicated_unit_spans(docs, "doc_id", "text", sep="\n", k=k).collect()
    }
    con = _duck()
    want = set(
        map(
            tuple,
            con.execute(
                f"""WITH d AS (
                        SELECT doc_id, replace(text, ' ', e'\n') AS text
                        FROM documents
                    ), u AS (
                        SELECT doc_id,
                               list_transform(string_split(text, e'\n'),
                                              x -> trim(x)) AS units
                        FROM d
                    ), w AS (
                        SELECT doc_id, s.i - 1 AS idx,
                               array_to_string(units[s.i:s.i+{k - 1}], chr(30)) AS win
                        FROM u, LATERAL unnest(
                            generate_series(1, len(units) - {k - 1})) s(i)
                    ), dup AS (
                        SELECT doc_id, idx,
                               COUNT(*) OVER (PARTITION BY win) AS cnt
                        FROM w
                    ), isl AS (
                        SELECT doc_id, idx,
                               CASE WHEN idx - lag(idx) OVER (
                                   PARTITION BY doc_id ORDER BY idx) <= {k}
                               THEN 0 ELSE 1 END AS brk
                        FROM dup WHERE cnt > 1
                    ), g AS (
                        SELECT doc_id, idx, SUM(brk) OVER (
                            PARTITION BY doc_id ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS grp
                        FROM isl
                    )
                    SELECT doc_id, MIN(idx) AS span_start,
                           MAX(idx) + {k} AS span_end, COUNT(*) AS n_windows
                    FROM g GROUP BY doc_id, grp"""
            ).fetchall(),
        )
    )
    assert got == want and got


# --- Hadoop-FS streaming zip repack ------------------------------------------


def test_zip_repack_streams_through_hadoop_fs(spark, tmp_path, viewfs):
    """A URI target repacks through its store: a viewfs:// mount through
    the real Hadoop FileSystem API (FSDataOutputStream sink in
    data-descriptor mode, chunked reads — the py4j stream plumbing used
    for hdfs:///s3a://), a file:// one through local files.  Round-trip:
    decompressed bytes equal the originals, sources deleted, zipfile
    accepts the written archive."""
    import os

    from restructure_hdfs_topic_spark.compression import (
        read_zip_entry,
        repack_to_zip,
    )

    for name, uri in (("view", viewfs), ("out", lambda d: f"file://{d}")):
        root = tmp_path / name
        (root / "topic=a").mkdir(parents=True)
        big = "x,y\n" + "\n".join(f"{i},{i * i}" for i in range(50_000))
        (root / "topic=a" / "part-0001.csv").write_text(big)
        (root / "part-0002.csv").write_text("a,b\n1,2\n")
        (root / "_SUCCESS").write_text("")  # marker: must survive untouched

        created = repack_to_zip(uri(root), extensions=(".csv",), spark=spark)
        assert len(created) == 2 and all(c.endswith(".csv.zip") for c in created)
        assert not (root / "topic=a" / "part-0001.csv").exists()
        assert (root / "_SUCCESS").exists()

        by_name = {os.path.basename(c): c for c in created}
        got_big = read_zip_entry(by_name["part-0001.csv.zip"], spark=spark).decode()
        assert got_big == big
        # The same archive also opens via the plain local reader (an on-disk
        # zip is an on-disk zip — data-descriptor layout is standard).
        local = str(root / "topic=a" / "part-0001.csv.zip")
        assert read_zip_entry(local).decode() == big
        got_small = read_zip_entry(by_name["part-0002.csv.zip"], spark=spark).decode()
        assert got_small == "a,b\n1,2\n"

    with pytest.raises(ValueError):
        repack_to_zip("hdfs://nowhere/x", spark=None)


# --- URL canonicalization + dedup ---------------------------------------------


def test_canonical_url_semantics(spark):
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import canonical_url

    cases = [
        ("http://WWW.Example.com/a/", "https://example.com/a"),
        ("https://example.com:443/a?utm_source=x&id=2", "https://example.com/a?id=2"),
        ("https://example.com/a?id=2&utm_campaign=y#frag", "https://example.com/a?id=2"),
        ("https://example.com/a?utm_source=x", "https://example.com/a"),
        ("HTTP://example.com:80/", "https://example.com"),
        ("https://example.com/a?fbclid=abc&b=1", "https://example.com/a?b=1"),
        # Mid-query tracking param: the kept params around it must join
        # back with '&', never a second '?' (review regression: a blanket
        # '?' replacement split one page into two canonical keys).
        ("http://a.com/p?id=3&utm_source=x&b=2", "https://a.com/p?id=3&b=2"),
        ("http://a.com/p?utm_a=1&utm_b=2&c=3", "https://a.com/p?c=3"),
        ("not a url", "not a url"),
        # ADVICE r7: a '/' ending a query VALUE is data — these two must
        # stay distinct (the old unconditional trailing-slash strip
        # canonicalized them identically).
        ("https://a.com/x?next=/home/", "https://a.com/x?next=/home/"),
        ("https://a.com/x?next=/home", "https://a.com/x?next=/home"),
        # ADVICE r7: bare 'ref' is a content param on real sites — kept
        # by default (opt-in strip via extra_tracking=("ref",)).
        ("https://github.com/o/r/tree?ref=main", "https://github.com/o/r/tree?ref=main"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, u string")
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
    # Opt-in ref strip for corpora where ref IS a referrer tag.
    one = spark.createDataFrame(
        [("https://news.site.com/story?ref=twitter",)], "u string"
    )
    got_ref = one.select(
        canonical_url(F.col("u"), extra_tracking=("ref",)).alias("c")
    ).collect()[0]["c"]
    assert got_ref == "https://news.site.com/story"


def test_dedup_by_url(spark):
    from restructure_hdfs_topic_spark.operators.dedup import dedup_by_url

    df = spark.createDataFrame(
        [
            (1, "http://www.site.com/page?utm_source=a"),
            (2, "https://site.com/page"),
            (3, "https://site.com/other"),
            (4, "https://site.com/page#sect"),
        ],
        "doc_id long, url string",
    )
    assert sorted(r["doc_id"] for r in dedup_by_url(df, "doc_id", "url").collect()) == [1, 3]
    assert sorted(
        r["doc_id"] for r in dedup_by_url(df, "doc_id", "url", keep="max").collect()
    ) == [3, 4]
    with pytest.raises(ValueError):
        dedup_by_url(df, "doc_id", "url", keep="first")


def test_canonical_url_duckdb_cross_check(spark):
    """Canonicalization over synthesized URLs from the documents table
    equals an independent DuckDB RE2 chain (patterns are RE2-portable;
    only the host-lowercase reassembly differs in spelling)."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import canonical_url
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://WWW.Host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".org:80/p/"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit("/?utm_source=x&q="),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("#frag"),
        ).alias("url"),
    )
    got = {
        (r["doc_id"], r["c"])
        for r in docs.select("doc_id", canonical_url(F.col("url")).alias("c")).collect()
    }
    con = _duck()
    want = set(
        map(
            tuple,
            con.execute(
                r"""WITH u0 AS (
                        SELECT doc_id,
                               'http://WWW.Host' || (doc_id % 7) || '.org:80/p/' ||
                               (doc_id % 13) || '/?utm_source=x&q=' || (doc_id % 3) ||
                               '#frag' AS u
                        FROM documents
                    ), s1 AS (
                        SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM u0
                    ), s2 AS (
                        SELECT doc_id, regexp_replace(u,
                            '&(utm_[A-Za-z]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g') AS u
                        FROM s1
                    ), s3 AS (
                        SELECT doc_id,
                               regexp_replace(regexp_replace(regexp_replace(u,
                                   '\?(utm_[A-Za-z]+|fbclid|gclid|msclkid)=[^&#]*&', '?'),
                                   '\?(utm_[A-Za-z]+|fbclid|gclid|msclkid)=[^&#]*$', ''),
                                   '[?&]+$', '') AS u
                        FROM s2
                    ), parts AS (
                        SELECT doc_id, u,
                               regexp_replace(regexp_replace(
                                   lower(regexp_extract(u, '^(?i)https?://([^/?#]+)', 1)),
                                   '^www\.', ''), ':(80|443)$', '') AS host,
                               regexp_replace(regexp_replace(u,
                                   '^(?i)https?://[^/?#]*', ''), '^([^?]*)/$', '\1') AS rest
                        FROM s3
                    )
                    SELECT doc_id,
                           CASE WHEN host <> '' THEN 'https://' || host || rest
                                ELSE u END AS c
                    FROM parts"""
            ).fetchall(),
        )
    )
    assert got == want and got


# --- BPE artifact round-trip ---------------------------------------------------


# --- review regressions -------------------------------------------------------


def test_decontaminate_leading_whitespace_alignment(spark):
    """F.trim strips only SPACES: a doc starting with a tab must still
    strip exactly the contaminated tokens (review regression: tokens()'s
    leading '' token shifted every span index by one vs the rebuild)."""
    from restructure_hdfs_topic_spark.operators.dedup import decontaminate_spans

    corpus = spark.createDataFrame(
        [(1, "\tthe quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "quick brown fox")], "doc_id long, text string"
    )
    out = decontaminate_spans(corpus, bench, "doc_id", "text", n=3).collect()
    assert out[0]["text"] == "the jumps over the lazy dog today"


def test_dedup_by_url_null_urls_pass_through(spark):
    """NULL urls must NOT dedup against each other (review regression:
    xxhash64(NULL) is one constant, collapsing every url-less doc)."""
    from restructure_hdfs_topic_spark.operators.dedup import dedup_by_url

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "https://site.com/x"), (4, "https://site.com/x")],
        "doc_id long, url string",
    )
    assert sorted(r["doc_id"] for r in dedup_by_url(df, "doc_id", "url").collect()) == [1, 2, 3]


def test_perplexity_band_null_stratum_kept(spark):
    """A NULL stratum gets its own band instead of vanishing (review
    regression: plain == is never true for NULL)."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import tokens
    from restructure_hdfs_topic_spark.operators.lm import perplexity_band
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "lang", F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("lang"))
    )
    out = perplexity_band(
        docs, tokens(F.col("text")), "doc_id", lo_q=0.0, hi_q=1.0, strata_col="lang"
    )
    # Full band [0, 1]: every scored doc survives, INCLUDING null-lang ones.
    kept_null = out.filter(F.col("lang").isNull()).count()
    assert kept_null > 0
    assert kept_null == docs.filter(
        F.col("lang").isNull() & (F.trim("text") != "")
    ).count()


def test_materialize_packs_eos(spark):
    """eos_token appends one separator per non-empty document: the packed
    stream equals the no-eos stream with '<eos>' inserted at each doc
    boundary, budget sizing holds, and empty docs contribute nothing."""
    from restructure_hdfs_topic_spark.operators.packing import materialize_packs

    rows = [(i, f"w{i}a w{i}b w{i}c") for i in range(40)] + [(99, ""), (98, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packs = {
        r["pack_id"]: r["tokens"]
        for r in materialize_packs(df, budget=8, eos_token="<eos>").collect()
    }
    plain = {
        r["pack_id"]: r["tokens"]
        for r in materialize_packs(df, budget=8).collect()
    }
    # Stream equivalence per bucket: strip the separators back out and the
    # concatenation order of the remaining tokens is identical.
    def bucket_stream(pk, with_eos):
        out = []
        for pid in sorted(pk):
            out.extend(pk[pid])
        return [t for t in out if t != "<eos>"] if with_eos else out

    by_bucket_eos: dict[int, dict] = {}
    by_bucket_plain: dict[int, dict] = {}
    for pid, tk in packs.items():
        by_bucket_eos.setdefault(pid // 2**31, {})[pid] = tk
    for pid, tk in plain.items():
        by_bucket_plain.setdefault(pid // 2**31, {})[pid] = tk
    assert set(by_bucket_eos) == set(by_bucket_plain)
    total_eos = 0
    for b in by_bucket_eos:
        assert bucket_stream(by_bucket_eos[b], True) == bucket_stream(
            by_bucket_plain[b], False
        )
        total_eos += sum(tk.count("<eos>") for tk in by_bucket_eos[b].values())
    assert total_eos == 40  # one per non-empty doc, none for ''/NULL

    # Every doc's contribution ends with <eos>: each 4-token group in the
    # eos stream is (w_a, w_b, w_c, <eos>).
    for b, pk in by_bucket_eos.items():
        stream = []
        for pid in sorted(pk):
            stream.extend(pk[pid])
        assert len(stream) % 4 == 0
        for j in range(3, len(stream), 4):
            assert stream[j] == "<eos>"
    # Budget sizing: every pack except possibly a bucket's last is 8 long.
    for b, pk in by_bucket_eos.items():
        pids = sorted(pk)
        for pid in pids[:-1]:
            assert len(pk[pid]) == 8
