"""Gopher/MassiveText repetition filters (Rae et al. 2021, table A1):
exact pure-Python re-derivation of all 13 fractions over synthetic edge
cases AND the documents table, partitioning independence, gate
semantics, and the curate_corpus composition."""

import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} missing"
)

METRICS = [
    "dup_line_frac",
    "dup_para_frac",
    "dup_line_char_frac",
    "dup_para_char_frac",
    "top_2gram_char_frac",
    "top_3gram_char_frac",
    "top_4gram_char_frac",
    "dup_5gram_char_frac",
    "dup_6gram_char_frac",
    "dup_7gram_char_frac",
    "dup_8gram_char_frac",
    "dup_9gram_char_frac",
    "dup_10gram_char_frac",
]


def _model(text):
    """Exact Python model of gopher_repetition_metrics — same splits,
    same denominators, same 6-decimal rounding."""
    if text is None or text == "":
        return {m: 0.0 for m in METRICS}

    def dup_stats(items):
        seen, nd, ch = set(), 0, 0
        for it in items:
            if it in seen:
                nd += 1
                ch += len(it)
            else:
                seen.add(it)
        return nd, ch

    def frac(num, den):
        # HALF_UP like F.round (Python round() is half-even: 0.1015625
        # would round to .101562 instead of Spark's .101563).
        import math

        return math.floor(num / den * 1e6 + 0.5) / 1e6 if den > 0 else 0.0

    # "Non-blank" mirrors the engine's Java \S (ASCII whitespace set) —
    # Python str.strip() would also strip unicode whitespace like NBSP.
    blank = re.compile(r"[^ \t\n\x0b\f\r]")
    lines = [l for l in text.split("\n") if blank.search(l)]
    paras = [p for p in re.split(r"\n{2,}", text) if blank.search(p)]
    nd_l, ch_l = dup_stats(lines)
    nd_p, ch_p = dup_stats(paras)
    out = {
        "dup_line_frac": frac(nd_l, len(lines)),
        "dup_para_frac": frac(nd_p, len(paras)),
        "dup_line_char_frac": frac(ch_l, sum(map(len, lines))),
        "dup_para_char_frac": frac(ch_p, sum(map(len, paras))),
    }
    # Mirror the kernel tokenizer EXACTLY: strip the space character
    # only, lowercase, split on ASCII whitespace (Java's \s — a Unicode
    # \s+ would additionally split on NBSP etc. and diverge from every
    # JVM tokens() consumer).
    stripped = text.strip(" ").lower()
    words = (
        re.split(r"[ \t\n\x0b\f\r]+", stripped) if stripped else []
    )
    tlen = len(text)

    # N-gram identity mirrors the engine's packed (rolling-hash, len)
    # int64 key (_packed_grams) — gram strings are never built there.
    HASH_MOD, HASH_BASE, MULT, PACK = 2_147_483_647, 131, 8191, 1 << 21
    th = []
    for w in words:
        acc = 0
        for ch in w:
            acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
        th.append(acc)
    tl = [len(w) for w in words]

    def packed(n):
        out_keys = []
        for i in range(len(words) - n + 1):
            h = 0
            for x in th[i : i + n]:
                h = (h * MULT + x) % HASH_MOD
            ln = min(sum(tl[i : i + n]) + n - 1, PACK - 1)
            out_keys.append(h * PACK + ln)
        return out_keys

    for n in (2, 3, 4):
        c = Counter(packed(n))
        if c:
            # Single MOST FREQUENT gram (table A1); ties -> longer gram,
            # then larger packed key — mirrors the kernel's lexsort.
            k, cnt = max(c.items(), key=lambda kv: (kv[1], kv[0] % PACK, kv[0]))
            top = cnt * (k % PACK)
        else:
            top = 0
        out[f"top_{n}gram_char_frac"] = frac(top, tlen)
    for n in range(5, 11):
        c = Counter(packed(n))
        dup = sum((cnt - 1) * (k % PACK) for k, cnt in c.items())
        out[f"dup_{n}gram_char_frac"] = frac(dup, tlen)
    return out


def _edge_docs(spark):
    rows = [
        (1, "One clean line here.\nAnother different line now.\nThird one."),
        (2, "repeat me\nrepeat me\nrepeat me\nunique line"),
        (3, "para one text\n\npara one text\n\n\npara two text"),
        (4, "spam spam spam spam spam spam spam spam spam spam"),
        (5, None),
        (6, ""),
        (7, "  \n \n  "),  # whitespace-only: no non-blank lines/paras
        (8, "a b c d e f g h i j " * 5),  # exact 10-gram repeats
        (9, "Tab\tand   multi  space\nTab\tand   multi  space"),
        (10, "x\ny\nx\ny\nx\nz\n\nx\ny\nx"),
        # NBSP is NOT a token separator (Java ASCII \s): 'buy\xa0now' is
        # ONE repeated token, not two.
        (11, "buy\xa0now buy\xa0now buy\xa0now buy\xa0now here"),
        # Rarer-but-longer 2-gram: under the old max(count*len) formula
        # "supercalifragilisticexpialidocious antidisestablishmentarianism"
        # (count 2, len 64) would beat "aa bb" (count 3, len 5); the
        # table-A1 rule selects the MOST FREQUENT gram.
        (
            12,
            "aa bb aa bb aa bb "
            "supercalifragilisticexpialidocious antidisestablishmentarianism "
            "x supercalifragilisticexpialidocious antidisestablishmentarianism",
        ),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collect_metrics(df):
    from restructure_hdfs_topic_spark.functions.text import (
        gopher_repetition_metrics,
    )

    return {
        r["doc_id"]: {m: r[m] for m in METRICS}
        for r in gopher_repetition_metrics(df).collect()
    }


def test_repetition_matches_python_model_on_edges(spark):
    docs = _edge_docs(spark)
    got = _collect_metrics(docs)
    for r in docs.collect():
        assert got[r["doc_id"]] == _model(r["text"]), r["doc_id"]
    # Spot semantics: planted repeats register where they should.
    assert got[2]["dup_line_frac"] == 0.5
    assert got[3]["dup_para_frac"] > 0
    assert got[4]["dup_5gram_char_frac"] > 0.15  # would be gated
    assert got[8]["dup_10gram_char_frac"] > 0.10
    # Most-frequent-gram rule (ADVICE r9): "aa bb" (count 3, covers 15
    # chars) is selected over the longer count-2 gram (2·63=126 chars);
    # the old max(count·len) formula read ~0.857 here and over-gated.
    assert got[12]["top_2gram_char_frac"] == 0.102041  # floor(15/147·1e6+.5)/1e6
    # Whitespace-only text: no non-blank lines/paras -> dup metrics 0
    # (the engine tokenizer's empty-token quirk can leave a tiny
    # top-gram coverage; the loop above pins it against the model).
    assert all(got[7][m] == 0.0 for m in METRICS if m.startswith("dup_"))


def test_repetition_matches_python_model_on_documents(spark):
    from restructure_hdfs_topic_spark.functions.text import (
        gopher_repetition_metrics,
    )
    from restructure_hdfs_topic_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    got = _collect_metrics(docs)
    want = {r["doc_id"]: _model(r["text"]) for r in docs.collect()}
    assert got == want
    # Partitioning independence.
    got7 = _collect_metrics(docs.repartition(7))
    assert got7 == got
    # Input columns ride through untouched (append contract).
    cols = gopher_repetition_metrics(docs).columns
    assert cols == ["doc_id", "text"] + METRICS


def test_repetition_gate_and_thresholds(spark):
    from restructure_hdfs_topic_spark.functions.text import (
        GOPHER_REPETITION_THRESHOLDS,
        gopher_repetition_metrics,
        gopher_repetition_passes,
    )

    docs = _edge_docs(spark)
    scored = gopher_repetition_metrics(docs)
    kept = {r["doc_id"] for r in scored.filter(gopher_repetition_passes()).collect()}
    # The exact Python gate agrees row-for-row.
    want = {
        r["doc_id"]
        for r in docs.collect()
        if all(
            _model(r["text"])[m] <= th
            for m, th in GOPHER_REPETITION_THRESHOLDS.items()
        )
    }
    assert kept == want
    # NULL/empty/whitespace text passes (keep-NULL convention).
    assert {5, 6, 7} <= kept
    # The heavy repeaters drop.
    assert {2, 4, 8}.isdisjoint(kept)
    # Per-signal override loosens exactly that signal.
    loose = dict.fromkeys(GOPHER_REPETITION_THRESHOLDS, 1.0)
    kept_loose = {
        r["doc_id"]
        for r in scored.filter(
            gopher_repetition_passes(thresholds=loose)
        ).collect()
    }
    assert kept < kept_loose


def test_curate_corpus_repetition_stage(spark):
    from restructure_hdfs_topic_spark.plans.curation import (
        curate_corpus,
        curation_stage_counts,
    )
    from restructure_hdfs_topic_spark.sources.tables import (
        configure,
        load_table,
    )

    configure(spark)
    docs = load_table(
        spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "documents",
    )
    counts = curation_stage_counts(docs, repetition_filters=True)
    assert "after_repetition_gate" in counts
    assert 0 < counts["after_repetition_gate"] <= counts["after_quality_gate"]
    # Stage absent when not requested.
    assert "after_repetition_gate" not in curation_stage_counts(docs)
    # Manifest row count tracks the stage-counts pipeline.
    manifest = curate_corpus(docs, repetition_filters=True)
    assert manifest.count() == counts["after_near_dup_drop"]


def test_curate_corpus_c4_stage(spark):
    """c4_rules composes C4 cleaning between the language gate and the
    Gopher gate; mirrored in curation_stage_counts."""
    import os

    from restructure_hdfs_topic_spark.plans.curation import (
        curation_stage_counts,
    )
    from restructure_hdfs_topic_spark.sources.tables import (
        configure,
        load_table,
    )

    configure(spark)
    docs = load_table(
        spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "documents",
    )
    # The raw synthetic text has no terminal punctuation: C4's line keep
    # legitimately empties every page, so sentence-ify first (the same
    # prep the c4_clean extras query uses).
    from pyspark.sql import functions as F

    prepped = docs.withColumn(
        "text",
        F.concat(
            F.regexp_replace("text", r"\b(table|row|line|query)\b", "$1."),
            F.lit("."),
        ),
    )
    counts = curation_stage_counts(prepped, c4_rules=True)
    assert "after_c4_rules" in counts
    assert 0 < counts["after_c4_rules"] <= counts["input"]
    assert counts["after_quality_gate"] <= counts["after_c4_rules"]
    assert "after_c4_rules" not in curation_stage_counts(docs)
