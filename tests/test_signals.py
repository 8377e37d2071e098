"""Quality-signal annotation (RedPajama-v2 shape): every signal column
equals its individually-computed value, the gates applied over the
annotated frame equal the gates applied directly, and the plan is one
shuffle-free scan."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata {SF_DIR} missing"
)


def _docs(spark):
    from restructure_hdfs_topic_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


def _lang_id(text):
    """Reference model of the marker-argmax language: a running best over
    the per-language marker scores; ties break to the smallest language
    code, zero hits give 'und'."""
    from restructure_hdfs_topic_spark.functions.text import lang_scores

    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang, score in sorted(lang_scores(text), key=lambda p: p[0], reverse=True):
        take = (score > F.lit(0)) & (score >= best_score)
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


def test_signals_match_component_functions(spark):
    from restructure_hdfs_topic_spark.functions.text import (
        gopher_metrics,
        gopher_repetition_metrics,
        poly_hash,
        quality_score,
        token_count,
    )
    from restructure_hdfs_topic_spark.plans.signals import (
        annotate_quality_signals,
    )

    docs = _docs(spark)
    out = annotate_quality_signals(docs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()

    # Spot-equality against the standalone functions (one combined
    # reference projection — the annotation must not drift from them).
    ref_cols = [
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality_score"),
        _lang_id(F.col("text")).alias("lang_id"),
        poly_hash(F.col("text")).alias("fingerprint"),
        *[c.alias(n) for n, c in gopher_metrics(F.col("text"))],
    ]
    ref = {r["doc_id"]: r for r in docs.select("doc_id", *ref_cols).collect()}
    for did, r in ref.items():
        for name in r.asDict():
            if name == "doc_id":
                continue
            assert rows[did][name] == r[name], (did, name)
    rep_ref = {
        r["doc_id"]: r
        for r in gopher_repetition_metrics(docs).drop("text").collect()
    }
    for did, r in rep_ref.items():
        for name in r.asDict():
            if name == "doc_id":
                continue
            assert rows[did][name] == r[name], (did, name)

    # Gates over the annotated frame == gates applied directly.
    from restructure_hdfs_topic_spark.functions.text import (
        gopher_passes,
        gopher_repetition_passes,
    )

    met = gopher_metrics(F.col("text"))
    direct = {
        r["doc_id"]
        for r in docs.select("doc_id", *[c.alias(n) for n, c in met])
        .filter(gopher_passes(*[F.col(n) for n, _ in met]))
        .collect()
    }
    via = {
        r["doc_id"]
        for r in out.filter(
            gopher_passes(
                *[F.col(n) for n, _ in met]
            ) & gopher_repetition_passes()
        ).collect()
    }
    assert via <= direct
    # Partitioning independence.
    again = {
        r["doc_id"]: tuple(r)
        for r in annotate_quality_signals(docs.repartition(7)).collect()
    }
    assert again == {k: tuple(v) for k, v in rows.items()}


def test_signals_plan_is_shuffle_free(spark):
    from restructure_hdfs_topic_spark.plans.signals import (
        annotate_quality_signals,
    )

    out = annotate_quality_signals(_docs(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _keep(docs, spec):
    """Rows where every named signal lies in its inclusive ``(lo, hi)``
    bounds (``None`` = open) or equals its ``bool``; a NULL signal fails."""
    cond = F.lit(True)
    for name, want in spec.items():
        c = F.col(name)
        if isinstance(want, bool):
            cond = cond & (c == F.lit(want))
        else:
            lo, hi = want
            if lo is not None:
                cond = cond & (c >= F.lit(lo))
            if hi is not None:
                cond = cond & (c <= F.lit(hi))
    return docs.filter(cond)


def test_filter_by_signals_recipes_equal_gates(spark):
    """VERDICT r9 #6 — annotate-once/filter-many: thresholds over the
    annotated signal columns select EXACTLY the documents the gates
    select.  The Gopher bounds (both table-A1 halves) == gopher_passes ∧
    gopher_repetition_passes; ``c4_page_keep`` == c4_clean's survivor
    set (page drops at default thresholds, NULL-text-passes convention
    included — edge rows planted for every rule)."""
    from restructure_hdfs_topic_spark.functions.text import (
        GOPHER_REPETITION_THRESHOLDS,
        c4_clean,
        gopher_metrics,
        gopher_passes,
        gopher_repetition_metrics,
        gopher_repetition_passes,
    )
    from restructure_hdfs_topic_spark.plans.signals import annotate_quality_signals

    gopher_spec = {
        "n_words": (50, 100_000),
        "mean_word_len": (3.0, 10.0),
        "symbol_word_ratio": (None, 0.1),
        "bullet_line_ratio": (None, 0.9),
        "ellipsis_line_ratio": (None, 0.3),
        "alpha_word_ratio": (0.8, None),
        "n_stopword_kinds": (2, None),
        **{name: (None, limit) for name, limit in GOPHER_REPETITION_THRESHOLDS.items()},
    }

    edge = spark.createDataFrame(
        [
            (10_000_001, None),  # NULL text: C4 keeps, Gopher drops
            (10_000_002, ""),
            (10_000_003, "Lorem ipsum dolor sit amet filler. " * 12),
            (10_000_004, "Braces { appear } in prose sentences here. " * 12),
            (10_000_005, "One. Two. Three. Four."),  # <5 kept sentences
            (10_000_006, "no terminal punctuation on this line " * 12),
            # Multi-line pages exposing the F.filter(col, c4_line_keep)
            # index-as-min_words bug in BOTH directions: 2-word/2-sentence
            # fragments would be kept at low indices (bare binding uses
            # the line number as min_words) and push the page over 5
            # sentences; a 4-word line at index 7 (and 5-word lines
            # after) would wrongly FAIL and drop the page.
            (10_000_007, "Hi. Yo.\n" * 6),
            (
                10_000_008,
                ("x.\n" * 7)
                + "Four words right here.\n"
                + "Five more words land here.\n" * 5,
            ),
        ],
        "doc_id long, text string",
    )
    docs = _docs(spark).union(edge)
    annotated = annotate_quality_signals(docs)

    # Gopher (both table-A1 halves).
    met = gopher_metrics(F.col("text"))
    want_gopher = {
        r["doc_id"]
        for r in gopher_repetition_metrics(
            docs.select("doc_id", "text", *[c.alias(n) for n, c in met])
        )
        .filter(
            gopher_passes(*[F.col(n) for n, _ in met])
            & gopher_repetition_passes()
        )
        .collect()
    }
    got_gopher = {
        r["doc_id"]
        for r in _keep(annotated, gopher_spec).collect()
    }
    assert got_gopher == want_gopher and want_gopher

    # C4 page drops (the line-level rewrite is a transformation, so the
    # witness compares SURVIVOR ID SETS, which the page rules decide).
    want_c4 = {r["doc_id"] for r in c4_clean(docs).collect()}
    got_c4 = {
        r["doc_id"]
        for r in _keep(annotated, {"c4_page_keep": True}).collect()
    }
    assert got_c4 == want_c4 and want_c4
    # The planted edges land on the intended sides.
    assert 10_000_001 in got_c4 and 10_000_001 not in got_gopher
    assert {10_000_003, 10_000_004, 10_000_005, 10_000_006} & got_c4 == set()
    assert 10_000_007 not in got_c4  # index-as-min_words would keep it
    assert 10_000_008 in got_c4  # index-as-min_words would drop it
