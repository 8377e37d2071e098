"""Quality-signal ANNOTATION — the RedPajama-v2 product shape (Weber et
al. 2024, NeurIPS D&B — public): instead of baking one filtering recipe
into the corpus, ship EVERY per-document quality signal as columns and
let each training run choose its own thresholds.  One wide pass
composes the engine's individually-tested signal families:

- Gopher word-level quality metrics (``gopher_metrics``) and the 13
  repetition fractions (``gopher_repetition_metrics``) — Rae et al.
  2021 table A1, both halves;
- C4 page flags (``has_curly_brace``, ``has_lorem_ipsum``,
  ``has_javascript`` — Raffel et al. 2020 §2.2's page-level drops,
  surfaced as booleans rather than applied);
- basic text statistics (token/BPE-token counts, punctuation and
  stopword ratios, the composite ``quality_score``);
- the marker-argmax ``lang_id`` heuristic and the Rabin-Karp document
  ``fingerprint``.

Scale shape: the word/statistic signals are JVM codegen projections
over shared staged splits (token array projected ONCE — the engine's
measured CollapseProject discipline); the 13 n-gram repetition
fractions ride ``gopher_repetition_metrics``' one Arrow ``mapInPandas``
kernel crossing.  No shuffle anywhere, so annotation cost is one scan
(plus that single Python crossing) regardless of how many signals ride
along.  Signal-equality witness + partitioning independence:
tests/test_signals.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.functions.text import (
    bpe_token_count,
    c4_line_keep,
    gopher_metrics_from,
    gopher_repetition_metrics,
    lang_id_from_scores,
    lang_scores_from,
    poly_hash,
    punct_ratio,
    quality_score_from,
    stopword_ratio_from,
    token_count_from,
    tokens,
)


def annotate_quality_signals(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Input columns + every per-document quality signal the engine
    implements, as one lazy single-scan plan.  Filtering stays the
    caller's policy: ``df.filter(gopher_passes(...))`` /
    ``gopher_repetition_passes()`` / any custom threshold over the
    signal columns.

    Staging discipline: the token array projects ONCE and the
    token-consuming signals use the ``*_from`` variants off the column
    reference — re-inlining ``tokens(text)`` into each signal would
    re-split the text per signal (the engine's measured ~8× trap,
    text.py's own reason the ``_from`` family exists).  The
    per-language marker scores also stage as real columns before the
    argmax CASE chain (``lang_id_from_scores``' documented contract).

    The three stages' column lists are CONSTANT expression trees given
    (input columns, text_col) — several thousand py4j round-trips to
    rebuild — so they are memoized per that key and reused across calls
    (r13 construction-cost profile; unresolved Columns are reusable
    across DataFrames within one JVM gateway)."""
    from restructure_hdfs_topic_spark.session import session_epoch

    base = docs.columns
    # Gateway epoch in the key (ADVICE r13 #1): the memoized Columns are
    # py4j handles — valid across SparkSessions, dead if the JVM gateway
    # is ever replaced in-process.
    memo_key = (session_epoch(), tuple(base), text_col)
    memo = _SIGNAL_COLS_MEMO.get(memo_key)
    if memo is not None:
        s1, s2, s3 = memo
        return gopher_repetition_metrics(
            docs.select(*s1).select(*s2).select(*s3), text_col
        )
    t = F.col(text_col)
    low = F.lower(t)
    stage1_cols = [
        *base,
        tokens(t).alias("__toks"),
        F.split(t, "\n").alias("__lines"),
        punct_ratio(t).alias("punct_ratio"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        poly_hash(t).alias("fingerprint"),
        (low.contains("{") | low.contains("}")).alias("has_curly_brace"),
        low.contains("lorem ipsum").alias("has_lorem_ipsum"),
        low.contains("javascript").alias("has_javascript"),
        t.alias("__t"),
    ]
    stage1 = docs.select(*stage1_cols)
    toks = F.col("__toks")
    lang_scores = lang_scores_from(toks)
    score_names = [f"__lang_{code}" for code, _ in lang_scores]
    # Gopher metrics from the STAGED arrays (r10): gopher_metrics(t)
    # carries its own split inside each metric — four token + three
    # line splits per row; no filter sits between this projection
    # and the consumer, so pushdown cannot re-inline them.  Built once:
    # stage3 re-selects these columns BY NAME from this list.
    gopher_staged = gopher_metrics_from(toks, F.col("__lines"), F.col("__t"))
    stage2_cols = [
        "*",
        token_count_from(toks).alias("n_tokens"),
        stopword_ratio_from(toks).alias("stopword_ratio"),
        *[c.alias(n) for n, c in gopher_staged],
        # C4's page rules judge the text RETAINED by the line keep, not
        # the raw page — stage the kept text once (the raw has_* flags
        # above stay as-is for consumers tuning on the full page).
        # NB: the lambda wrapper is load-bearing — F.filter(col, f) binds
        # f's SECOND parameter to the element INDEX, so passing the
        # 2-arg c4_line_keep bare would silently use the line number as
        # min_words.
        F.lower(
            F.array_join(
                F.filter(F.col("__lines"), lambda l: c4_line_keep(l)), "\n"
            )
        ).alias("__c4low"),
        *[c.alias(n) for (_, c), n in zip(lang_scores, score_names)],
    ]
    stage2 = stage1.select(*stage2_cols)
    c4low = F.col("__c4low")
    c4_sentences = (
        F.length(c4low) - F.length(F.translate(c4low, ".!?", ""))
    ).cast("bigint")
    c4_lorem = c4low.contains("lorem ipsum")
    c4_brace = c4low.contains("{") | c4low.contains("}")
    stage3_cols = [
        *base,
        "n_tokens",
        "n_bpe_tokens",
        "punct_ratio",
        "stopword_ratio",
        quality_score_from(
            F.col("n_tokens"), F.col("punct_ratio"), F.col("stopword_ratio")
        ).alias("quality_score"),
        lang_id_from_scores(
            [
                (code, F.col(n))
                for (code, _), n in zip(lang_scores, score_names)
            ]
        ).alias("lang_id"),
        "fingerprint",
        "has_curly_brace",
        "has_lorem_ipsum",
        "has_javascript",
        c4_sentences.alias("c4_kept_sentences"),
        c4_lorem.alias("c4_has_lorem_ipsum"),
        c4_brace.alias("c4_has_curly_brace"),
        # EXACTLY c4_clean's page decision at its default thresholds,
        # including the NULL-text-passes convention (equality witness:
        # tests/test_signals.py vs c4_clean's survivor set).
        (
            t.isNull()
            | ~((c4_sentences < F.lit(5)) | c4_lorem | c4_brace)
        ).alias("c4_page_keep"),
        *[n for n, _ in gopher_staged],
    ]
    stage3 = stage2.select(*stage3_cols)
    _SIGNAL_COLS_MEMO[memo_key] = (stage1_cols, stage2_cols, stage3_cols)
    return gopher_repetition_metrics(stage3, text_col)


_SIGNAL_COLS_MEMO: dict = {}
