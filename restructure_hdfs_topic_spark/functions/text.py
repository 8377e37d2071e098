"""Text-analysis functions (north-star extensions, BASELINE.json):
token counting, quality scoring, language-ID heuristic, document
fingerprinting.  Pure built-in column expressions (split/filter/
aggregate over arrays) — JVM-side, codegen-friendly — so they hold up
on a 100 TB documents table.  Two documented exceptions run Arrow
kernels where that is the measured right tool: ``nfc_normalize_text``
(Unicode tables) and the n-gram half of ``gopher_repetition_metrics``
(bulk hash math — interpreted JVM folds measured 14-160× slower).

Oracled functions are mirrored by ANSI SQL in
``__spark_entry__.oracle_sql``; hash arithmetic is deterministic int64
math so both engines agree exactly.  Kernel-backed functions carry an
exact pure-Python witness model instead (tests name it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1; base 131.  acc*131 + 255 stays far inside int64.
HASH_MOD = 2_147_483_647
HASH_BASE = 131

# Tiny per-language marker sets for the heuristic language ID.  Real systems
# use char n-gram profiles; the heuristic keeps the same *shape* (score per
# language, argmax with deterministic tie-break) with exact cross-engine
# reproducibility.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht"],
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "que"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed lowercased text; empty OR NULL text →
    [] (a NULL would otherwise propagate through token_count /
    quality_score / gopher metrics and silently drop rows from boolean
    gates instead of scoring them as empty)."""
    t = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count (reference has no tokenizer; this is the
    north-star text-pipeline primitive).  bigint: F.size is int32, which
    hashes differently from DuckDB's int64 len()."""
    return F.size(tokens(text)).cast("bigint")


def poly_hash(col: Column) -> Column:
    """Deterministic polynomial rolling hash of a string → int64 in
    [0, 2^31-1).  acc = (acc*131 + ascii(ch)) mod p, char-sequential —
    the classic Rabin-Karp/Karp-Rabin fingerprint."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(HASH_BASE) + F.ascii(ch)) % F.lit(HASH_MOD),
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9\\s] (lowercased)."""
    t = F.lower(text)
    n = F.length(t)
    n_punct = F.length(F.regexp_replace(t, r"[a-z0-9\s]", ""))
    return F.when(n > 0, F.round(n_punct.cast("double") / n.cast("double"), 6)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are stopwords."""
    toks = tokens(text)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    return F.when(n > 0, F.round(hits.cast("double") / n.cast("double"), 6)).otherwise(
        F.lit(0.0)
    )


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: long enough, low punctuation,
    moderate stopword density.  Deterministic arithmetic, rounded."""
    n_tok = token_count(text)
    length_component = F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    stop_component = F.least(stopword_ratio(text) * 3, F.lit(1.0))
    return F.round(
        F.lit(0.5) * length_component + F.lit(0.3) * punct_component + F.lit(0.2) * stop_component,
        6,
    )


# A GPT-2-style pre-tokenizer regex (public pattern family): contractions,
# letter runs, digit runs, punctuation runs, whitespace collapsed.  Java and
# DuckDB regex dialects both support this subset.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: occurrences of the pre-tokenizer pattern —
    the unit a byte-pair encoder would split further.  One regex pass
    (regexp_count), JVM-side."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE)).cast("bigint")


# --- column-reuse variants -------------------------------------------------
# The single-column functions above re-inline ``tokens(text)`` (a regex
# split) into every derived metric; Catalyst's CollapseProject duplicates
# the split per reference, so a quality query evaluated it ~8× per row
# (BENCH_r01: text_quality 16.7 s / 5k docs).  These *_from variants take
# an already-projected token array column: project ``tokens`` ONCE, derive
# everything from it — the multi-referenced alias survives as a real
# column and the split runs once per row.


def token_count_from(toks: Column) -> Column:
    return F.size(toks).cast("bigint")


def stopword_ratio_from(toks: Column) -> Column:
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
    return F.when(n > 0, F.round(hits.cast("double") / n.cast("double"), 6)).otherwise(
        F.lit(0.0)
    )


def ngrams_from(toks: Column, n: int = 2, sep: str = " ") -> Column:
    """Overlapping token n-grams as strings (``size < n`` → []).

    One JVM ``transform`` over an index sequence + ``slice``/``concat_ws``
    — whole-stage-codegen, no Python.  The ``when`` guard matters:
    ``sequence(0, negative)`` DESCENDS instead of producing [].
    """
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(sep, F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(grams)


def repetition_metrics_from(grams: Column) -> list[tuple[str, Column]]:
    """Within-document repetition (the Gopher/MassiveText repeated-n-gram
    quality gate, Rae et al. 2021 §A1.1 — public paper): fraction of
    n-gram OCCURRENCES that are repeats of an earlier occurrence,
    ``1 - distinct/total``.  High ratio → boilerplate/spam/looped text.

    Pass an already-PROJECTED gram column (CollapseProject re-inlines
    multi-referenced expressions; the gram build must not run 3×).
    """
    total = F.size(grams).cast("bigint")
    distinct = F.size(F.array_distinct(grams)).cast("bigint")
    ratio = F.when(
        total > 0,
        F.round(F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return [("n_grams", total), ("n_distinct_grams", distinct), ("repetition_ratio", ratio)]


def quality_score_from(n_tokens: Column, punct: Column, stop: Column) -> Column:
    """Composite quality from already-computed component columns."""
    length_component = F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct * 5, F.lit(1.0))
    stop_component = F.least(stop * 3, F.lit(1.0))
    return F.round(
        F.lit(0.5) * length_component + F.lit(0.3) * punct_component + F.lit(0.2) * stop_component,
        6,
    )


def lang_scores_from(toks: Column) -> list[tuple[str, Column]]:
    return [
        (lang, F.size(F.filter(toks, _isin_filter(markers))))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]


def lang_id_from_scores(scores: list[tuple[str, Column]]) -> Column:
    """Argmax over already-projected per-language score columns: one
    ``greatest`` + a flat CASE chain (the oracle's shape) instead of the
    nested accumulation that duplicated each score expression."""
    best = F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    result = F.lit("und")
    for lang, score in sorted(scores, key=lambda p: p[0], reverse=True):
        result = F.when((best > 0) & (score == best), F.lit(lang)).otherwise(result)
    return result


def _isin_filter(markers: list[str]):
    # NB: a default-arg lambda (lambda x, m=markers: ...) must NOT be passed
    # to F.filter — PySpark introspects lambda arity and would bind the
    # array INDEX to the second parameter.  Close over via factory instead.
    return lambda x: x.isin(markers)


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    """Marker-hit count per language over the token array."""
    toks = tokens(text)
    return [
        (lang, F.size(F.filter(toks, _isin_filter(markers))))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
):
    """Split documents into overlapping fixed-token-count chunks — the
    sequence-packing primitive of a training-data pipeline.  Chunk i
    covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk may be short; a doc
    shorter than one chunk yields a single chunk; empty docs yield none.

    Pure column expressions (one token projection, sequence + transform +
    posexplode) — narrow plan, no shuffle, codegen throughout.

    Returns (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    from pyspark.sql import functions as F

    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap({overlap}) < chunk_tokens({chunk_tokens})")
    stride = chunk_tokens - overlap
    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    n_starts = F.when(
        F.col("__n") <= 0, F.lit(0)
    ).otherwise(
        F.greatest(
            F.lit(1),
            F.ceil((F.col("__n") - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        )
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - F.lit(1)),
        lambda i: F.slice(F.col("__toks"), (i * stride + 1).cast("int"), chunk_tokens),
    )
    return (
        toked.withColumn("__chunks", F.when(n_starts > 0, chunks))
        .select("id", F.posexplode("__chunks").alias("chunk_id", "__chunk"))
        .select(
            "id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.size("__chunk").cast("bigint").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        )
    )


# PII scrub patterns (training-corpus curation): kept to the regex subset
# Java and RE2 interpret identically (no lookarounds, no backrefs).
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{7,}\b", "<NUMBER>"),  # long digit runs: phone/account/card
]


def redact_pii(text: Column) -> Column:
    """Replace emails, URLs, and long digit runs with typed placeholders —
    one regexp_replace pass per pattern, JVM-side, order-stable (URLs after
    emails so 'user@host' inside a URL is already gone)."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def gopher_metrics(text: Column) -> list[tuple[str, Column]]:
    """Gopher-style document quality rules (Rae et al. 2021, table A1 —
    the public heuristics most LLM-corpus pipelines reuse): word count
    bounds, mean word length, symbol-to-word ratio ('#' and '...'),
    bullet-start / ellipsis-end line ratios, alphabetic-word ratio, and a
    minimum distinct-stopword requirement.  All deterministic codegen
    column expressions (no shuffle); thresholds applied by
    ``gopher_passes``.

    Returns [(name, column)] so callers project every metric in one
    pass.  NB each metric expression contains its OWN copy of the
    token/line split (four token splits + three line splits per row) —
    projection-only consumers (aggregates like ``corpus_profile``, the
    signal annotation) should project ``tokens(text)`` /
    ``split(text, '\\n')`` as real columns and use
    ``gopher_metrics_from`` instead, where the splits run once (filter
    consumers gain nothing: predicate pushdown re-inlines through any
    projection)."""
    return gopher_metrics_from(tokens(text), F.split(text, "\n"), text)


def gopher_metrics_from(
    toks: Column, lines: Column, text: Column
) -> list[tuple[str, Column]]:
    """``gopher_metrics`` over ALREADY-PROJECTED token/line array columns
    — the splits run once per row instead of once per referencing
    metric.  Same expressions, bit-identical results."""
    n_words = F.size(toks).cast("bigint")
    nz = F.when(n_words > 0, n_words.cast("double")).otherwise(F.lit(1.0))
    mean_len = F.round(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)).cast(
            "double"
        )
        / nz,
        6,
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.round((n_hash + n_ellipsis).cast("double") / nz, 6)
    n_lines = F.size(lines).cast("double")
    bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]"))
    ).cast("double")
    ellipsis_end = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    ).cast("double")
    bullet_ratio = F.round(bullet / F.greatest(n_lines, F.lit(1.0)), 6)
    ellipsis_ratio = F.round(ellipsis_end / F.greatest(n_lines, F.lit(1.0)), 6)
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("double")
    alpha_ratio = F.round(alpha_words / nz, 6)
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in STOPWORDS]))
    ).cast("bigint")
    return [
        ("n_words", n_words),
        ("mean_word_len", mean_len),
        ("symbol_word_ratio", symbol_ratio),
        ("bullet_line_ratio", bullet_ratio),
        ("ellipsis_line_ratio", ellipsis_ratio),
        ("alpha_word_ratio", alpha_ratio),
        ("n_stopword_kinds", stop_hits),
    ]


def gopher_passes(
    n_words: Column,
    mean_word_len: Column,
    symbol_word_ratio: Column,
    bullet_line_ratio: Column,
    ellipsis_line_ratio: Column,
    alpha_word_ratio: Column,
    n_stopword_kinds: Column,
    min_words: int = 50,
    max_words: int = 100_000,
) -> Column:
    """The conjunctive Gopher gate over pre-computed metrics (thresholds
    from the paper; word bounds configurable for short-doc corpora)."""
    return (
        n_words.between(min_words, max_words)
        & mean_word_len.between(3.0, 10.0)
        & (symbol_word_ratio <= 0.1)
        & (bullet_line_ratio <= 0.9)
        & (ellipsis_line_ratio <= 0.3)
        & (alpha_word_ratio >= 0.8)
        & (n_stopword_kinds >= 2)
    )


def _sorted_dup_stats(arr: Column) -> Column:
    """``struct(n bigint, c bigint)`` — count and summed string length of
    NON-FIRST occurrences in ``arr`` (each distinct value with count k
    contributes k-1 occurrences and (k-1)·len chars).  One sort + one
    adjacent-equality fold — O(g log g) per row, pure JVM; the classic
    set-membership scan would be O(g²) in an expression engine."""
    s = F.sort_array(arr)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("n"),
        F.lit(0).cast("bigint").alias("c"),
    )
    return F.aggregate(
        s,
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            # NULL prev (first element) compares NULL -> when() -> 0.
            (acc["n"] + F.when(x == acc["prev"], F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n"),
            (
                acc["c"]
                + F.when(x == acc["prev"], F.length(x)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("c"),
        ),
        lambda acc: F.struct(acc["n"].alias("n"), acc["c"].alias("c")),
    )


#: Rolling combiner for word-n-gram hashes (any odd constant <
#: sqrt(HASH_MOD)); packed key = gram_hash · 2^21 + min(gram_chars,
#: 2^21-1) — hash < 2^31 keeps the product < 2^52, safe int64.
#: Mirrored by the exact-Python witness model.
GRAM_HASH_MULT = 8191
GRAM_LEN_PACK = 1 << 21


#: Gopher/MassiveText repetition thresholds (Rae et al. 2021, table A1):
#: a document is removed when ANY fraction exceeds its threshold.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


_REP_COLS_MEMO: dict = {}


def gopher_repetition_metrics(
    docs: "DataFrame", text_col: str = "text"
) -> "DataFrame":
    """The Gopher/MassiveText REPETITION filters (Rae et al. 2021, table
    A1 — the half of the paper's heuristics ``gopher_metrics`` does not
    cover): 13 within-document repetition fractions appended as columns.

    - ``dup_line_frac`` / ``dup_para_frac``: fraction of non-blank
      lines/paragraphs (split on ``\\n`` / ``\\n\\n+``) that repeat an
      earlier one.
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters in
      those repeated lines/paragraphs over the total non-blank
      line/paragraph characters.
    - ``top_{2,3,4}gram_char_frac``: characters covered by the single
      MOST FREQUENT word n-gram (its count · its gram length,
      space-joined) over ``length(text)`` — the table-A1 definition.
      Ties on count break deterministically toward the LONGER gram
      (then the larger packed key), i.e. the max coverage among the
      equally-most-frequent grams.
    - ``dup_{5..10}gram_char_frac``: characters in non-first occurrences
      of each word n-gram over ``length(text)``.  Overlapping repeats
      are counted in full (no interval union — positional marking is
      inherently sequential); this upper-bounds the paper's fraction and
      only errs toward dropping MORE repetitive text, the rule's intent.

    N-gram identity is the packed (rolling-hash, char-length) int64 key
    — gram strings are NEVER constructed (string building measured ~2/3
    of a pure-JVM fold implementation's cost); a (hash, length)
    collision between distinct grams is the only way counts can differ
    from string-exact, and the exact-Python witness model mirrors the
    same keys.

    All ratios round to 6 decimals (cross-engine convention).  NULL or
    empty text yields all-zero metrics, so such rows PASS the gate —
    the same keep-NULL convention as ``c4_clean``/``line_corrections``
    (a NULL predicate would silently drop the row).  Note the top-gram
    fractions are only meaningful past the paper's 50-word minimum (a
    clean 15-word page's single most common 2-gram already covers >20%
    of its characters) — compose with ``gopher_passes``' word bounds,
    as the paper does.

    Scale shape: the line/paragraph metrics are JVM sorted-adjacency
    folds over staged array projections (cheap — dozens of entries per
    doc); the nine n-gram metrics are ONE Arrow ``mapInPandas`` kernel,
    batch-vectorized ACROSS documents (token hashes cached per distinct
    token, all nine rolling hash/length passes as whole-batch numpy ops,
    one lexsort + run-length encode per n) — the engine's measured rule
    that bulk hash math belongs in an Arrow kernel, not interpreted
    higher-order folds (three JVM variants measured 0.7-8 ms/doc; the
    kernel ~0.05 ms/doc).  One Python crossing, no shuffle; per-row pure
    function, so partitioning-independent.  Exact pure-Python
    cross-check: tests/test_repetition.py."""
    base = docs.columns
    # The three staged column groups are constant expression trees given
    # text_col (the large F.aggregate/F.filter folds were hundreds of
    # py4j round-trips per call) — memoized per text_col and reused
    # across calls; the input's own columns pass through as name strings
    # (r13 construction-cost profile).
    from restructure_hdfs_topic_spark.session import session_epoch

    # Gateway epoch in the key (ADVICE r13 #1): memoized Columns are py4j
    # handles — session-independent but gateway-bound.
    _rep_key = (session_epoch(), text_col)
    memo = _REP_COLS_MEMO.get(_rep_key)
    if memo is None:
        # "Non-blank" = contains any non-whitespace char (Java \S, ASCII)
        # — NOT length(trim(x)) > 0: trim strips the space character
        # only, so a tab-only line would count as content and skew the
        # dup fractions (the exact-Python witness model mirrors the \S
        # semantics).
        nonblank = lambda a: F.filter(a, lambda x: x.rlike(r"\S"))  # noqa: E731
        sum_len = lambda a: F.aggregate(  # noqa: E731
            a, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        )
        # floor(x·1e6 + 0.5)/1e6, NOT F.round: the n-gram kernel rounds
        # in numpy where this formula is the vectorizable one, and
        # F.round (shortest-repr HALF_UP) disagrees with it on float
        # boundary cases — one formula everywhere keeps engine, kernel,
        # and witness model bit-identical.
        frac = lambda num, den: F.when(  # noqa: E731
            den > 0,
            F.floor(
                num.cast("double") / den.cast("double") * F.lit(1e6) + F.lit(0.5)
            )
            / F.lit(1e6),
        ).otherwise(F.lit(0.0))
        line_st = _sorted_dup_stats(F.col("__rep_lines"))
        para_st = _sorted_dup_stats(F.col("__rep_paras"))
        memo = (
            [
                nonblank(F.split(F.col(text_col), "\n")).alias("__rep_lines"),
                nonblank(F.split(F.col(text_col), "\n{2,}")).alias("__rep_paras"),
            ],
            [
                line_st.alias("__l"),
                para_st.alias("__p"),
                F.size("__rep_lines").cast("bigint").alias("__nl"),
                F.size("__rep_paras").cast("bigint").alias("__np"),
                sum_len(F.col("__rep_lines")).alias("__lc"),
                sum_len(F.col("__rep_paras")).alias("__pc"),
            ],
            [
                frac(F.col("__l")["n"], F.col("__nl")).alias("dup_line_frac"),
                frac(F.col("__p")["n"], F.col("__np")).alias("dup_para_frac"),
                frac(F.col("__l")["c"], F.col("__lc")).alias("dup_line_char_frac"),
                frac(F.col("__p")["c"], F.col("__pc")).alias("dup_para_char_frac"),
            ],
        )
        # Drop handles from a replaced gateway (dead JVM objects), keep
        # same-epoch siblings (other text_cols).
        for k in [k for k in _REP_COLS_MEMO if k[0] != _rep_key[0]]:
            _REP_COLS_MEMO.pop(k, None)
        _REP_COLS_MEMO[_rep_key] = memo
    stage_a, stage_b, stage_c = memo
    staged = (
        docs.select(*base, *stage_a)
        .select(*base, *stage_b)
        .select(*base, *stage_c)
    )
    gram_cols = [f"top_{n}gram_char_frac" for n in (2, 3, 4)] + [
        f"dup_{n}gram_char_frac" for n in range(5, 11)
    ]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in staged.schema.fields]
        + [f"{c} double" for c in gram_cols]
    )
    kernel = _ngram_repetition_kernel(text_col, gram_cols)
    return staged.mapInPandas(kernel, out_schema)


def _mirror_token_hashes(texts):
    """Exact Python mirror of the JVM ``tokens()``/``poly_hash`` pair,
    batch-shaped for the Arrow kernels (the repetition metrics and DSIR
    feature counting share this ONE definition so they cannot drift):
    per text — trim the SPACE character only, lower, split on ASCII
    whitespace (Java's ``\\s``; a Python ``\\s+`` would also split on
    NBSP etc.), keeping empty edge tokens; per distinct token — the
    polynomial char-fold cached per batch (the Zipf win).

    Returns ``(counts, H, L)``: int64 tokens-per-doc, flat token hashes,
    flat token char lengths."""
    import re

    import numpy as np

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    cache: dict = {}

    def phash(w: str) -> int:
        h = cache.get(w)
        if h is None:
            acc = 0
            for ch in w:
                acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
            cache[w] = h = acc
        return h

    toks = []
    for t in texts:
        s = ("" if t is None else t).strip(" ").lower()
        toks.append(ws.split(s) if s else [])
    counts = np.fromiter((len(x) for x in toks), dtype=np.int64, count=len(toks))
    flat = [w for doc_toks in toks for w in doc_toks]
    H = np.fromiter((phash(w) for w in flat), dtype=np.int64, count=len(flat))
    L = np.fromiter((len(w) for w in flat), dtype=np.int64, count=len(flat))
    return counts, H, L


def _ngram_repetition_kernel(text_col: str, gram_cols: list[str]):
    """Arrow kernel for the nine n-gram repetition fractions —
    batch-vectorized ACROSS documents: tokens hash once per distinct
    token (Zipf cache), all rolling hash/length passes are whole-batch
    numpy ops over the concatenated token stream (windows crossing a
    document boundary masked out), and each n costs one lexsort +
    run-length encode.  Rounding is half-up ×1e6 — the same formula the
    witness model uses."""

    def kernel(batches):
        import numpy as np

        P, M, PACK = HASH_MOD, GRAM_HASH_MULT, GRAM_LEN_PACK
        for pdf in batches:
            n_docs = len(pdf)
            if not n_docs:
                continue
            # Tokenize + hash via the shared exact-mirror helper (per-
            # BATCH hash cache: a partition-lifetime dict would grow
            # unboundedly on high-cardinality crawl partitions).
            counts, H, L = _mirror_token_hashes(pdf[text_col])
            tlen = np.fromiter(
                (0 if t is None else len(t) for t in pdf[text_col]),
                dtype=np.int64,
                count=n_docs,
            )
            doc = np.repeat(np.arange(n_docs), counts)
            res = {}
            h_roll, l_roll = H, L
            for n in range(2, 11):
                name = (
                    f"top_{n}gram_char_frac"
                    if n <= 4
                    else f"dup_{n}gram_char_frac"
                )
                if len(H) >= n:
                    h_roll = (h_roll[:-1] * M + H[n - 1 :]) % P
                    l_roll = l_roll[:-1] + L[n - 1 :] + 1
                    valid = doc[: len(h_roll)] == doc[n - 1 :]
                    d = doc[: len(h_roll)][valid]
                    k = h_roll[valid] * PACK + np.minimum(
                        l_roll[valid], PACK - 1
                    )
                else:
                    d = np.empty(0, np.int64)
                    k = d
                order = np.lexsort((k, d))
                d_s, k_s = d[order], k[order]
                new = np.ones(len(k_s), dtype=bool)
                if len(k_s):
                    new[1:] = (k_s[1:] != k_s[:-1]) | (d_s[1:] != d_s[:-1])
                idx = np.flatnonzero(new)
                runs = np.diff(np.append(idx, len(k_s)))
                lens = k_s[idx] % PACK
                run_doc = d_s[idx]
                acc = np.zeros(n_docs, dtype=np.int64)
                if n <= 4:
                    # Single MOST FREQUENT gram per doc (table A1), not
                    # max(count·len) over all grams — a rarer-but-longer
                    # gram must not win.  Deterministic tie-break: count,
                    # then gram char-length, then packed key (all max).
                    if len(runs):
                        sel = np.lexsort((k_s[idx], lens, runs, run_doc))
                        rd = run_doc[sel]
                        last = np.flatnonzero(
                            np.append(rd[1:] != rd[:-1], True)
                        )
                        pick = sel[last]
                        acc[run_doc[pick]] = runs[pick] * lens[pick]
                else:
                    np.add.at(acc, run_doc, (runs - 1) * lens)
                with np.errstate(divide="ignore", invalid="ignore"):
                    res[name] = np.where(
                        tlen > 0,
                        np.floor(acc / np.maximum(tlen, 1) * 1e6 + 0.5) / 1e6,
                        0.0,
                    )
            out = pdf.copy()
            for c in gram_cols:
                out[c] = res[c]
            yield out

    return kernel


def gopher_repetition_passes(
    thresholds: dict[str, float] | None = None,
) -> Column:
    """Conjunctive repetition gate over ``gopher_repetition_metrics``
    columns: keep iff EVERY fraction ≤ its table-A1 threshold (override
    per-signal via ``thresholds``).  NULL metrics (NULL text) fail."""
    th = dict(GOPHER_REPETITION_THRESHOLDS)
    th.update(thresholds or {})
    cond = F.lit(True)
    for name, limit in sorted(th.items()):
        cond = cond & (F.col(name) <= F.lit(limit))
    return cond


# --- Text normalization (C4/CCNet-style pre-dedup canonicalization) -------

def normalize_text(text: Column) -> Column:
    """Canonicalize text before fingerprinting/dedup — the C4/CCNet-style
    cleanup that stops trivially-different encodings of the same content
    from defeating exact dedup:

    - strip C0/C1 control characters (except \\t \\n) and zero-width/
      BOM code points (ZWSP/ZWNJ/ZWJ/FEFF);
    - unify curly quotes and long dashes to their ASCII forms;
    - squeeze horizontal whitespace runs to one space, trim line edges,
      collapse 3+ newlines to 2 (paragraph break), trim the document.

    Pure JVM expression chain (regexp_replace + translate — codegen, no
    shuffle, no Python).  Unicode NFC composition is the one step Spark
    SQL cannot express; `nfc_normalize_text` adds it via an Arrow batch.
    """
    t = F.regexp_replace(text, "[\\x00-\\x08\\x0B-\\x1F\\x7F\\u0080-\\u009F\\u200B\\u200C\\u200D\\uFEFF]", "")
    t = F.translate(t, "‘’“”–—", "''\"\"--")
    t = F.regexp_replace(t, "[ \\t]+", " ")
    t = F.regexp_replace(t, " ?\\n ?", "\n")
    t = F.regexp_replace(t, "\\n{3,}", "\n\n")
    # Full whitespace trim (F.trim strips only spaces, not newlines).
    return F.regexp_replace(t, "^\\s+|\\s+$", "")


def nfc_normalize_text(text: Column) -> Column:
    """Unicode NFC composition (é as one code point, not e+◌́) — the only
    normalization step with no Spark SQL builtin, so it crosses to Python
    ONCE as an Arrow-batched series op (`unicodedata` is stdlib; ~GB/s,
    no per-row interpreter work beyond the C call)."""
    import pandas as pd

    # The Series hints must resolve in this module's globals (PEP 563
    # stringifies them), so bind pd into module scope before defining.
    globals()["pd"] = pd

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    return _nfc(text)


_ENT_MAP_MEMO: dict = {}

_NAMED_ENTITIES = (
    # Core XML set
    ("nbsp;", " "), ("lt;", "<"), ("gt;", ">"),
    ("quot;", "\""), ("apos;", "'"), ("amp;", "&"),
    # The common-web tail (punctuation/typography a Common-Crawl ingest
    # hits constantly — VERDICT r6 "missing" #2).  Single code point each,
    # so the same table generates the DuckDB oracle's CASE chain.
    ("mdash;", "—"), ("ndash;", "–"), ("hellip;", "…"),
    ("lsquo;", "‘"), ("rsquo;", "’"),
    ("ldquo;", "“"), ("rdquo;", "”"),
    ("sbquo;", "‚"), ("bdquo;", "„"),
    ("copy;", "©"), ("reg;", "®"), ("trade;", "™"),
    ("deg;", "°"), ("plusmn;", "±"), ("middot;", "·"),
    ("bull;", "•"), ("sect;", "§"), ("para;", "¶"),
    ("laquo;", "«"), ("raquo;", "»"),
    ("frac12;", "½"), ("frac14;", "¼"), ("frac34;", "¾"),
    ("times;", "×"), ("divide;", "÷"), ("minus;", "−"),
    ("cent;", "¢"), ("pound;", "£"), ("euro;", "€"),
    ("yen;", "¥"), ("curren;", "¤"),
    ("dagger;", "†"), ("Dagger;", "‡"), ("permil;", "‰"),
    ("prime;", "′"), ("Prime;", "″"),
    ("larr;", "←"), ("rarr;", "→"), ("uarr;", "↑"),
    ("darr;", "↓"), ("harr;", "↔"),
    ("infin;", "∞"), ("ne;", "≠"), ("le;", "≤"),
    ("ge;", "≥"), ("asymp;", "≈"),
    ("sup2;", "²"), ("sup3;", "³"), ("micro;", "µ"),
    ("shy;", "­"), ("ensp;", " "), ("emsp;", " "),
    ("thinsp;", " "), ("zwnj;", "‌"), ("zwj;", "‍"),
    ("iexcl;", "¡"), ("iquest;", "¿"),
    ("szlig;", "ß"), ("aelig;", "æ"), ("oelig;", "œ"),
    ("ccedil;", "ç"), ("ntilde;", "ñ"),
    ("aacute;", "á"), ("agrave;", "à"), ("acirc;", "â"),
    ("auml;", "ä"), ("aring;", "å"), ("atilde;", "ã"),
    ("eacute;", "é"), ("egrave;", "è"), ("ecirc;", "ê"),
    ("euml;", "ë"),
    ("iacute;", "í"), ("igrave;", "ì"), ("icirc;", "î"),
    ("iuml;", "ï"),
    ("oacute;", "ó"), ("ograve;", "ò"), ("ocirc;", "ô"),
    ("ouml;", "ö"), ("otilde;", "õ"), ("oslash;", "ø"),
    ("uacute;", "ú"), ("ugrave;", "ù"), ("ucirc;", "û"),
    ("uuml;", "ü"),
)


def _decode_entities(t: Column) -> Column:
    """SINGLE-PASS entity decode: named refs plus ``&#NNN;``/``&#xHH;``
    numeric and hex character references, JVM-side.

    Replacement chains cannot express single-pass semantics — any
    multi-pass order either double-decodes (``&#38;lt;`` must render as
    ``&lt;``, not ``<``) or re-exposes author-escaped references
    (``&amp;#65;`` must stay ``&#65;``).  So, like ``html.unescape``, the
    original string is scanned once: split on the literal ``&``, decode
    each tail's leading reference if one is present, re-attach ``&``
    verbatim otherwise; decoder OUTPUT is never rescanned, which makes
    double-decode impossible by construction.  Numeric code points become
    characters with builtins only — conv → hex/lpad → unhex → UTF-32
    decode — keeping the chain in codegen; DuckDB reproduces it with
    ``chr`` + a hex fold (cross-check in tests/test_text_normalize.py).
    Invalid references (0, surrogates, > U+10FFFF, unterminated digit
    runs) pass through as literal text, as browsers render them."""
    parts = F.split(t, "&", -1)
    head = F.get(parts, 0)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - F.lit(1), F.lit(0)))
    # One literal map for ALL named references: a per-part lookup costs one
    # regexp + one map probe regardless of table size (an 86-branch
    # startswith chain measurably doubled the whole strip_html pass).
    # Names are ';'-terminated, so the extracted name is exact — no
    # longest-match ordering concern (legacy semicolonless refs are
    # deliberately unsupported).
    # Memoized (r13): the map is a CONSTANT expression tree (~170 literal
    # Columns = py4j round-trips) rebuilt on every strip_html call;
    # unresolved Column expressions are reusable across DataFrames within
    # one JVM gateway, so build it once per process.
    from restructure_hdfs_topic_spark.session import session_epoch

    # Keyed by gateway epoch (ADVICE r13 #1): the handle dies with the
    # py4j gateway, not with any SparkSession.
    _ent_key = session_epoch()
    ent_map = _ENT_MAP_MEMO.get(_ent_key)
    if ent_map is None:
        ent_map = F.create_map(
            *[F.lit(x) for name, rep in _NAMED_ENTITIES for x in (name[:-1], rep)]
        )
        _ENT_MAP_MEMO.clear()  # at most one gateway is live per process
        _ENT_MAP_MEMO[_ent_key] = ent_map

    def dec(p: Column) -> Column:
        nm = F.regexp_extract(p, r"^([a-zA-Z][a-zA-Z0-9]{0,31});", 1)
        # try_element_at: missing key -> NULL under ANSI mode too (a bare
        # element_at raises MAP_KEY_DOES_NOT_EXIST with ANSI on).
        named_rep = F.try_element_at(ent_map, F.nullif(nm, F.lit("")))
        pref = F.regexp_extract(p, r"^(#[xX][0-9a-fA-F]{1,6};|#[0-9]{1,7};)", 1)
        is_hex = F.lower(F.substring(pref, 2, 1)) == "x"
        cp = (
            F.when(is_hex, F.conv(F.substr(pref, F.lit(3), F.length(pref) - 3), 16, 10))
            .otherwise(F.substr(pref, F.lit(2), F.length(pref) - 2))
            .cast("long")
        )
        valid = (
            cp.isNotNull()
            & (cp > 0)
            & (cp <= 0x10FFFF)
            & ~((cp >= 0xD800) & (cp <= 0xDFFF))
        )
        ch = F.decode(F.unhex(F.lpad(F.hex(cp), 8, "0")), "UTF-32")
        rest = F.substr(p, F.length(pref) + 1)
        return (
            F.when(
                named_rep.isNotNull(),
                F.concat(named_rep, F.substr(p, F.length(nm) + 2)),
            )
            .when((pref != "") & valid, F.concat(ch, rest))
            .otherwise(F.concat(F.lit("&"), p))
        )

    return F.concat(
        head, F.coalesce(F.array_join(F.transform(tail, dec), ""), F.lit(""))
    )


def strip_html(text: Column) -> Column:
    """HTML → text extraction (the Common-Crawl-style ingestion step
    before any text operator): drop ``<script>``/``<style>`` blocks and
    comments, strip tags, decode the common entities, squeeze whitespace.
    A JVM regexp chain (codegen, no shuffle, no parser dependency) — an
    intentionally simple boilerplate-remover, not a browser; patterns
    avoid backreferences so RE2-based engines (DuckDB) reproduce them
    exactly.  Block-level closing tags become newlines so paragraph
    structure survives for the line/quality operators.

    Composition caveat (measured r10): a multi-metric GATE directly over
    this column gets the whole chain RE-INLINED into its pushed-down
    predicate (19 chain copies in the fused strip→gopher plan; the gate
    read 26 s vs 5.8 s at sf1) — filter pushdown rewrites metric aliases
    in terms of the producing expression, and no reference-counting rule
    protects a Filter.  Materialize a stage boundary (scoped persist /
    ``Corpus.cached``) between the strip and any gate, as the
    html-ingest bench pipeline does."""
    t = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    # Paragraph-ish boundaries -> newline BEFORE generic tag strip.
    t = F.regexp_replace(
        t, r"(?i)</(p|div|li|h[1-6]|tr|table|blockquote)>|<br[^>]*>", "\n"
    )
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    # One single-pass decode of named + numeric/hex character references
    # (the &#NNN;/&#xHH; space a real Common-Crawl ingest hits constantly,
    # VERDICT r6 #2); single-pass means author-escaped references survive
    # single-decoded ('a &amp;lt; b' extracts as 'a &lt; b', '&#38;lt;' as
    # '&lt;' — never double-decoded to '<').
    # (A '&'-free fast path via when(~t.contains('&'), t, decode) was
    # measured AND rejected: `t` is a chained expression here, so the
    # three references re-inline the whole upstream regexp chain per row
    # — the classic Catalyst multi-reference pitfall this codebase
    # documents elsewhere.  The decoder's split-on-'&' already costs ~0
    # on '&'-free text (single-element array, head passthrough).)
    t = _decode_entities(t)
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


_URL_RE = r"https?://[\w\.\-]+(?::\d+)?(?:/[^\s]*)?"


def canonical_url(url: Column, extra_tracking: tuple = ()) -> Column:
    """Canonical form of ONE http(s) URL — the dedup key of URL-level
    corpus dedup (RefinedWeb's first dedup stage deduplicates by
    normalized URL before any content pass): drop the fragment, strip
    tracking parameters (utm_*, fbclid/gclid/msclkid), unify the scheme
    to https, lowercase the host, strip a leading ``www.`` and default
    ports, drop a trailing slash from a query-less path.  Pure JVM regexp
    chain (RE2-portable; the one replacement backreference, ``$1``/``\\1``,
    is RE2-legal in both Spark and DuckDB), no Python, no shuffle.
    Non-URL input comes back trimmed but otherwise untouched.

    Deliberately NOT stripped by default: bare ``ref=`` — it is a content
    parameter on real sites (``github.com/r/tree?ref=branch`` names a
    branch), so stripping it conflates distinct pages and URL dedup then
    silently drops real documents.  Corpora where ``ref`` is known to be
    a referrer tag can opt in via ``extra_tracking=("ref",)``.  The
    trailing-slash strip is scoped to query-less URLs for the same
    reason: ``?next=/home/`` and ``?next=/home`` are distinct values."""
    names = ["utm_[A-Za-z]+", "fbclid", "gclid", "msclkid", *extra_tracking]
    _TRACK = r"(" + "|".join(names) + r")=[^&#]*"
    u = F.trim(url)
    u = F.regexp_replace(u, r"#.*$", "")
    # Tracking params: '&p=v' drops with its separator; a LEADING '?p=v'
    # followed by a kept param promotes that param ('?p=v&q=' → '?q=');
    # a lone trailing '?p=v' drops entirely.  (A blanket 'replace with ?'
    # injected a stray '?' mid-query — 'id=3&utm=x&b=2' became
    # 'id=3?b=2' — splitting one page into two canonical keys.)
    u = F.regexp_replace(u, r"&" + _TRACK, "")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"&", "?")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"$", "")
    u = F.regexp_replace(u, r"[?&]+$", "")
    host = F.lower(F.regexp_extract(u, r"^(?i)https?://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    rest = F.regexp_replace(u, r"^(?i)https?://[^/?#]*", "")
    # Trailing '/' is cosmetic only on a PATH — a '/' ending a query
    # value is data ('?next=/home/' ≠ '?next=/home'), so strip it only
    # when the remainder has no query part.
    rest = F.regexp_replace(rest, r"^([^?]*)/$", "$1")
    return F.when(host != "", F.concat(F.lit("https://"), host, rest)).otherwise(u)


def extract_url_domains(text: Column) -> Column:
    """array<string> of the registrable-ish domains (host, lowercased,
    port/path stripped, leading www. removed) of every http(s) URL in the
    text — the key for domain-based corpus filtering/blocklists.  JVM
    regexp_extract_all + transform, no Python, no shuffle."""
    urls = F.regexp_extract_all(text, F.lit(f"({_URL_RE})"), 1)
    return F.transform(
        urls,
        lambda u: F.regexp_replace(
            F.lower(
                F.regexp_extract(u, r"https?://([\w\.\-]+)", 1)
            ),
            r"^www\.",
            "",
        ),
    )


# --- RefinedWeb line-wise corrections ---------------------------------------

_COUNTER_RE = (
    r"^[0-9]+ (likes?|comments?|shares?|views?|points?|votes?"
    r"|upvotes?|replies|retweets?)$"
)


def boilerplate_line_flag(line: Column) -> Column:
    """True when a line is web boilerplate under RefinedWeb's line-wise
    correction rules (Penedo et al. 2023 §G.2): mainly uppercase
    (navigation/buttons shout), only numerical, a social counter
    ("3 likes"), or a single word.  Pure JVM expression — usable inside
    higher-order functions over a split column."""
    n_alpha = F.length(line) - F.length(F.regexp_replace(line, r"[A-Za-z]", ""))
    n_upper = F.length(line) - F.length(F.regexp_replace(line, r"[A-Z]", ""))
    mainly_upper = (n_alpha >= F.lit(1)) & (n_upper * 2 > n_alpha)
    t = F.trim(line)
    numeric_only = (n_alpha == F.lit(0)) & t.rlike(r"^[0-9][0-9 .,:%/\-]*$")
    counter = F.lower(t).rlike(_COUNTER_RE)
    one_word = (F.length(t) > F.lit(0)) & (~t.rlike(r"\s"))
    return mainly_upper | numeric_only | counter | one_word


def line_corrections(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_removed_ratio: float = 0.05,
) -> "DataFrame":
    """RefinedWeb line-wise corrections: strip boilerplate lines
    (``boilerplate_line_flag``) from every document, and DROP documents
    where the removed characters exceed ``max_removed_ratio`` of the text
    — the paper's rule that heavy line-level damage signals a page whose
    remainder isn't prose either.  Kept lines are byte-exact (empty lines
    survive, so paragraph spacing round-trips).

    Scale shape: one narrow JVM projection over a SPLIT column projected
    once (higher-order filter/aggregate — inlining the split would re-run
    it per element), no shuffle, no Python.  Returns the input columns
    with ``text_col`` rewritten."""
    from pyspark.sql import DataFrame  # noqa: F401

    out_cols = docs.columns
    split_col = F.split(F.col(text_col), "\n")
    step = docs.withColumn("__lines", split_col)
    kept = F.filter(F.col("__lines"), lambda l: ~boilerplate_line_flag(l))
    removed_chars = F.aggregate(
        F.filter(F.col("__lines"), boilerplate_line_flag),
        F.lit(0).cast("long"),
        lambda acc, l: acc + F.length(l),
    )
    total_chars = F.aggregate(
        F.col("__lines"), F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    step = (
        step.withColumn("__removed", removed_chars)
        .withColumn("__total", total_chars)
        .withColumn(text_col, F.array_join(kept, "\n"))
    )
    # NULL text passes through untouched (split(NULL) is NULL, so the
    # ratio predicate would be NULL and silently drop the row).
    keep_doc = (
        F.col(text_col).isNull()
        | (F.col("__total") == 0)
        | (F.col("__removed") <= F.lit(max_removed_ratio) * F.col("__total"))
    )
    return step.filter(keep_doc).select(*out_cols)


def c4_line_keep(line: Column, min_words: int = 3) -> Column:
    """True when a line survives C4's line-level rules (Raffel et al.
    2020 §2.2): ends in a terminal punctuation mark ('.', '!', '?', or a
    closing double quote after one), has at least ``min_words``
    whitespace-separated words, and does not contain the word
    "javascript" (case-insensitive).  Pure JVM expression — usable
    inside higher-order functions over a split column."""
    t = F.rtrim(line)
    terminal = t.rlike(r'[.!?]["”]?$')
    # Filter empty tokens rather than F.trim-then-split: trim strips the
    # space character ONLY, so a leading tab would yield an empty first
    # token that F.size counts, letting a (min_words-1)-word line pass.
    n_words = F.size(
        F.filter(F.split(line, r"\s+"), lambda w: F.length(w) > 0)
    )
    enough = (n_words >= F.greatest(F.lit(min_words), F.lit(1)))
    no_js = ~F.lower(line).contains("javascript")
    return terminal & enough & no_js


def c4_clean(
    docs: "DataFrame",
    text_col: str = "text",
    min_words: int = 3,
    min_sentences: int = 5,
    badwords: tuple = (),
) -> "DataFrame":
    """C4's cleaning heuristics (Raffel et al. 2020 §2.2) as ONE narrow
    JVM projection + filter — the companion to the Gopher gate and the
    RefinedWeb line corrections:

    - line level: keep only lines passing ``c4_line_keep`` (terminal
      punctuation, ≥ ``min_words`` words, no "javascript");
    - page level: DROP pages whose retained text has fewer than
      ``min_sentences`` sentences (counted as terminal-punctuation
      marks in the retained text — a deterministic stand-in for the
      paper's sentence splitter), contains "lorem ipsum" (template
      residue), contains either curly bracket "{" or "}" (code), or
      contains any entry from ``badwords`` as a WHOLE word/phrase
      (case-insensitive, bounded by non-alphanumerics or the text
      edges — substring matching would drop "class" for "ass", the
      Scunthorpe problem; the paper uses a public blocklist, pass your
      own — none ships here, and an empty tuple disables the rule).

    The paper's fourth dedup rule (three-sentence spans) is the separate
    ``strip_duplicated_unit_spans`` operator — compose both for full C4.

    Scale shape: the split column projects ONCE per row (inlining it
    would re-run the split per element — the engine's measured
    CollapseProject trap), everything else is codegen; no shuffle, no
    Python.  Returns the input columns with ``text_col`` rewritten to
    the retained lines."""
    from pyspark.sql import DataFrame  # noqa: F401

    out_cols = docs.columns
    step = docs.withColumn("__lines", F.split(F.col(text_col), "\n"))
    kept = F.filter(F.col("__lines"), lambda l: c4_line_keep(l, min_words))
    step = step.withColumn(text_col, F.array_join(kept, "\n"))
    low = F.lower(F.col(text_col))
    n_sentences = F.length(low) - F.length(F.translate(low, ".!?", ""))
    drop = (
        (n_sentences < F.lit(min_sentences))
        | low.contains("lorem ipsum")
        | low.contains("{")
        | low.contains("}")
    )
    if badwords:
        import re as _re

        alts = "|".join(_re.escape(w.lower()) for w in badwords)
        drop = drop | low.rlike(f"(^|[^a-z0-9])({alts})([^a-z0-9]|$)")
    # NULL text passes through untouched (same convention as
    # line_corrections — a NULL predicate would silently drop the row).
    return step.filter(F.col(text_col).isNull() | ~drop).select(*out_cols)
