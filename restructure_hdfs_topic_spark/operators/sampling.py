"""Deterministic sampling operators (north-star extension).

Random sampling is the wrong tool for a 100 TB training-data pipeline:
resampling must be reproducible across runs, engines, and partitionings,
and a row's fate must not depend on which executor saw it.  Hash
thresholding gives all of that: keep a row iff
``(id * KNUTH) mod 2^32 < rate * 2^32`` — a fixed multiplicative hash
(Knuth's 2654435761) any engine reproduces exactly.  Changing the rate
grows/shrinks the sample MONOTONICALLY (a 10% sample is a subset of a
20% sample), which makes staged experiments comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761
MOD = 1 << 32


def hash_bucket(id_col) -> F.Column:
    """Uniform bucket in [0, 2^32) from an integer id (a column name or an
    integer Column expression) — engine-portable integer arithmetic (no
    xxhash/murmur dependence).

    Overflow-safe for the FULL int64 id range: ``id * KNUTH`` exceeds int64
    for ids ≥ ~3.5e9 (ANSI mode would throw ARITHMETIC_OVERFLOW), so the id
    is first reduced mod 2^32 and the multiply split into 16-bit halves —
    every intermediate stays < 2^49, and the result is bit-identical to
    ``id * KNUTH mod 2^32`` computed in unbounded arithmetic."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    r = F.pmod(col.cast("long"), F.lit(MOD))
    hi = F.shiftright(r, 16)  # r ≥ 0, < 2^32: exact 16-bit split
    lo = r.bitwiseAND(F.lit((1 << 16) - 1))
    return F.pmod(
        lo * F.lit(KNUTH) + F.pmod(hi * F.lit(KNUTH), F.lit(MOD)) * F.lit(1 << 16),
        F.lit(MOD),
    )


def hash_sample(df: DataFrame, id_col: str, rate: float) -> DataFrame:
    """Deterministic ``rate`` sample: keep iff bucket < rate·2^32."""
    return df.filter(hash_bucket(id_col) < F.lit(int(rate * MOD)))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing primitive
    (e.g. keep 100% of books, 10% of web).  One narrow filter, no shuffle;
    strata volumes follow the rates exactly in expectation and
    reproducibly in fact."""
    threshold = F.lit(int(default_rate * MOD))
    for value, rate in rates.items():
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(rate * MOD))
        ).otherwise(threshold)
    return df.filter(hash_bucket(id_col) < threshold)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    target_weights: dict[str, int],
    max_rows: int | None = None,
) -> DataFrame:
    """Rebalance a corpus to a target source mixture (the Pile/DoReMi-style
    domain-weighting step): given integer target weights per stratum (e.g.
    ``{"web": 5, "books": 3, "code": 2}``), take the LARGEST deterministic
    sample whose stratum proportions match the weights without oversampling
    any stratum (every rate ≤ 1; the scarcest weighted stratum is kept
    whole).  Strata absent from ``target_weights`` are dropped.

    Shape: one map-side-combined count per stratum (|strata| rows — the
    same bounded-metadata contract as the offset-interval state), exact
    bigint threshold math driver-side (Python integers never overflow),
    then ONE narrow hash-threshold filter over the corpus — no shuffle,
    no join, partitioning untouched.  Thresholds are monotone in
    ``max_rows``, so shrinking the budget yields a subset of the larger
    sample (staged-experiment comparability, like ``hash_sample``).
    """
    weights = {k: int(v) for k, v in target_weights.items() if int(v) > 0}
    if not weights:
        raise ValueError("target_weights must contain a positive weight")
    den = sum(weights.values())
    counts = {
        r[strata_col]: r["n"]
        for r in df.filter(F.col(strata_col).isin(list(weights)))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # A weighted stratum with zero corpus rows would silently zero the
    # WHOLE sample (n_out = 0) — almost always a typo'd stratum key or a
    # wrong column; fail loudly instead.
    missing = sorted(s for s in weights if counts.get(s, 0) == 0)
    if missing:
        raise ValueError(
            f"target_weights name strata with no rows in {strata_col!r}: "
            f"{missing} (present: {sorted(counts)})"
        )
    # Largest feasible output size: stratum s contributes w_s/den of the
    # output, so n_out ≤ n_s * den / w_s for every s (and the cap).
    n_out = min(counts[s] * den // w for s, w in weights.items())
    if max_rows is not None:
        n_out = min(n_out, int(max_rows))
    # keep iff bucket < w_s * n_out * 2^32 / (den * n_s): exact expected
    # stratum share w_s/den of n_out.  Pure-int driver math; the per-row
    # predicate is one CASE + compare, fully codegen'd.
    threshold = F.lit(-1).cast("long")
    for s, w in sorted(weights.items()):
        t = w * n_out * MOD // (den * counts[s])
        threshold = F.when(F.col(strata_col) == s, F.lit(int(t))).otherwise(
            threshold
        )
    return df.filter(hash_bucket(id_col) < threshold)


TEMP_WEIGHT_SCALE = 1_000_000


def temperature_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    alpha: float = 0.3,
    max_rows: int | None = None,
) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual
    alpha-sampling rule of Conneau & Lample 2019 §3.1 / mT5, Xue et al.
    2021 §3.2, where alpha≈0.3): sample stratum ``s`` with probability
    ``q_s ∝ n_s^alpha`` — alpha=1 keeps natural proportions, alpha→0
    approaches uniform-over-strata, in between it up-weights scarce
    sources (low-resource languages) without letting any one dominate.

    Takes the LARGEST deterministic sample whose stratum proportions
    follow ``q`` without oversampling any stratum (every per-stratum rate
    ≤ 1 — the scarcest-after-weighting stratum is kept whole), optionally
    capped at ``max_rows``.  Implementation is the ``mixture_sample``
    integer-threshold machinery with weights ``w_s = floor(n_s^alpha ·
    1e6)`` derived from ONE bounded count pass (|strata| rows — the same
    metadata-collect contract), so the corpus itself sees a single
    narrow hash-threshold filter: no shuffle, no join, partitioning
    untouched, and monotone in ``max_rows`` like every sampler here.
    The floor-scaled weights (not Python ``round``) make the thresholds
    reproducible in any engine with IEEE-double ``pow``.
    """
    import math

    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r[strata_col] is not None and r["n"] > 0
    }
    if not counts:
        raise ValueError(f"no non-null strata in {strata_col!r}")
    weights = {
        s: int(math.floor(math.pow(n, alpha) * TEMP_WEIGHT_SCALE))
        for s, n in counts.items()
    }
    den = sum(weights.values())
    # Same largest-feasible / exact-share math as mixture_sample, inlined
    # to reuse the single count pass (mixture_sample would re-scan).
    n_out = min(counts[s] * den // w for s, w in weights.items())
    if max_rows is not None:
        n_out = min(n_out, int(max_rows))
    threshold = F.lit(-1).cast("long")
    for s, w in sorted(weights.items()):
        t = w * n_out * MOD // (den * counts[s])
        threshold = F.when(F.col(strata_col) == s, F.lit(int(t))).otherwise(
            threshold
        )
    return df.filter(hash_bucket(id_col) < threshold)


def weighted_hash_sample(
    df: DataFrame, id_col: str, weight_col: str
) -> DataFrame:
    """Deterministic importance sampling: keep a row with probability equal
    to its ``weight_col`` value in [0, 1] — the CCNet-style "keep
    probability follows the quality score" primitive, reproducible across
    runs/engines/partitionings because the coin is the row's own hash
    bucket (keep iff ``bucket < weight·2^32``).  NULL or ≤0 weights drop
    the row; weights ≥1 always keep.  One narrow codegen filter, no
    shuffle.  Monotone per-row: raising a row's weight can only flip it
    from dropped to kept."""
    w = F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
    threshold = F.least(
        F.greatest((w * F.lit(float(MOD))), F.lit(0.0)), F.lit(float(MOD))
    ).cast("long")
    return df.filter(hash_bucket(id_col) < threshold)


def holdout_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/valid/test assignment: tag every row with a
    split name by partitioning the hash-bucket space into contiguous
    ranges sized by ``fractions`` (e.g. ``{"train": 0.98, "valid": 0.01,
    "test": 0.01}`` — must sum to ~1).  The assignment is a pure function
    of the id: stable across runs, engines, partitionings, AND corpus
    growth — a document added tomorrow cannot move today's documents
    between splits, the property random splits lack and the reason
    leakage-free eval needs hash splits.

    One narrow codegen projection (a CASE over the same ``hash_bucket``
    every sampler here uses), no shuffle.  Range edges use cumulative
    integer thresholds, so the splits exactly tile the bucket space
    (every row gets exactly one split)."""
    _require_integral(df, id_col, "holdout_split id_col")
    return df.withColumn(split_col, _split_expr(hash_bucket(id_col), fractions))


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _require_integral(df: DataFrame, col: str, what: str) -> None:
    """``hash_bucket`` casts its key to long — a string id would become
    NULL, every range comparison NULL-falsy, and the CASE's otherwise()
    would silently swallow the whole corpus into the last split."""
    t = df.schema[col].dataType.simpleString()
    if t not in _INTEGRAL_TYPES:
        raise ValueError(
            f"{what} must be an integral column for hash_bucket "
            f"(got {col!r}: {t}); map string ids through xxhash64 first"
        )


def _split_expr(bucket, fractions: dict[str, float]) -> F.Column:
    """CASE over a hash bucket partitioning [0, 2^32) into contiguous
    ranges sized by ``fractions`` — shared by ``holdout_split`` (bucket
    of the row id) and ``grouped_holdout_split`` (bucket of the group
    key) so the two tilings cannot drift."""
    if not fractions:
        raise ValueError("fractions must name at least one split")
    total = sum(fractions.values())
    if not (0.999 <= total <= 1.001):
        raise ValueError(f"fractions must sum to 1 (got {total})")
    cum = 0.0
    expr = None
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        edge = F.lit(int(cum * MOD))
        expr = (
            F.when(bucket < edge, F.lit(name))
            if expr is None
            else expr.when(bucket < edge, F.lit(name))
        )
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def grouped_holdout_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    groups: DataFrame,
    split_col: str = "split",
    groups_id_col: str | None = None,
    group_col: str = "group_id",
    pinned: DataFrame | None = None,
) -> DataFrame:
    """Leakage-safe train/valid/test assignment: split by the hash
    bucket of the row's near-duplicate GROUP, so no two near-duplicates
    ever straddle a split boundary (Lee et al. 2021 §6.2 — splitting
    after dedup is not enough when duplicates survive at any threshold;
    random or per-document hash splits leak test answers into train
    through surviving near-dups).

    ``groups`` is any ``(id, group_id)`` table — ``near_dup_groups`` /
    ``semdedup_groups`` / ``embedding_near_dup_groups`` output.  Rows
    absent from it are singletons and split by their OWN id, so on a
    group-free corpus this is row-identical to ``holdout_split``.
    Growth-stable like ``holdout_split`` as long as the group ids are
    (group_id = min member id: adding a doc that MERGES two groups
    re-keys one of them — the inherent price of keeping the invariant;
    measure the resulting assignment churn with ``split_churn`` before
    trusting a re-split of a grown corpus, or PIN it away, below).

    **Pinned re-split** (``pinned`` — VERDICT r11 #1): pass the previous
    run's ``(id, split)`` assignments and re-splitting a GROWN corpus
    becomes a guarantee instead of a measurement:

    - every previously-assigned document keeps its split VERBATIM (a
      document that was ever served as eval must never silently move
      into train — the Lee et al. §6.2 leakage window ``split_churn``
      measures is closed by construction);
    - a NEW document whose group contains pinned members follows them —
      and when a group merge spans pinned members of SEVERAL splits, the
      new document resolves TOWARD the most-eval pinned split (the
      latest name in ``fractions`` order: list fractions train-first,
      eval splits last).  Sending it to train would hand a near-dup of
      a frozen eval document to the trainer; sending it to the eval
      split adds no new leakage.
    - a new document in a group with no pinned member (or no group) gets
      the normal group-hash assignment.

    Frozen-members-never-move also bounds what pinning can fix: a group
    merge that already spans pinned members of two splits stays
    straddled (moving either member would break the freeze); retire or
    re-assign such groups explicitly.  ``pinned`` split names must all
    appear in ``fractions`` and must be non-NULL (a renamed split would
    silently freeze rows into a nonexistent split; a NULL pin would
    silently degrade to unpinned) — validated EAGERLY with one narrow
    column-scan job, the only action this otherwise-lazy builder runs.

    Shape: one left join of the corpus against the slim group table
    (AQE-sided; broadcast while the group table is small) + the same
    codegen CASE as ``holdout_split``; group members land in one range
    because they share one bucket.  Pinning adds one slim join against
    ``pinned`` (8-byte id + small string) and one ``(group key →
    max split priority)`` aggregate over the pinned rows only — all
    narrow hash shuffles, nothing collects.

    ``groups_id_col`` defaults to ``id_col`` — the group producers name
    their id column after THEIR input id column, so the default composes
    directly with ``near_dup_groups(docs, "doc_id", ...)`` output.
    ``hash_bucket`` is an integer contract: non-integral id/group-id
    types would cast to NULL and silently land every row in the LAST
    split, so they are rejected loudly."""
    if groups_id_col is None:
        groups_id_col = id_col
    _require_integral(df, id_col, "grouped_holdout_split id_col")
    _require_integral(groups, group_col, "grouped_holdout_split group_col")
    joined = df.join(
        groups.select(
            F.col(groups_id_col).alias(id_col),
            F.col(group_col).alias("__gid"),
        ),
        id_col,
        "left",
    )
    key = F.coalesce(F.col("__gid"), F.col(id_col))
    if pinned is None:
        return joined.withColumn(
            split_col, _split_expr(hash_bucket(key), fractions)
        ).drop("__gid")

    _require_integral(pinned, id_col, "grouped_holdout_split pinned id_col")
    names = list(fractions)
    # Duplicate pinned ids (e.g. concatenated assignment runs) would fan
    # out corpus rows through the left join below, silently duplicating
    # documents in the returned table (ADVICE r12): collapse exact
    # (id, split) repeats, and reject ids pinned to CONFLICTING splits —
    # there is no sound way to freeze one id into two splits.
    from restructure_hdfs_topic_spark.caching import scoped_persist

    # Persisted (r13, guide §5): the pinned table is consumed FIVE ways —
    # two eager validation jobs here, the per-row freeze join and the
    # per-group max-priority aggregate inside the returned plan, and
    # typically a churn audit downstream.  When ``pinned`` is itself a
    # derived plan (the previous run's full split derivation, as in a
    # re-split), every consumer re-executed that whole lineage; one
    # narrow (id, split) persist caps it at one execution, and the
    # validation actions below are what populate the cache.
    pin = scoped_persist(
        pinned.select(F.col(id_col), F.col(split_col).alias("__pin"))
        .dropDuplicates([id_col, "__pin"]),
        scope="sampling.grouped_holdout.pin",
    )
    # Validating on the deduped projection is exact: dropDuplicates only
    # collapses identical (id, split) repeats, so NULL/unknown split
    # offenders survive into ``pin``.
    _validate_pinned_splits(pin, "__pin", names)
    _validate_pinned_unique(pin, id_col)
    joined = joined.join(pin, id_col, "left")
    # Per-group most-eval pinned split, built from the pinned table (not
    # the corpus): priority = position in fractions order (later = more
    # eval).  Keying the PINNED ids through the new group table means a
    # pinned document that has since LEFT the corpus still guards its
    # surviving group — its near-dups carry its content, so a new member
    # must not land in train just because the frozen eval doc was removed.
    grp_pin = (
        pin.join(
            groups.select(
                F.col(groups_id_col).alias(id_col),
                F.col(group_col).alias("__pgid"),
            ),
            id_col,
            "left",
        )
        .select(
            F.coalesce(F.col("__pgid"), F.col(id_col)).alias("__key"),
            _split_priority(F.col("__pin"), names).alias("__p"),
        )
        .groupBy("__key")
        .agg(F.max("__p").alias("__gp"))
    )
    joined = joined.join(grp_pin, key == F.col("__key"), "left")
    assigned = F.coalesce(
        F.col("__pin"),  # frozen verbatim
        _priority_split(F.col("__gp"), names),  # follow the pinned group
        _split_expr(hash_bucket(key), fractions),  # genuinely new
    )
    return joined.withColumn(split_col, assigned).drop(
        "__gid", "__pin", "__key", "__gp"
    )


def _validate_pinned_splits(
    pinned: DataFrame, split_col: str, names: list[str]
) -> None:
    """Reject pinned assignments naming splits absent from ``fractions``
    (a renamed/typo'd split would otherwise freeze rows into a split
    that no longer exists) or NULL (an ambiguous pin would silently
    degrade to unpinned).  Exact — the filter scans for offenders
    directly instead of sampling distinct values — and bounded: at most
    5 offending rows collect."""
    bad = F.col(split_col).isNull() | ~F.col(split_col).isin(names)
    offenders = [
        r[0] for r in pinned.select(split_col).filter(bad).limit(5).collect()
    ]
    if offenders:
        raise ValueError(
            f"pinned assignments contain split names not in fractions "
            f"(or NULL): {sorted(set(offenders), key=str)} "
            f"(fractions: {names})"
        )


def _validate_pinned_unique(pin: DataFrame, id_col: str) -> None:
    """Reject ids pinned to more than one DISTINCT split (exact repeats
    were already collapsed by the caller's dropDuplicates): a conflicted
    pin cannot be frozen verbatim, and picking a winner silently would
    move documents between splits — the churn the pinned path exists to
    prevent.  Bounded: at most 5 offending ids collect."""
    offenders = [
        r[0]
        for r in pin.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select(id_col)
        .limit(5)
        .collect()
    ]
    if offenders:
        raise ValueError(
            f"pinned assignments contain ids pinned to multiple distinct "
            f"splits (first {len(offenders)}: {sorted(offenders)}) — "
            "resolve the conflicts before re-splitting"
        )


def _split_priority(col: F.Column, names: list[str]) -> F.Column:
    """Split name → its position in ``fractions`` order (int)."""
    expr = F.when(col == names[0], F.lit(0))
    for i, n in enumerate(names[1:], 1):
        expr = expr.when(col == n, F.lit(i))
    return expr


def _priority_split(col: F.Column, names: list[str]) -> F.Column:
    """Inverse of ``_split_priority``: position → split name."""
    expr = F.when(col == 0, F.lit(names[0]))
    for i, n in enumerate(names[1:], 1):
        expr = expr.when(col == i, F.lit(n))
    return expr


def assignment_churn(
    prev: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Diff two ASSIGNMENT tables (the generic counterpart of
    ``split_churn``, which re-derives assignments from corpora + group
    tables): one row per document whose split changed, with ``reason``
    one of ``added`` / ``removed`` / ``moved``.  The churn-zero witness
    for pinned re-splits reads: ``assignment_churn(prev, resplit)`` over
    a grown corpus with ``pinned=prev`` contains ONLY ``added`` rows.

    Shape: one full outer join on the 8-byte id — SQL-expressible, so it
    carries a DuckDB oracle."""
    _require_integral(prev, id_col, "assignment_churn prev id_col")
    _require_integral(new, id_col, "assignment_churn new id_col")
    p = prev.select(F.col(id_col).alias("id"), F.col(split_col).alias("prev_split"))
    n = new.select(F.col(id_col).alias("id"), F.col(split_col).alias("new_split"))
    j = p.join(n, "id", "full_outer")
    reason = (
        F.when(F.col("prev_split").isNull(), F.lit("added"))
        .when(F.col("new_split").isNull(), F.lit("removed"))
        .otherwise(F.lit("moved"))
    )
    return (
        j.filter(~F.col("prev_split").eqNullSafe(F.col("new_split")))
        .select(
            F.col("id").alias(id_col),
            "prev_split",
            "new_split",
            reason.alias("reason"),
        )
    )


def split_churn(
    prev_docs: DataFrame,
    new_docs: DataFrame,
    prev_groups: DataFrame,
    new_groups: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    group_col: str = "group_id",
) -> DataFrame:
    """Diagnostic for re-splitting a GROWN corpus with
    ``grouped_holdout_split``: which documents changed split between the
    previous (corpus, group table) and the new one, and why.

    ``grouped_holdout_split`` keys the split on ``group_id = min member
    id``, so adding a document that MERGES two near-dup groups re-keys
    one side and silently moves its members between splits (the inherent
    price of the min-member invariant, documented there).  This reports
    the churn so users can BOUND the leakage window when they re-split
    (Lee et al. 2021's motivation: a test doc moved into train leaks its
    answers to every model trained after the move).

    Returns ``(id, prev_split, new_split, reason)`` — one row per
    document whose assignment changed, with ``reason`` one of:

    - ``added`` / ``removed`` — the doc entered/left the corpus
      (``prev_split`` / ``new_split`` NULL respectively);
    - ``group_rekey`` — grouped before and after, under different group
      ids (a merge or split of near-dup groups);
    - ``grouped`` / ``ungrouped`` — the doc gained/lost near-dup group
      membership (e.g. a new duplicate of it arrived), moving its split
      key between its own id and a group id.

    Shape: two left joins of the id universes against their slim group
    tables + one full outer join on id, all narrow 8-byte-key hash
    joins; the split CASEs are the SAME ``_split_expr`` tiling the real
    splitter uses, so the diagnostic can never disagree with it.
    """
    _require_integral(prev_docs, id_col, "split_churn prev id_col")
    _require_integral(new_docs, id_col, "split_churn new id_col")
    _require_integral(prev_groups, group_col, "split_churn prev group_col")
    _require_integral(new_groups, group_col, "split_churn new group_col")

    def _keyed(docs: DataFrame, groups: DataFrame, gid: str) -> DataFrame:
        return docs.select(F.col(id_col).alias("id")).join(
            groups.select(
                F.col(id_col).alias("id"), F.col(group_col).alias(gid)
            ),
            "id",
            "left",
        )

    prev = _keyed(prev_docs, prev_groups, "__pgid").withColumn(
        "__in_prev", F.lit(True)
    )
    new = _keyed(new_docs, new_groups, "__ngid").withColumn(
        "__in_new", F.lit(True)
    )
    j = prev.join(new, "id", "full_outer")
    in_prev = F.coalesce(F.col("__in_prev"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    prev_split = F.when(
        in_prev,
        _split_expr(hash_bucket(F.coalesce(F.col("__pgid"), F.col("id"))), fractions),
    )
    new_split = F.when(
        in_new,
        _split_expr(hash_bucket(F.coalesce(F.col("__ngid"), F.col("id"))), fractions),
    )
    reason = (
        F.when(~in_prev, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(
            F.col("__pgid").isNotNull() & F.col("__ngid").isNotNull(),
            F.lit("group_rekey"),
        )
        .when(F.col("__ngid").isNotNull(), F.lit("grouped"))
        .otherwise(F.lit("ungrouped"))
    )
    return (
        j.withColumn("prev_split", prev_split)
        .withColumn("new_split", new_split)
        .filter(~F.col("prev_split").eqNullSafe(F.col("new_split")))
        .select(
            F.col("id").alias(id_col), "prev_split", "new_split", reason.alias("reason")
        )
    )


_COARSE_BITS = 16


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    budgets: dict[str, int],
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """TOKEN-budgeted subset selection ("take a 10B-token slice of web,
    2B of code"): per stratum, documents are taken in deterministic hash
    order until the running token total reaches the budget — keep a doc
    iff the token sum of the docs BEFORE it (hash order, id tie-break) is
    still under the stratum's budget.  The boundary-crossing doc is kept,
    so the sample reaches its budget exactly when the stratum can supply
    it (total ≤ budget + one document).  Strata without a budget drop.

    Monotone: a larger budget's sample is a superset (same order, longer
    prefix) — staged token-scaling experiments stay comparable.

    Scale shape — the naive form is a per-stratum TOTAL sort (one task
    sorts a whole stratum at 100 TB); instead:

    1. one map-side-combined count of token sums per (stratum, coarse
       bucket = top 16 hash bits) — a bounded |strata|·65536-row collect,
       the same metadata contract as ``mixture_sample``;
    2. driver-side prefix sums find each stratum's boundary bucket B and
       the in-bucket remainder;
    3. buckets < B keep entirely (narrow filter, no shuffle); ONLY bucket
       B — 1/65536 of the stratum — pays a window cumsum.

    The result is row-identical to the naive per-document rule (including
    zero-token documents at the exact boundary, which follow the strict
    ``sum-before < budget`` comparison).
    """
    budgets = {k: int(v) for k, v in budgets.items()}
    if not budgets:
        raise ValueError("budgets must name at least one stratum")
    b = hash_bucket(id_col)
    coarse = F.shiftright(b, 32 - _COARSE_BITS)
    tagged = df.filter(F.col(strata_col).isin(list(budgets)))
    per: dict[str, dict[int, int]] = {}
    for r in (
        tagged.groupBy(F.col(strata_col).alias("__s"), coarse.alias("__c"))
        .agg(F.sum(F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0))).alias("__t"))
        .collect()
    ):
        per.setdefault(r["__s"], {})[r["__c"]] = r["__t"]
    n_buckets = 1 << _COARSE_BITS
    boundary: dict[str, int] = {}
    remainder: dict[str, int] = {}
    for s, bud in budgets.items():
        cum, bnd, rem = 0, n_buckets, 0  # default: budget >= total, keep all
        for c in sorted(per.get(s, {})):
            t = per[s][c]
            if cum + t >= bud:
                bnd, rem = c, bud - cum
                break
            cum += t
        boundary[s] = bnd
        remainder[s] = rem
    bnd_expr = F.lit(-1).cast("long")
    rem_expr = F.lit(0).cast("long")
    for s in sorted(budgets):
        bnd_expr = F.when(F.col(strata_col) == s, F.lit(boundary[s])).otherwise(bnd_expr)
        rem_expr = F.when(F.col(strata_col) == s, F.lit(remainder[s])).otherwise(rem_expr)
    bulk = tagged.filter(coarse < bnd_expr).select(*df.columns)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(strata_col)
        .orderBy(b.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    edge = (
        tagged.filter(coarse == bnd_expr)
        .withColumn(
            "__cum",
            F.coalesce(
                F.sum(F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0))).over(w),
                F.lit(0),
            ),
        )
        .filter(F.col("__cum") < rem_expr)
        .select(*df.columns)
    )
    return bulk.unionByName(edge)


def epoch_upsample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    epochs: dict[str, float],
) -> DataFrame:
    """Deterministic fractional-epoch replication — the UPSAMPLING side
    of mixture construction (GPT-3 table 2.2 / LLaMA table 1 state
    per-source "epochs elapsed": scarce high-quality sources repeat,
    web crawl runs under one epoch).  Each document in stratum ``s``
    emits ``floor(e_s)`` copies, plus one more for the deterministic
    ``hash_bucket`` leading fraction ``frac(e_s)`` of ids — stratum
    token mass lands at exactly ``e_s`` epochs in expectation, and the
    fractional subset NESTS with ``hash_sample``/``mixture_sample``'s
    thresholds (same bucket function), so staged experiments stay
    comparable.  ``e_s < 1`` is plain deterministic downsampling.

    Output: input columns + ``epoch`` (0-based copy index) — feed
    ``epoch_shuffle``/``pack_sequences`` so copies spread across shards
    instead of sitting adjacent.  Strata absent from ``epochs`` are
    DROPPED (``mixture_sample``'s contract).  Zero-copy rows (bucket
    outside a sub-1 fraction) vanish via the non-outer explode.

    Shape: one narrow projection + explode — no shuffle, no join, no
    driver-side counts; the blow-up factor is exactly the requested
    epoch total.  Engine-portable integer arithmetic throughout
    (DuckDB-reproducible; cross-check in tests/test_operators.py)."""
    import math

    spec = {s: float(e) for s, e in epochs.items() if float(e) > 0}
    if not spec:
        raise ValueError("epochs must contain a positive factor")
    whole = F.lit(None).cast("int")
    thresh = F.lit(None).cast("long")
    for s, e in sorted(spec.items()):
        w = int(math.floor(e))
        # int(e*MOD) - w*MOD (NOT round((e-w)*MOD)): bit-identical to
        # hash_sample's int(rate*MOD) truncation, so the fractional
        # subset's nesting guarantee holds at the threshold bucket too.
        frac_th = int(e * MOD) - w * MOD
        whole = F.when(F.col(strata_col) == s, F.lit(w)).otherwise(whole)
        thresh = F.when(F.col(strata_col) == s, F.lit(frac_th)).otherwise(thresh)
    n_copies = (whole + (hash_bucket(id_col) < thresh).cast("int")).alias("__n")
    step = df.filter(F.col(strata_col).isin(list(spec))).withColumn(
        "__n", n_copies
    )
    copies = F.when(
        F.col("__n") > 0, F.sequence(F.lit(0), F.col("__n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        step.withColumn("epoch", F.explode(copies))
        .drop("__n")
    )


def unimax_allocation(
    counts: dict[str, int], total_budget: int, max_epochs: float = 4.0
) -> dict[str, int]:
    """UniMax per-stratum token budgets (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining", Algorithm 1): waterfill the total budget
    uniformly over strata, capping every stratum at ``max_epochs``
    repetitions of its supply — scarce strata cap out, the freed budget
    redistributes to the rest.  The paper's answer to temperature
    sampling's twin failure modes (high T over-repeats tail languages,
    low T starves them).

    Exact integer waterfill, driver-side over the bounded per-stratum
    counts: strata visit in ascending ``(cap, name)`` order so every cap
    binds before the uniform shares settle; each uncapped stratum takes
    ``remaining // strata_left`` (floor — at most |strata|-1 tokens of
    the budget go unallocated, and nothing is allocated past
    ``min(budget, Σ caps)``).  Deterministic for any dict order.
    """
    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be > 0")
    # floor(n·max_epochs) on a 1e-9 grid — int(10 * 0.7) would read 6
    # (0.7 is 6.999…99 in binary) and cap a stratum one token under its
    # entitled budget.
    e_grid = round(max_epochs * 10**9)
    caps = {s: int(n) * e_grid // 10**9 for s, n in counts.items()}
    remaining = int(total_budget)
    alloc: dict[str, int] = {}
    order = sorted(caps, key=lambda s: (caps[s], s))
    for i, s in enumerate(order):
        share = remaining // (len(order) - i)
        alloc[s] = min(caps[s], share)
        remaining -= alloc[s]
    return alloc


def unimax_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    total_budget: int,
    max_epochs: float = 4.0,
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """Realize a UniMax allocation as concrete training rows: input
    columns + ``epoch`` (0-based copy index, like ``epoch_upsample``).

    Per stratum with allocation ``b`` over supply ``n``: every document
    emits ``b // n`` whole-epoch copies, and the last partial epoch is
    the deterministic hash-order token prefix of ``b mod n`` tokens
    (``token_budget_sample``'s exact rule — the boundary-crossing doc is
    kept, so a stratum lands within one document of its budget).  Strata
    allocated zero rows vanish; strata with zero-token supply cannot
    absorb budget and drop (their cap is 0).

    Shape: ONE bounded per-stratum token-count collect (the
    ``mixture_sample`` metadata contract) + pure-driver waterfill + the
    existing shuffle-free realization plans (projection+explode for
    whole copies; ``token_budget_sample``'s coarse-bucket prefix for the
    partial epoch — only 1/65536 of each stratum pays a window).
    """
    counts = {
        r["__s"]: int(r["__t"])
        for r in df.groupBy(F.col(strata_col).alias("__s"))
        .agg(
            F.sum(
                F.coalesce(F.col(n_tokens_col).cast("long"), F.lit(0))
            ).alias("__t")
        )
        .collect()
        if r["__s"] is not None
    }
    if not counts:
        raise ValueError(f"unimax_sample: no strata found in {strata_col!r}")
    alloc = unimax_allocation(counts, total_budget, max_epochs)
    whole_epochs = {s: alloc[s] // counts[s] for s in alloc if counts[s] > 0}
    partial = {
        s: alloc[s] - whole_epochs[s] * counts[s]
        for s in whole_epochs
        if alloc[s] - whole_epochs[s] * counts[s] > 0
    }

    parts = []
    whole_spec = {s: e for s, e in whole_epochs.items() if e > 0}
    if whole_spec:
        n_expr = F.lit(None).cast("int")
        for s, e in sorted(whole_spec.items()):
            n_expr = F.when(F.col(strata_col) == s, F.lit(e)).otherwise(n_expr)
        parts.append(
            df.filter(F.col(strata_col).isin(list(whole_spec)))
            .withColumn("epoch", F.explode(F.sequence(F.lit(0), n_expr - 1)))
        )
    if partial:
        e_expr = F.lit(0)
        for s in sorted(partial):
            e_expr = F.when(
                F.col(strata_col) == s, F.lit(whole_epochs[s])
            ).otherwise(e_expr)
        parts.append(
            token_budget_sample(
                df, id_col, strata_col, partial, n_tokens_col=n_tokens_col
            ).withColumn("epoch", e_expr)
        )
    if not parts:
        return df.withColumn("epoch", F.lit(0)).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
