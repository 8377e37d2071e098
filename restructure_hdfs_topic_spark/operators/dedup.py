"""Deduplication operators (SURVEY O14/O15 + north-star scale dedup).

Reference semantics:
- O14 CSV dedup (format/CsvAvroConverterFactory.kt:22-56): key = all columns,
  or a ``distinctFields`` subset, or all minus ``ignoreFields``; KEEP THE
  LAST occurrence (by file order); per-topic config overrides
  (config/RestructureConfig.kt:233-265).
- O15 generic dedup (format/RecordConverterFactory.kt:62-84): exact
  distinct on the serialized line.

Spark-first: keep-last is a window ``row_number() == 1`` ordered by the
order column DESC; exact distinct is ``dropDuplicates``/``distinct`` —
both shuffle once on the key and scale linearly.  The north-star variants
(MinHash+LSH, SimHash, n-gram Jaccard) find NEAR-duplicates at 100 TB
without an O(n²) cross join: candidate generation is hash-bucketing
(shuffle on band/bucket key), verification joins only within buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from restructure_hdfs_topic_spark.functions.text import HASH_BASE, HASH_MOD


def keep_last_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    ignore_cols: list[str] | None = None,
) -> DataFrame:
    """O14: keep the LAST occurrence per key, by ``order_col``.

    ``key_cols=[]`` means "all columns except order/ignored" (the
    reference's default full-row key, format/CsvAvroConverterFactory.kt:158-171).
    Map-valued keys compare by their sorted entries (``_orderable``).
    One shuffle on the key; no driver-side state.
    """
    if not key_cols:
        excluded = set(ignore_cols or []) | {order_col}
        key_cols = [c for c in df.columns if c not in excluded]
    keys = [_orderable(F.col(c), _field_type(df.schema, c)) for c in key_cols]
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _field_type(schema: StructType, name: str):
    """Type of ``name`` — a top-level column or a dotted struct path like
    ``value.tags`` — or None when it does not resolve."""
    if name in schema.fieldNames():
        return schema[name].dataType
    dtype = schema
    for part in name.split("."):
        if not isinstance(dtype, StructType) or part not in dtype.fieldNames():
            return None
        dtype = dtype[part].dataType
    return dtype


def _has_map(dtype) -> bool:
    if isinstance(dtype, MapType):
        return True
    if isinstance(dtype, ArrayType):
        return _has_map(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(_has_map(f.dataType) for f in dtype.fields)
    return False


def _orderable(col: F.Column, dtype) -> F.Column:
    """Grouping form of a key column: maps are not orderable, so a window
    cannot partition on them (EXPRESSION_TYPE_IS_NOT_ORDERABLE).  A map
    becomes its entries sorted by key — records whose maps differ only in
    entry order key together — recursing through map values, arrays and
    structs that hold maps.  Columns without maps pass through unchanged."""
    if not _has_map(dtype):
        return col
    if isinstance(dtype, MapType):
        entries = F.map_entries(col)
        if _has_map(dtype.valueType):
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    e["key"].alias("key"),
                    _orderable(e["value"], dtype.valueType).alias("value"),
                ),
            )
        return F.array_sort(entries)
    if isinstance(dtype, ArrayType):
        return F.transform(col, lambda x: _orderable(x, dtype.elementType))
    return F.when(
        col.isNotNull(),
        F.struct(*[_orderable(col[f.name], f.dataType).alias(f.name) for f in dtype.fields]),
    )


def exact_dedup(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """O15: exact distinct (full row or key subset, keeping first arbitrary row)."""
    return df.dropDuplicates(key_cols) if key_cols else df.distinct()


# ---------------------------------------------------------------------------
# North-star near-duplicate detection.  All hash arithmetic is deterministic
# integer math on int64 (no JVM hash functions) so results are reproducible
# across engines and cluster sizes.
# ---------------------------------------------------------------------------


def shingles_from(toks: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingle array from an ALREADY-PROJECTED token array
    column.  The token source must be a plain column reference: inlining
    ``split(text)`` here would re-execute the split for every element_at —
    3 full-text splits per shingle, quadratic in document length (the real
    cost behind BENCH_r01's 26.9 s minhash)."""
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), k - F.lit(1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
    )
    # sequence(0, k-1) would generate a DESCENDING range when k <= 0 —
    # guard short documents to an empty shingle set instead.
    return F.when(k > 0, grams).otherwise(F.array().cast("array<string>"))


def _tokenize_hash(texts, lowercase: bool):
    """Shared flat-buffer tokenizer + vectorized token hash for the Arrow
    text kernels (minhash shingles, substring windows).  One byte buffer per
    batch, whitespace-run token boundaries, char-polynomial hash via a power
    table + ``np.add.reduceat``, splitmix64 finalization — O(total bytes)
    with no per-token Python.

    Returns ``(th, tdoc)`` — uint64 token hashes and each token's 0-based
    document index — or ``(None, None)`` for a tokenless batch.  Caller is
    responsible for any window masking across document boundaries.
    """
    import numpy as np

    B = np.uint64(HASH_BASE)
    MIX1, MIX2 = np.uint64(0xBF58476D1CE4E5B9), np.uint64(0x94D049BB133111EB)
    joined = ("\n".join(texts)).encode("utf-8", "surrogatepass") + b"\n"
    arr = np.frombuffer(joined, dtype=np.uint8)
    doc_bytes = np.fromiter(
        (len(t.encode("utf-8", "surrogatepass")) + 1 for t in texts),
        dtype=np.int64,
        count=len(texts),
    )
    doc_end = np.cumsum(doc_bytes)
    with np.errstate(over="ignore"):
        if lowercase:
            arr = arr.copy()
            upper = (arr >= 65) & (arr <= 90)
            arr[upper] += 32
        ws = (arr == 32) | ((arr >= 9) & (arr <= 13))
        # The injected "\n" separators are whitespace, so tokens never span
        # documents.
        prev_ws = np.empty_like(ws)
        prev_ws[0] = True
        prev_ws[1:] = ws[:-1]
        starts = np.flatnonzero(~ws & prev_ws)
        next_ws = np.empty_like(ws)
        next_ws[-1] = True
        next_ws[:-1] = ws[1:]
        ends = np.flatnonzero(~ws & next_ws) + 1
        if not len(starts):
            return None, None
        tok_len = ends - starts
        # Polynomial hash: byte * B^(distance from token end).
        pos = np.arange(len(arr), dtype=np.int64)
        in_tok = ~ws
        tok_id_of_byte = np.cumsum(~ws & prev_ws) - 1  # valid where in_tok
        exp = np.zeros(len(arr), dtype=np.int64)
        exp[in_tok] = ends[tok_id_of_byte[in_tok]] - 1 - pos[in_tok]
        bpow = np.empty(int(tok_len.max()), dtype=np.uint64)
        bpow[0] = np.uint64(1)
        for i in range(1, len(bpow)):
            bpow[i] = bpow[i - 1] * B
        contrib = np.zeros(len(arr), dtype=np.uint64)
        contrib[in_tok] = arr[in_tok].astype(np.uint64) * bpow[exp[in_tok]]
        th = np.add.reduceat(contrib, starts)
        th = th * MIX1 + tok_len.astype(np.uint64)
        th ^= th >> np.uint64(31)
        th *= MIX2
        th ^= th >> np.uint64(29)
        # Doc index per token from the token's start byte.
        tdoc = np.searchsorted(doc_end, starts, side="right")
    return th, tdoc


def _window_hashes(th, k: int):
    """Order-dependent 64-bit hash of every run of ``k`` consecutive token
    hashes (weighted wrap-sum + avalanche) — shared by the shingle and
    substring-window kernels.  Returns an array of ``len(th) - k + 1``
    hashes; the caller masks windows that cross document boundaries."""
    import numpy as np

    MIX1 = np.uint64(0xBF58476D1CE4E5B9)
    coef = (
        np.arange(k, dtype=np.uint64) * np.uint64(2) + np.uint64(0x9E3779B97F4A7C15)
    ) | np.uint64(1)
    m = len(th) - k + 1
    with np.errstate(over="ignore"):
        wh = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            wh += th[j : j + m] * coef[j]
        wh ^= wh >> np.uint64(33)
        wh *= MIX1
        wh ^= wh >> np.uint64(28)
    return wh


def _minhash_kernel(n: int, num_hashes: int):
    """Arrow ``mapInPandas`` kernel: (id, text) → (id, hashed, sig) — the
    whole shingle→hash→minhash chain as VECTORIZED numpy over one flat byte
    buffer per batch (the round-2 profile's last interpreted hot spot was
    exactly this chain as Catalyst higher-order lambdas, ~15 µs/element-op).

    Everything is O(total bytes) with no per-token Python:

    - token boundaries from whitespace runs on the uint8 view (ASCII
      lowercase applied vectorized; matches the JVM path's ``\\s+`` split
      for ASCII corpora);
    - token hash = char-polynomial mod 2^64 via a power table +
      ``np.add.reduceat``, length-mixed and finalized with a splitmix64
      avalanche;
    - shingle hash = weighted wrap-sum of ``n`` consecutive token hashes
      (doc-crossing windows masked out), distinct per doc via lexsort;
    - signature = ``np.minimum.reduceat`` per affine function.

    Hash values differ from the JVM ``xxhash64`` variant — immaterial:
    hashes are internal to this pipeline (banding + hashed-set Jaccard),
    and any collision-resistant 64-bit family yields the same verified
    pairs up to 2^-64 collisions.  Docs with no shingles are dropped (they
    can never verify at a positive threshold).
    """

    def kernel(batches):
        import numpy as np
        import pandas as pd

        MOD = np.uint64(HASH_MOD)
        a_vec = (np.arange(num_hashes, dtype=np.uint64) * np.uint64(2)) + np.uint64(1)
        b_vec = np.uint64(7919) * (np.arange(num_hashes, dtype=np.uint64) + np.uint64(1))

        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf.iloc[:, 1].fillna("")
            ids = pdf.iloc[:, 0].to_numpy()
            th, tdoc = _tokenize_hash(texts, lowercase=True)
            if th is None or len(th) < n:
                continue
            with np.errstate(over="ignore"):
                # Shingle hash over n consecutive token hashes.
                m = len(th) - n + 1
                sh = _window_hashes(th, n)
                valid = tdoc[:m] == tdoc[n - 1 :]
                sh = sh[valid]
                sdoc = tdoc[:m][valid]
                if not len(sh):
                    continue
                # Distinct (doc, shingle-hash).
                order = np.lexsort((sh, sdoc))
                sh, sdoc = sh[order], sdoc[order]
                keep = np.empty(len(sh), dtype=bool)
                keep[0] = True
                keep[1:] = (sh[1:] != sh[:-1]) | (sdoc[1:] != sdoc[:-1])
                sh, sdoc = sh[keep], sdoc[keep]
                counts = np.bincount(sdoc, minlength=len(texts))
                present = np.flatnonzero(counts)
                offsets = np.concatenate(([0], np.cumsum(counts[present])))[:-1]
                # Signatures: affine family over h mod HASH_MOD, min per doc.
                hm = sh % MOD
                sig = np.empty((num_hashes, len(present)), dtype=np.int64)
                for i in range(num_hashes):
                    sig[i] = np.minimum.reduceat(
                        (hm * a_vec[i] + b_vec[i]) % MOD, offsets
                    ).astype(np.int64)
            hashed_lists = np.split(sh.astype(np.int64), np.cumsum(counts[present])[:-1])
            yield pd.DataFrame(
                {
                    "id": ids[present],
                    "hashed": hashed_lists,
                    "sig": list(sig.T),
                }
            )

    return kernel


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """The 100 TB near-dup pipeline in ONE plan: hashed shingles → minhash
    signatures → LSH band buckets → candidate pairs → exact Jaccard
    verification over the SAME hashed shingle arrays (no re-shingling, no
    re-hashing of the text — BENCH_r01 recomputed shingles three times).

    Returns (id_a, id_b, jaccard ≥ threshold).  Jaccard over distinct
    hashed shingles equals Jaccard over shingles modulo hash collisions
    (2^-64 per pair) — this path is approximate by construction (LSH
    recall < 1), hence rows-only correctness.

    Shingling + hashing + signatures run in one Arrow numpy kernel
    (``_minhash_kernel``) — O(bytes), no interpreted higher-order
    expressions; banding and Jaccard verification stay JVM-side.
    """
    # The hashed-shingle frame feeds three plan branches (signatures + both
    # verification sides); persist it spill-safely instead of recomputing.
    # At cluster scale this is an executor-local cache of one long array per
    # document — far smaller than the text it derives from.  Scoped so a
    # repeated caller (bench warm loop, a service) holds ONE generation,
    # not one per call (CacheManager never self-reclaims).
    from restructure_hdfs_topic_spark.caching import scoped_persist

    id_type = df.schema[id_col].dataType.simpleString()
    hashed = scoped_persist(
        df.select(F.col(id_col).alias("id"), F.col(text_col).cast("string").alias("text"))
        .mapInPandas(
            _minhash_kernel(n, num_hashes),
            # schema follows the id column's actual type (string ids are
            # legal), matching the simhash/substring kernels
            schema=f"id {id_type}, hashed array<long>, sig array<long>",
        ),
        scope="dedup.lsh_near_dup_pairs.hashed",
    )
    cands = lsh_candidate_pairs(hashed.select("id", "sig"), bands, rows_per_band)
    a = hashed.select(F.col("id").alias("id_a"), F.col("hashed").alias("sh_a"))
    b = hashed.select(F.col("id").alias("id_b"), F.col("hashed").alias("sh_b"))
    pairs = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_BAND_EXPR_MEMO: dict = {}


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: documents agreeing on ALL rows of any band become a
    candidate pair.  Shuffle key = (band index, band slice) — this is the
    scale path: no O(n²) compare, bucket sizes bounded by collision rate.

    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    # The banding expression is a constant tree over the unresolved "sig"
    # column (~600 py4j round-trips to build); memoized per
    # (bands, rows_per_band) — unresolved Columns are reusable across
    # DataFrames within one JVM gateway (r13 construction-cost profile).
    from restructure_hdfs_topic_spark.session import session_epoch

    # Gateway epoch in the key (ADVICE r13 #1): the memoized Column is a
    # py4j handle — dead if the gateway is ever replaced in-process.
    _bk_key = (session_epoch(), bands, rows_per_band)
    bk = _BAND_EXPR_MEMO.get(_bk_key)
    if bk is None:
        bk = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice("sig", b * rows_per_band + 1, rows_per_band).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk")
        # Drop handles from a replaced gateway, keep same-epoch siblings.
        for k in [k for k in _BAND_EXPR_MEMO if k[0] != _bk_key[0]]:
            _BAND_EXPR_MEMO.pop(k, None)
        _BAND_EXPR_MEMO[_bk_key] = bk
    banded = signatures.select("id", bk).select(
        "id", "bk.band", F.col("bk.key").cast("array<long>").alias("key")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    With ``candidates`` (e.g. from LSH) this verifies only candidate pairs —
    the 100 TB path.  Without, it does the O(n²) self-join — correct
    baseline for oracle checks at small SF.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    docs = df.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__toks"),
    ).select("id", F.array_distinct(shingles_from(F.col("__toks"), n)).alias("sh"))
    a = docs.alias("a")
    b = docs.alias("b")
    if candidates is not None:
        pairs = (
            candidates.join(a, candidates.id_a == F.col("a.id"))
            .join(b, candidates.id_b == F.col("b.id"))
            .select("a.id", "a.sh", F.col("b.id").alias("id_b2"), F.col("b.sh").alias("sh_b"))
            .toDF("id_a", "sh_a", "id_b", "sh_b")
        )
    else:
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.sh").alias("sh_b"),
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _band_layout(bits: int, max_hamming: int, bands: int | None) -> tuple[list[int], list[int]]:
    """(starts, widths) of the pigeonhole bit-bands.  Pigeonhole needs only
    SOME partition into ``bands`` bands; widths may be uneven (first
    ``bits % bands`` bands get one extra bit)."""
    bands = bands or (max_hamming + 1)
    if bands > bits:
        raise ValueError(f"bands={bands} exceeds bits={bits}")
    base, extra = divmod(bits, bands)
    starts, pos = [], 0
    for b in range(bands):
        starts.append(pos)
        pos += base + (1 if b < extra else 0)
    widths = [starts[b + 1] - starts[b] if b + 1 < bands else bits - starts[b] for b in range(bands)]
    return starts, widths


def _band_key(col, start: int, width: int) -> F.Column:
    """Band ``key`` of a fingerprint column: ``shiftrightunsigned`` so a
    64-bit fingerprint stored in a signed long (top bit set → negative)
    bands correctly — arithmetic shift would smear the sign bit across
    every band key.  Shared by ``_banded``'s explode AND the
    earliest-agreeing-band suppression so the two can never diverge.
    A full-width band (bands=1 at bits=64) needs no mask — and cannot
    have one: (1 << 64) - 1 overflows ``F.lit``'s long."""
    key = F.shiftrightunsigned(col, start)
    if width < 64:
        key = key.bitwiseAND(F.lit((1 << width) - 1))
    return key


def _banded(fp: DataFrame, hash_col: str, starts: list[int], widths: list[int]) -> DataFrame:
    """Explode (id, hash) into one row per pigeonhole band: (id, hash,
    band, key)."""
    bands = len(starts)

    def _key(b: int) -> F.Column:
        return _band_key(hash_col, starts[b], widths[b])

    return fp.select(
        "id",
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _key(b).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", hash_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def hamming_near_dup_pairs(
    hashed: DataFrame,
    id_col: str = "id",
    hash_col: str = "fingerprint",
    bits: int = 64,
    max_hamming: int = 3,
    bands: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Near-duplicate pairs of any integer fingerprint column with Hamming
    distance ≤ ``max_hamming`` — EXACT result via pigeonhole banding:
    split the fingerprint into ``max_hamming + 1`` bit-bands; any pair
    within distance k must agree exactly on at least one band, so a
    band-equality join generates a candidate superset and
    ``bit_count(xor)`` verifies.  Unlike MinHash-LSH this loses no pairs:
    same output as the O(n²) all-pairs scan, but the shuffle key is
    (band, band bits) — bounded buckets, no cross join.  Shared machinery
    for SimHash text fingerprints and perceptual image hashes (dHash).

    ``hashed`` must carry one row per item; NULL fingerprints (e.g. an
    undecodable image) are dropped — they can match nothing.

    Returns (id_a, id_b, hamming) with id_a < id_b.  A pair agreeing in
    several bands is emitted by its EARLIEST agreeing band only — a
    map-side codegen filter over the joined fingerprints (both ride the
    banded rows), so uniqueness is by construction and the plan has NO
    pair-dedup shuffle (the former ``dropDuplicates`` over the pair set
    was ~half the sf1 query: dense near-dup cliques make the pair set
    quadratic, 21M rows at 50k docs).  ``dedup=False`` skips even that
    filter — for consumers that absorb duplicates anyway (connected
    components' groupBy-min / contraction) the bands×shifts per
    candidate are pure waste.
    """
    starts, widths = _band_layout(bits, max_hamming, bands)
    fp = hashed.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("fp")
    ).filter(F.col("fp").isNotNull())
    banded = _banded(fp, "fp", starts, widths)
    left = banded.alias("l")
    right = banded.alias("r")
    ham = F.bit_count(F.col("l.fp").bitwiseXOR(F.col("r.fp"))).cast("bigint")
    # Verify (cheap bit_count on the joined row) map-side: the Hamming
    # filter drops most candidates before anything else sees them.
    cond = ham <= max_hamming
    if dedup:
        # Earliest-agreeing-band rule: the SAME _band_key extraction the
        # join's explode used, applied to BOTH fingerprints for every
        # band below this row's — if any earlier band agrees, that band
        # already emitted the pair.
        earlier = F.lit(False)
        for b in range(len(starts) - 1):
            agree = _band_key(F.col("l.fp"), starts[b], widths[b]) == _band_key(
                F.col("r.fp"), starts[b], widths[b]
            )
            earlier = earlier | ((F.col("l.band") > F.lit(b)) & agree)
        cond = cond & ~earlier
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .filter(cond)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            ham.alias("hamming"),
        )
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """SimHash near-duplicate pairs with Hamming distance ≤ ``max_hamming``
    — the pigeonhole banding of ``hamming_near_dup_pairs`` over the
    ``simhash`` fingerprint (see both docstrings for exactness).

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    # One (id, simhash) row per document feeds both join sides — persist so
    # the interpreted bit-vote folds run once, not once per side.  Scoped:
    # one live cache generation across repeated calls.
    from restructure_hdfs_topic_spark.caching import scoped_persist

    sims = scoped_persist(
        simhash(df, id_col, text_col, bits), scope="dedup.simhash_pairs.sims"
    )
    return hamming_near_dup_pairs(
        sims,
        id_col="id",
        hash_col="simhash",
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
        dedup=dedup,
    )


def _popcount64(a):
    """Vectorized 64-bit popcount (SWAR) — numpy < 2 has no bitwise_count."""
    import numpy as np

    v = a.astype(np.uint64)
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + (
        (v >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (v * np.uint64(0x0101010101010101)) >> np.uint64(56)


def simhash_component_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """SPARSIFIED near-dup edges for transitive grouping: same pigeonhole
    banding as ``simhash_near_dup_pairs``, but instead of emitting every
    verified pair (quadratic inside dense near-dup cliques — 4.4M edge
    rows at sf0.1 from 5k docs), each (band, key) bucket runs a LOCAL
    connected-components in its Arrow kernel and emits one spanning star
    edge per member: (local component min, id).  Exactness: any pair at
    Hamming ≤ k agrees on some band (pigeonhole), so both endpoints share
    that bucket and its local components — the union of local star edges
    over all buckets has the SAME transitive closure as the full verified
    pair set, with O(members) instead of O(members²) edges per bucket.

    The local CC is Shiloach-Vishkin-style: blocked XOR-popcount adjacency
    (row blocks sized to bound memory at any bucket size), min-label
    propagation, pointer-jump to root each round — O(log m) rounds.

    Returns (id_a, id_b) with id_a < id_b (id_a = local component min);
    singleton members emit nothing.
    """
    import pandas as pd

    starts, widths = _band_layout(bits, max_hamming, bands)
    # Single consumer — no persist needed (the grouping consumes the
    # fingerprints exactly once; CC eager-checkpoints the edge output).
    sims = simhash(df, id_col, text_col, bits)
    banded = _banded(sims, "simhash", starts, widths)

    def local_cc(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        h = pdf["simhash"].to_numpy().astype(np.int64)
        ids = pdf["id"].to_numpy().astype(np.int64)
        # Identical fingerprints are trivially one component — collapse to
        # UNIQUE fingerprints before any pairwise work, so an exact-dup
        # clique of any size costs one unique row, not O(size²) pairs.
        uniq, inv = np.unique(h, return_inverse=True)
        mu = len(uniq)
        # Matched unique-fp pairs from a blocked XOR-popcount sweep, built
        # ONCE (block rows bound the matrix at ~256 MB for any mu).
        block = max(256, min(4096, (1 << 25) // max(mu, 1)))
        ia_parts, ib_parts = [], []
        for s in range(0, mu, block):
            adj = _popcount64(uniq[s : s + block, None] ^ uniq[None, :]) <= max_hamming
            bi, bj = np.nonzero(adj)
            bi = bi + s
            keep = bi < bj  # upper triangle only; self/dup handled by uniq
            ia_parts.append(bi[keep])
            ib_parts.append(bj[keep])
        ia = np.concatenate(ia_parts) if ia_parts else np.empty(0, dtype=np.int64)
        ib = np.concatenate(ib_parts) if ib_parts else np.empty(0, dtype=np.int64)
        labels = np.arange(mu)
        # Shiloach-Vishkin min-label rounds over the pair arrays (each
        # round: scatter-min both directions, pointer-jump to root) —
        # O(pairs) vectorized per round, O(log mu) rounds.
        while len(ia):
            prev = labels.copy()
            np.minimum.at(labels, ia, labels[ib])
            np.minimum.at(labels, ib, labels[ia])
            while True:
                jumped = labels[labels]
                if np.array_equal(jumped, labels):
                    break
                labels = jumped
            if np.array_equal(labels, prev):
                break
        # Component representative = min document id over members (stable
        # under any partitioning: min is order-independent).
        member_root = labels[inv]  # unique-fp component per member
        rep = np.full(mu, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(rep, member_root, ids)
        roots = rep[member_root]
        keep = roots != ids
        return pd.DataFrame({"id_a": roots[keep], "id_b": ids[keep]})

    return banded.groupBy("band", "key").applyInPandas(
        local_cc, schema="id_a long, id_b long"
    )


def _doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``(id, shingle)`` — each document's DISTINCT n-token shingles,
    exploded.  Shared by both contamination directions
    (``shingle_contamination`` / ``benchmark_leak_report``) so the
    shingle construction cannot silently diverge between them."""
    from restructure_hdfs_topic_spark.functions.text import ngrams_from, tokens

    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    grammed = toked.select("id", ngrams_from(F.col("toks"), n).alias("grams"))
    return grammed.select(
        "id", F.explode(F.array_distinct("grams")).alias("shingle")
    )


# Bounded FIFO of memoized benchmark-shingle frames (VERDICT r13 #6):
# values are eagerly localCheckpoint'ed SMALL frames (eval-set shingle
# tables), whose blocks stay alive while referenced — the cap bounds
# block-manager pressure.
_BENCH_SHINGLE_MEMO: dict = {}
_BENCH_SHINGLE_MEMO_CAP = 16


def _memo_benchmark_frame(src: DataFrame, fp_cols, derive, tag, params):
    """Fingerprint-guarded memo of a BOUNDED benchmark-derived frame —
    the groups-memo discipline applied to the decontamination gates
    (VERDICT r13 #6): ``shingle_contamination``, ``contaminated_spans``
    and ``benchmark_leak_report`` each rebuild the same broadcast-side
    benchmark shingle set per call.  A repeated caller (bench warm loop,
    a decontamination service screening batch after batch against one
    eval suite) pays the tokenize→ngrams→explode→distinct derivation
    once; a memo hit costs one count+XOR-hash scan of the (small)
    benchmark subset, and a benchmark regenerated IN PLACE under an
    identical plan gets a fresh set (exact content fingerprint over
    ``fp_cols``).  The memoized value is an eager ``localCheckpoint`` —
    bounded by definition (eval sets, not corpora) and keyed by session
    epoch so a restarted session misses cleanly (ADVICE r13 #1).  Memo
    hits are reported to memostats, so bench numbers disclose when a
    warm iteration was memo-assisted."""
    from restructure_hdfs_topic_spark import memostats
    from restructure_hdfs_topic_spark.session import session_epoch

    memo_key = None
    try:
        fp = src.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in fp_cols])).alias("x"),
        ).collect()[0]
        memo_key = (
            session_epoch(src.sparkSession),
            src.select(*fp_cols)._jdf.queryExecution().analyzed().semanticHash(),
            tag,
            tuple(params),
            int(fp["n"]),
            int(fp["x"] or 0),
        )
    except Exception:
        pass
    hit = _BENCH_SHINGLE_MEMO.get(memo_key) if memo_key is not None else None
    memostats.record("bench_shingles", hit is not None)
    if hit is not None:
        return hit
    out = derive().localCheckpoint(eager=True)
    if memo_key is not None:
        if len(_BENCH_SHINGLE_MEMO) >= _BENCH_SHINGLE_MEMO_CAP:
            _BENCH_SHINGLE_MEMO.pop(next(iter(_BENCH_SHINGLE_MEMO)), None)
        _BENCH_SHINGLE_MEMO[memo_key] = out
    return out


def shingle_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check for training corpora: flag every
    corpus document sharing at least one n-token shingle with a benchmark
    /eval set — the standard n-gram-overlap decontamination gate (as
    published for GPT-3 §C / PaLM / Llama training-data filtering).

    Plan shape (100 TB): the benchmark's distinct shingle set is SMALL by
    definition (eval sets are thousands of documents, not billions) — it
    broadcasts; the corpus side explodes per-document distinct shingles
    and inner-joins the broadcast set map-side (no shuffle of corpus
    bytes), then one groupBy(id) counts hits.  Corpus documents with no
    hit survive via the final left join + coalesce(0).

    Returns (id, n_hit_shingles, contaminated) — one row per corpus doc.
    """
    # Memoized per benchmark content (VERDICT r13 #6): the ids are
    # dropped after the distinct, so the fingerprint covers text only —
    # two benchmarks with equal text multisets derive the same set.
    bench = _memo_benchmark_frame(
        benchmark,
        [text_col],
        lambda: _doc_shingles(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct(),
        "contamination",
        (n,),
    )
    hits = (
        _doc_shingles(corpus, id_col, text_col, n)
        .join(F.broadcast(bench), "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )
    ids = corpus.select(F.col(id_col).alias("id"))
    return ids.join(hits, "id", "left").select(
        "id",
        F.coalesce("n_hit_shingles", F.lit(0)).cast("bigint").alias("n_hit_shingles"),
        (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per token hash, bit b contributes +1/-1; the
    fingerprint sets bit b iff the sum is positive.  Near-dups share most
    bits → group by fingerprint (or banded substrings, see
    ``simhash_near_dup_pairs``) at scale.

    Returns (id, simhash: long).  Deterministic polynomial token hash —
    identical arithmetic to ``poly_hash`` (acc*131 + codepoint mod
    2^31-1), so any engine reproduces it.  Implemented as an Arrow-batched
    ``mapInPandas``: the column-expression form ran ``bits`` interpreted
    aggregate folds per document plus a per-character hash fold per token
    (~6 s/5k docs); here unique tokens hash once per batch and the bit
    votes are one numpy matrix reduction (~10× faster, same bits).
    """
    import pandas as pd

    def fingerprints(batches):
        import re

        import numpy as np

        # Java's \s is ASCII-only ([ \t\n\x0B\f\r]); Python's is Unicode —
        # use the explicit class so tokens match the JVM/DuckDB split.
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        base, mod = HASH_BASE, HASH_MOD
        bit_idx = np.arange(bits, dtype=np.int64)
        powers = (np.int64(1) << bit_idx).astype(np.int64)
        cache: dict[str, int] = {}

        def phash(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                acc = 0
                for ch in tok:
                    acc = (acc * base + ord(ch)) % mod
                cache[tok] = h = acc
            return h

        for pdf in batches:
            if not len(pdf):
                continue
            out = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                t = (text or "").strip().lower()
                toks = dict.fromkeys(ws.split(t))  # distinct, order-preserving
                h = np.fromiter((phash(tk) for tk in toks), dtype=np.int64, count=len(toks))
                if len(h):
                    ones = ((h[:, None] >> bit_idx) & 1).sum(axis=0)
                    votes = 2 * ones - len(h)
                    out[i] = int(powers[votes > 0].sum())
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), "simhash": out})

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        fingerprints, schema=f"id {id_type}, simhash long"
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 30,
    tail_edges: int = 200_000,
) -> DataFrame:
    """Connected components by CONTRACTION (star contraction + pointer
    jumping + a bounded local tail) — each outer round:

    1. star step: every edge endpoint points at ``min(self, min
       neighbor)`` — a forest of strictly-decreasing pointers (one
       groupBy-min over the edge list);
    2. pointer jumping on that forest (three composed ``rep ← rep(rep)``
       self-joins over the ENDPOINT table, never the edges).  No fixpoint
       loop: contraction is correct under ANY strictly-decreasing
       in-component map (merging a subset of each component is safe;
       whatever survives merges next round or in the tail), so the
       per-batch convergence-count job the round-2 profile paid is gone;
    3. contract: rewrite edges over the pointed-to labels and ``distinct``
       — dense near-dup cliques collapse to nothing, so the edge list
       shrinks geometrically and the EXPENSIVE pass over the full edge
       list is paid roughly once, not once per round.

    Once the contracted edge list fits ``tail_edges`` (default 200k ≈ a
    few MB), the remainder is solved in one driver-side union-find and
    re-labeled by component min — the standard finisher for contraction
    algorithms (cf. the local phase of big-star/small-star CC): the
    distributed rounds exist to SHRINK the graph, and burning one Spark
    job per log-step on a kilobyte-scale tail is pure fixed cost.  The
    collect is bounded by ``tail_edges`` regardless of corpus size; set
    ``tail_edges=0`` to force pure-distributed execution.

    The minimum id of a component never re-points (all neighbors are
    larger), so it survives every contraction and the tail labels by
    component min — labels are deterministic regardless of partitioning.

    Scale: per round the edge list participates in one groupBy-min, two
    rewrite joins and a distinct, all keyed on vertex ids — ordinary
    shuffle joins at any corpus size (nothing collects beyond the bounded
    tail, nothing broadcasts).  Lineage is truncated per step
    (localCheckpoint); under dynamic allocation / executor loss switch to
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for a
    resilient truncation point.

    Returns (id, group_id).
    """
    # EAGER checkpoint of the raw edge projection BEFORE symmetrizing: the
    # two union branches would otherwise each re-run however expensive the
    # upstream plan is (an LSH band join / per-bucket local CC) — within
    # one job a shared un-materialized parent is computed once per branch.
    raw = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).localCheckpoint(eager=True)
    n_edges = raw.count()
    if 0 < n_edges <= tail_edges:
        # Straight to the bounded tail: the union-find below is direction-
        # agnostic, so skip building/materializing the symmetric E entirely
        # (saves two jobs on the common already-sparse input).
        E = raw
    else:
        E = (
            raw.union(raw.select(F.col("d").alias("s"), F.col("s").alias("d")))
            .filter(F.col("s") != F.col("d"))
            .localCheckpoint(eager=False)
        )
        n_edges = E.count()

    def jump(r: DataFrame) -> DataFrame:
        """rep ← rep(rep): v strictly decreases along chains and every v
        is itself a key, so the left join always resolves."""
        a, b = r.alias("a"), r.alias("b")
        return a.join(b, F.col("a.v") == F.col("b.k"), "left").select(
            F.col("a.k").alias("k"),
            F.coalesce(F.col("b.v"), F.col("a.v")).alias("v"),
        )

    # Job-count note (the round-2 profile was dominated by per-job fixed
    # cost, not data): per round = star (1 job), jumped-rep checkpoint
    # (1), contract+count (1); the vertex mapping folds every round's
    # checkpointed rep table in ONE final job.
    round_reps: list[DataFrame] = []
    for _ in range(max_iters):
        if n_edges <= tail_edges:
            break
        # 1. Star step over the current (contracted) graph.
        rep = (
            E.groupBy("s")
            .agg(F.min("d").alias("md"))
            .select(F.col("s").alias("k"), F.least("s", "md").alias("v"))
            .localCheckpoint(eager=True)
        )
        # 2. Three composed pointer jumps (depth-8 chains resolve fully;
        # the common near-clique forest of depth ≤ 3 always does).  Eager
        # checkpoint so the contract's two rewrite joins share one
        # materialization of the jumped table.
        rep = jump(jump(jump(rep))).localCheckpoint(eager=True)
        round_reps.append(rep)
        # 3. Contract the edge list over the jumped labels; cross-tree
        # edges survive, intra-component edges vanish, so E shrinks
        # geometrically.  The rep side is tiny relative to E in dense
        # near-dup graphs — AQE broadcasts it.
        sr = rep.select(F.col("k").alias("sk"), F.col("v").alias("sv"))
        dr = rep.select(F.col("k").alias("dk"), F.col("v").alias("dv"))
        E = (
            E.join(sr, F.col("s") == F.col("sk"))
            .join(dr, F.col("d") == F.col("dk"))
            .select(F.col("sv").alias("s"), F.col("dv").alias("d"))
            .filter(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_edges = E.count()
    if n_edges > max(tail_edges, 1):
        # max_iters exhausted with the graph still above the tail budget
        # (or tail_edges=0 with edges left): collecting here would break
        # the documented bound and can OOM the driver at corpus scale —
        # fail loudly instead.
        raise RuntimeError(
            f"connected_components: {n_edges} edges remain after "
            f"{max_iters} contraction rounds (tail_edges={tail_edges}); "
            "raise max_iters or tail_edges"
        )
    if n_edges > 0:
        # Bounded local tail: union-find over ≤ tail_edges edges (or the
        # max_iters remainder), re-labeled by component min so tail labels
        # agree with what further contraction rounds would converge to.
        rows = E.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            ra, rb = find(row["s"]), find(row["d"])
            if ra != rb:
                # Union by min: the smaller root stays a root, so labels
                # strictly decrease and converge to the component min.
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        pairs = [(k, find(k)) for k in list(parent)]
        if pairs:
            spark = edges.sparkSession
            k_type = E.schema["s"].dataType
            from pyspark.sql.types import StructField, StructType

            tail_rep = spark.createDataFrame(
                pairs,
                StructType([StructField("k", k_type), StructField("v", k_type)]),
            )
            round_reps.append(tail_rep)
    # Fold the per-round roots into the vertex mapping: each round's rep
    # re-keys the previous round's output (reps are all checkpointed, so
    # this composed plan is shallow and runs as one job downstream).
    mapping = vertices.select(F.col(id_col).alias("id")).withColumn(
        "rep", F.col("id")
    )
    for rep in round_reps:
        mapping = mapping.join(rep, mapping["rep"] == rep["k"], "left").select(
            "id", F.coalesce("v", "rep").alias("rep")
        )
    return mapping.select("id", F.col("rep").alias("group_id"))


def near_dup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Document near-duplicate GROUPS — the step an LLM-corpus dedup
    actually keeps: transitive closure over exact simhash near-dup pairs,
    one canonical ``group_id`` (min doc id) per cluster.  Downstream keeps
    one row per group (e.g. ``row_number() over (partition by group_id)``).

    Exact end-to-end: banded-Hamming buckets are lossless (pigeonhole) and
    the per-bucket local CC preserves the transitive closure of the full
    verified pair set (``simhash_component_edges``), so the whole pipeline
    oracle-checks while feeding the distributed CC O(docs·bands) spanning
    edges instead of the quadratic intra-clique pair list (4.4M edge rows
    → ~15k at sf0.1; generating and checkpointing those pairs dominated
    BENCH_r03's 8.6 s).

    The grouping is MEMOIZED per (input plan, CONTENT fingerprint,
    params) like ``ivf_ann_topk``'s route/centroids: CC iterates with
    eager checkpoints, so construction IS execution — a repeated caller
    (bench warm loop, a service splitting many batches against one
    corpus, ``train_data_job`` re-runs) would otherwise re-pay the whole
    closure per call.  The memo key folds in an exact content
    fingerprint — row count + XOR of ``xxhash64(id)`` + XOR of
    ``xxhash64(id, text)`` over EVERY row, one column-pruned scan — so a
    corpus regenerated IN PLACE under an identical plan gets FRESH
    groups instead of the previous corpus's labels (the BM25 artifact's
    ADVICE r10 discipline, applied here per VERDICT r11).  A memo hit
    therefore costs one text-column scan (~10× cheaper than the closure
    it skips); the memoized value is the final labeled frame, whose
    checkpoint blocks stay alive while referenced (bounded FIFO).
    """
    from restructure_hdfs_topic_spark import memostats
    from restructure_hdfs_topic_spark.session import session_epoch

    vertices = df.select(F.col(id_col).alias("id"))
    memo_key = None
    try:
        fp = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.col(id_col))).alias("x_id"),
            F.bit_xor(F.xxhash64(F.col(id_col), F.col(text_col))).alias("x_txt"),
        ).collect()[0]
        memo_key = (
            # Session discriminator (ADVICE r13 #1): the memoized frame is
            # bound to the context that checkpointed it — a restarted
            # session must miss, not inherit a dead plan.
            session_epoch(df.sparkSession),
            vertices._jdf.queryExecution().analyzed().semanticHash(),
            df.select(F.col(text_col))._jdf.queryExecution().analyzed().semanticHash(),
            int(fp["n"]),
            int(fp["x_id"] or 0),
            int(fp["x_txt"] or 0),
            bits,
            max_hamming,
        )
    except Exception:
        pass
    hit = _GROUPS_MEMO.get(memo_key) if memo_key is not None else None
    memostats.record("near_dup_groups", hit is not None)
    if hit is not None:
        return hit
    edges = simhash_component_edges(
        df, id_col, text_col, bits=bits, max_hamming=max_hamming
    )
    out = connected_components(vertices, edges).select(
        F.col("id").alias(id_col), "group_id"
    )
    if memo_key is not None:
        if len(_GROUPS_MEMO) >= _GROUPS_MEMO_CAP:
            _GROUPS_MEMO.pop(next(iter(_GROUPS_MEMO)), None)
        _GROUPS_MEMO[memo_key] = out
    return out


_GROUPS_MEMO: dict = {}
_GROUPS_MEMO_CAP = 8


# ---------------------------------------------------------------------------
# Exact-substring (span) dedup — the training-data operator from Lee et al.
# 2021 ("Deduplicating Training Data Makes Language Models Better"): find
# every k-token window whose exact token sequence occurs more than once in
# the corpus, and merge overlapping duplicated windows into maximal spans.
# The paper builds a corpus-global suffix array (single-machine); the
# Spark-first shape is rolling window fingerprints + one count-over-hash
# shuffle — O(total tokens) rows of 16 bytes, embarrassingly parallel, and
# the only corpus-global structure is a shuffle key, never a driver-side
# index.
# ---------------------------------------------------------------------------


def _window_hash_kernel(k: int, id_name: str = "id"):
    """Arrow ``mapInPandas`` kernel: (id, text) → (id, idx, h), one row per
    k-token window.  Tokenization is the whitespace-run split of
    ``_minhash_kernel`` (flat byte buffer, no per-token Python) but WITHOUT
    lowercasing — substring dedup is case-exact, matching a
    ``split(trim(text), '\\s+')`` oracle.  ``idx`` is the window's 0-based
    first-token index within its document; ``h`` is an order-dependent
    64-bit fingerprint of the k token hashes (equal windows always collide;
    unequal windows collide w.p. ~2^-64 — same exactness contract as the
    suffix-array dedup it replaces).
    """

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf.iloc[:, 1].fillna("")
            ids = pdf.iloc[:, 0].to_numpy()
            th, tdoc = _tokenize_hash(texts, lowercase=False)
            if th is None or len(th) < k:
                continue
            with np.errstate(over="ignore"):
                m = len(th) - k + 1
                wh = _window_hashes(th, k)
                valid = tdoc[:m] == tdoc[k - 1 :]
                wdoc = tdoc[:m][valid]
                wh = wh[valid]
                if not len(wh):
                    continue
                # Window idx local to its doc: global token index minus the
                # doc's first-token index.
                first_tok = np.searchsorted(tdoc, np.arange(len(texts)), side="left")
                idx = np.flatnonzero(valid) - first_tok[wdoc]
            yield pd.DataFrame(
                {
                    id_name: ids[wdoc],
                    "idx": idx.astype("int64"),
                    "h": wh.view(np.int64),
                }
            )

    return kernel


def duplicated_window_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact-substring duplication spans (Lee et al. 2021 semantics): every
    maximal token range covered by k-token windows that occur ≥2 times in
    the corpus (any document, including the same one).  Returns one row per
    span: (id, span_start, span_end, n_windows) with token indices,
    ``span_end`` exclusive.

    Plan shape (100 TB): the kernel emits O(total tokens) fixed-width rows;
    duplicate detection is ONE shuffle (count over ``partitionBy(h)`` — an
    8-byte key, never window text); span assembly runs only over the
    surviving duplicated windows (one shuffle on the doc id + a
    gaps-and-islands merge, the ``user_sessions`` pattern).  No driver
    state, no suffix array, no all-pairs join.
    """
    win = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _window_hash_kernel(k, id_col),
        schema=f"`{id_col}` {df.schema[id_col].dataType.simpleString()}, idx long, h long",
    )
    dup = (
        win.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("cnt") > 1)
        .select(id_col, "idx")
    )
    w = Window.partitionBy(id_col).orderBy("idx")
    return (
        dup.withColumn(
            "brk",
            F.when(F.col("idx") - F.lag("idx").over(w) <= F.lit(k), F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn(
            "grp",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "grp")
        .agg(
            F.min("idx").alias("span_start"),
            (F.max("idx") + F.lit(k)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def strip_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Remove every duplicated span from every document: tokens covered by a
    ``duplicated_window_spans`` range are dropped and the remainder re-joined
    with single spaces (whitespace is normalized — the reference point for
    downstream training corpora is token content, not spacing).  Unlike Lee
    et al.'s keep-one-occurrence scrub this removes ALL occurrences (the
    C4-style conservative choice); keeping one canonical copy is a
    downstream keep-first over ``duplicated_window_spans`` output.

    The rebuild itself is pure JVM higher-order functions over the token
    array (no second Python crossing): spans arrive as a per-doc array via
    one aggregation, and token filtering is ``exists`` over that small
    array.
    """
    return _strip_token_spans(
        df, duplicated_window_spans(df, id_col, text_col, k), id_col, text_col
    )


def _strip_token_spans(
    df: DataFrame, span_rows: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared span-removal rebuild: drop every token of ``df`` covered by a
    ``(id, span_start, span_end)`` row of ``span_rows`` (end exclusive,
    whitespace-token indices) and re-join the remainder with single
    spaces; documents with no span keep their ORIGINAL text byte-for-byte.
    Pure JVM higher-order functions — see ``strip_duplicated_spans``."""
    spans = span_rows.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    # Token indices must match the span kernel's (str.split(): \S+ runs).
    # F.trim strips only SPACES, so a leading tab/newline would leave a ""
    # first token and shift every index by one — filter empties instead.
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    indexed = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    out = (
        df.join(spans, on=id_col, how="left")
        .withColumn("__spans", F.coalesce(F.col("__spans"), F.array()))
        .withColumn(
            text_col,
            # Untouched documents keep their ORIGINAL text byte-for-byte —
            # the whitespace-normalizing rebuild only runs where a span
            # actually hit (rebuilding everything would silently rewrite
            # tabs/newlines corpus-wide).
            F.when(
                F.size(F.col("__spans")) == 0, F.col(text_col)
            ).otherwise(
                F.array_join(F.transform(indexed, lambda s: s["t"]), " ")
            ),
        )
        .drop("__spans")
    )
    return out


# --- Line-level corpus dedup (C4 / RefinedWeb-style) ----------------------

def duplicated_lines(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 2
) -> DataFrame:
    """Corpus-wide duplicated LINES (the RefinedWeb / C4 line-wise dedup
    unit — boilerplate navigation, cookie banners, repeated headers): one
    row per (document, line index) whose whitespace-trimmed line occurs
    ``>= min_count`` times across the whole corpus (any document, including
    repeats within one document).  Blank lines never count as duplication.

    Returns ``(id, line_idx, cnt)`` with ``line_idx`` 0-based over the
    document's ``\\n``-split lines and ``cnt`` the corpus-wide occurrence
    count of that trimmed line.

    Plan shape (100 TB): lines explode to (id, idx, h) with an 8-byte
    ``xxhash64(trimmed)`` key; occurrence counting is a partial-aggregated
    ``groupBy(h)`` — map-side combine collapses the heavy duplicates
    (exactly the skewed keys) BEFORE the shuffle, which is why this uses
    agg+join rather than the window-count the span pipeline uses; the join
    back to the line stream is an equi-join on ``h`` that AQE sides/splits.
    Line text never shuffles — only hashes and indices.
    """
    lines = F.split(F.col(text_col), "\n")
    trimmed = lambda l: F.regexp_replace(l, r"^\s+|\s+$", "")  # noqa: E731
    stream = (
        df.select(F.col(id_col), F.posexplode(lines).alias("line_idx", "__line"))
        .withColumn("__t", trimmed(F.col("__line")))
        .filter(F.col("__t") != "")
        .select(id_col, "line_idx", F.xxhash64("__t").alias("h"))
    )
    counts = (
        stream.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return stream.join(counts, "h").select(id_col, "line_idx", "cnt")


def strip_duplicated_lines(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 2
) -> DataFrame:
    """Remove every corpus-duplicated line from every document (ALL
    occurrences — the same conservative choice as
    ``strip_duplicated_spans``; keep-one-canonical is a downstream
    keep-first over ``duplicated_lines``).  Untouched documents keep their
    text byte-for-byte; touched documents are rebuilt by dropping whole
    lines and re-joining with ``\\n`` — surviving lines keep their exact
    bytes (unlike the token-span scrub, no whitespace normalization is
    needed: the line split is lossless).
    """
    from restructure_hdfs_topic_spark.caching import scoped_persist

    # The dup stream feeds two plan branches (the touched-doc set and the
    # line-level anti-join) — persist so the count shuffle runs once.
    dup = scoped_persist(
        duplicated_lines(df, id_col, text_col, min_count).select(
            id_col, "line_idx"
        ),
        scope="dedup.strip_duplicated_lines.dup",
    )
    touched = dup.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_dropped"))
    lines = F.split(F.col(text_col), "\n")
    # Rebuild ONLY the touched documents, and drop their lines via an
    # equi-anti-join on (id, line index) rather than a per-line
    # array_contains over the doc's dup list: boilerplate-heavy pages —
    # exactly this operator's target — can have most of their lines
    # duplicated, and the membership-scan form is O(lines × dup_lines)
    # per document.  Untouched documents never explode or shuffle.
    exploded = (
        df.join(touched.select(id_col), on=id_col)
        .select(F.col(id_col), F.posexplode(lines).alias("line_idx", "__line"))
    )
    rebuilt = (
        exploded.join(dup, on=[id_col, "line_idx"], how="left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_idx", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias("__new_text")
        )
    )
    return (
        df.join(touched, on=id_col, how="left")
        .join(rebuilt, on=id_col, how="left")
        .withColumn(
            text_col,
            F.when(F.col("__n_dropped").isNull(), F.col(text_col)).otherwise(
                # A doc whose EVERY line was dropped has no rebuilt row.
                F.coalesce(F.col("__new_text"), F.lit(""))
            ),
        )
        .drop("__n_dropped", "__new_text")
    )


def dedup_representatives(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: str | None = None,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """One representative per near-duplicate cluster, chosen by HIGHEST
    quality (tie → lowest id) — the real-world refinement of keep-first:
    when a cluster holds a cleaner and a noisier copy of the same
    content, keep the cleaner one.  ``quality_col=None`` falls back to
    the built-in composite ``quality_score``.

    Composition of tested pieces: ``near_dup_groups`` (lossless banded
    simhash pairs → transitive closure) labels each doc with its cluster;
    the winner per cluster is one ``row_number`` window over
    (quality desc, id asc).  Docs outside any cluster (singleton groups)
    pass through — every input doc is in exactly one group (its own, when
    no near-dup exists), so the output is the input minus non-winning
    cluster members.

    Scale shape: groups via the audited banded/CC path; selection is ONE
    shuffle on ``group_id``.  The quality expression is a codegen
    projection, computed once per doc.
    """
    from restructure_hdfs_topic_spark.functions.text import quality_score

    groups = near_dup_groups(df, id_col, text_col, bits=bits, max_hamming=max_hamming)
    q = (
        F.col(quality_col)
        if quality_col is not None
        else quality_score(F.col(text_col))
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("__q").desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__q", q)
        .join(groups, on=id_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__q", "__rn", "group_id")
    )


# --- Benchmark decontamination by SPAN (GPT-3-style surgical removal) -----


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    margin: int = 0,
) -> DataFrame:
    """Token spans of ``corpus`` documents that collide with the benchmark:
    every maximal token range covered by n-token shingles that also occur
    in ``benchmark`` (GPT-3 §C removes a window around each collision
    rather than the whole document — ``margin`` extends each collision by
    that many tokens on both sides before merging, mirroring their
    200-character buffer).  Returns (id, span_start, span_end, n_windows),
    token indices with ``span_end`` exclusive, matching
    ``duplicated_window_spans``'s contract so the same strip rebuild
    applies.  Matching is case-insensitive (lowercased tokens), as
    published.

    Token indices MUST align with ``_strip_token_spans``'s rebuild array
    (empty-filtered ``\\s+`` split): the shared ``tokens()`` helper trims
    with ``F.trim`` — spaces only — so text starting with a tab/newline
    would keep a leading ``""`` token and shift every index by one,
    making the strip remove the wrong range.  The corpus/benchmark sides
    therefore tokenize with the SAME empty-filter the rebuild uses
    (lowering changes no token boundaries, so indices agree exactly).

    Scale shape: the benchmark's distinct shingle set is SMALL by
    definition (eval sets, not corpora) — it broadcasts; the corpus side
    explodes positional shingles and inner-joins map-side (corpus bytes
    never shuffle), then one shuffle on the doc id runs the
    gaps-and-islands merge.  No all-pairs work anywhere."""
    from restructure_hdfs_topic_spark.functions.text import ngrams_from

    if margin < 0:
        raise ValueError("margin must be >= 0")

    toks_expr = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != F.lit(""),
    )

    def positional_shingles(df: DataFrame) -> DataFrame:
        toked = df.select(F.col(id_col).alias("id"), toks_expr.alias("toks"))
        return toked.select(
            "id", F.posexplode(ngrams_from(F.col("toks"), n)).alias("idx", "shingle")
        )

    # The benchmark side needs ONLY text_col (its ids are discarded after
    # the distinct) — eval sets naturally arrive as bare text frames.
    # Memoized per benchmark content (VERDICT r13 #6).
    bench = _memo_benchmark_frame(
        benchmark,
        [text_col],
        lambda: benchmark.select(toks_expr.alias("toks"))
        .select(F.explode(ngrams_from(F.col("toks"), n)).alias("shingle"))
        .distinct(),
        "spans",
        (n,),
    )
    hits = (
        positional_shingles(corpus)
        .join(F.broadcast(bench), "shingle")
        .select(F.col("id").alias(id_col), "idx")
    )
    # Merge collisions whose MARGIN-expanded [idx-margin, idx+n+margin)
    # ranges overlap or touch: successive hits merge iff the gap between
    # window starts is at most n + 2*margin.
    w = Window.partitionBy(id_col).orderBy("idx")
    reach = n + 2 * margin
    return (
        hits.withColumn(
            "brk",
            F.when(
                F.col("idx") - F.lag("idx").over(w) <= F.lit(reach), F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "grp", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "grp")
        .agg(
            F.greatest(F.min("idx") - F.lit(margin), F.lit(0)).alias("span_start"),
            (F.max("idx") + F.lit(n + margin)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def duplication_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    groups: DataFrame | None = None,
) -> DataFrame:
    """SOFT dedup — reweight duplicates instead of removing them: every
    document gets its duplicate-cluster size and the inverse-frequency
    sampling weight ``1/cluster_size``, so a training pipeline keeps
    every copy but the CLUSTER's total sampling mass equals one
    document's (the reweight-instead-of-remove alternative to hard
    dedup — removing can discard the best copy, and some duplication is
    signal; cf. the SoftDeDup line of work).  Feed the weight to
    ``sampling.weighted_hash_sample`` for a deterministic realization.

    ``groups=None`` clusters by EXACT text equality (one
    ``xxhash64(text)`` window count — the 8-byte key shuffles once,
    text never moves); pass a ``(id_col, group_id)`` frame — the
    ``near_dup_groups`` output contract — to weight by NEAR-dup
    clusters instead.  A one-to-many id→group mapping collapses to the
    smallest group id (deterministic; ``near_dup_groups`` never
    produces one) so the output stays one row per document.

    Returns ``(id_col, cluster_size, weight)`` — weight =
    1/cluster_size, 6-decimal floor(+0.5) rounding.  NULL text (or an
    id absent from ``groups``) forms its own singleton cluster per row
    — and singletons partition by their own id in the window shuffle,
    never into one all-NULLs reducer (a mostly-novel corpus would
    otherwise funnel through a single task)."""
    from pyspark.sql import Window

    if groups is None:
        keyed = docs.select(
            F.col(id_col),
            F.when(
                F.col(text_col).isNotNull(), F.xxhash64(F.col(text_col))
            ).alias("__k"),
        )
    else:
        gcols = set(groups.columns)
        gcol = "group_id" if "group_id" in gcols else "group"
        if gcol not in gcols:
            raise ValueError(
                f"groups frame needs a group_id column (has {sorted(gcols)})"
            )
        g = groups.groupBy(id_col).agg(F.min(gcol).alias("__k"))
        keyed = docs.select(F.col(id_col)).join(g, id_col, "left")
    # ONE window-count shuffle.  Keyless rows (NULL text / ungrouped id)
    # partition by their own id — size-1 windows, no all-NULLs skew.
    w = Window.partitionBy(
        "__k", F.when(F.col("__k").isNull(), F.col(id_col))
    )
    sized = keyed.select(
        F.col(id_col),
        F.when(F.col("__k").isNotNull(), F.count(F.lit(1)).over(w))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("cluster_size"),
    )
    return sized.select(
        F.col(id_col),
        "cluster_size",
        (
            F.floor(
                F.lit(1.0) / F.col("cluster_size").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("weight"),
    )


def benchmark_leak_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Per-BENCHMARK-EXAMPLE contamination accounting — the inverse
    direction of ``shingle_contamination`` and the table GPT-3 §C /
    PaLM appendix actually publish ("what fraction of each eval is
    dirty"): for every benchmark example, how much of it leaked into
    the training corpus and from how many documents.

    Returns one row per benchmark example:
    ``(id, n_shingles, n_leaked_shingles, leak_frac, n_corpus_docs_hit)``
    — ``n_shingles`` its distinct n-token shingles, ``n_leaked_shingles``
    how many of those occur in ≥1 corpus document, ``leak_frac`` their
    ratio (6-decimal rounding; 0.0 for an example too short to have any
    shingle), ``n_corpus_docs_hit`` the distinct corpus documents sharing
    at least one shingle with it.

    Plan shape (100 TB corpus, small benchmark): the benchmark's
    example→shingle pairs are small by definition — they BROADCAST; the
    corpus side explodes per-document distinct shingles and inner-joins
    the broadcast set map-side, so corpus bytes never shuffle and the
    join output is bounded by (matched shingles × docs that hit).  The
    corpus-sized pipeline is consumed exactly ONCE: a single bounded
    aggregation over the example-joined hits yields both per-example
    counts.  Corpus documents with no hit contribute nothing; benchmark
    examples with no hit survive via the final left join."""
    # Memoized per benchmark content (VERDICT r13 #6); ids matter here
    # (per-example accounting), so the fingerprint covers (id, text).
    bench = _memo_benchmark_frame(
        benchmark,
        [id_col, text_col],
        lambda: _doc_shingles(benchmark, id_col, text_col, n),
        "leak_report",
        (n,),
    )
    totals = bench.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # (corpus_doc, shingle) hits — bounded by the broadcast benchmark set.
    hits = (
        _doc_shingles(corpus, id_col, text_col, n)
        .withColumnRenamed("id", "__corpus_id")
        .join(F.broadcast(bench.select("shingle").distinct()), "shingle")
    )
    # ONE pass over the corpus-derived hits: join back to the example
    # map (broadcast) and take both distinct counts per example.
    per_example = (
        hits.join(F.broadcast(bench), "shingle")
        .groupBy("id")
        .agg(
            F.count_distinct("shingle").alias("n_leaked_shingles"),
            F.count_distinct("__corpus_id").alias("n_corpus_docs_hit"),
        )
    )
    ids = benchmark.select(F.col(id_col).alias("id"))
    out = ids.join(totals, "id", "left").join(per_example, "id", "left")
    n_sh = F.coalesce("n_shingles", F.lit(0)).cast("bigint")
    n_leak = F.coalesce("n_leaked_shingles", F.lit(0)).cast("bigint")
    return out.select(
        "id",
        n_sh.alias("n_shingles"),
        n_leak.alias("n_leaked_shingles"),
        F.round(
            F.when(n_sh > 0, n_leak.cast("double") / n_sh.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("leak_frac"),
        F.coalesce("n_corpus_docs_hit", F.lit(0)).cast("bigint").alias(
            "n_corpus_docs_hit"
        ),
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    margin: int = 0,
) -> DataFrame:
    """Surgically remove benchmark-colliding spans from the corpus instead
    of dropping whole documents (``shingle_contamination`` is the
    drop-the-document gate; this is the GPT-3 §C keep-the-document
    variant): tokens covered by a ``contaminated_spans`` range are removed
    and the remainder re-joined with single spaces; untouched documents
    keep their original text byte-for-byte.  Same plan shape as
    ``strip_duplicated_spans`` with the duplicate-count shuffle replaced
    by the broadcast benchmark join."""
    return _strip_token_spans(
        corpus,
        contaminated_spans(corpus, benchmark, id_col, text_col, n, margin),
        id_col,
        text_col,
    )


# --- Within-document paragraph dedup (C4-style boilerplate removal) -------


def strip_repeated_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
) -> DataFrame:
    """Drop repeated paragraphs WITHIN each document, keeping the first
    occurrence in place (the within-page cousin of C4's dedup rules —
    scraped pages repeat nav blocks, cookie banners, and footer text
    several times in one document; corpus-level ``strip_duplicated_lines``
    does not touch a string that repeats only inside a single page when
    ``min_count`` exceeds its count there).  Empty paragraphs are KEPT
    (they are formatting, not content — deduping them would collapse
    ``sep``-run spacing), so a document with no repeated paragraph
    round-trips byte-for-byte.

    Scale shape: one narrow projection — split on ``sep``, an
    order-preserving first-occurrence filter via JVM higher-order
    functions (``array_position`` inside an indexed ``filter`` — the scan
    is quadratic in the PARAGRAPH count of one document, a few dozen
    entries), re-join.  No shuffle, no Python, partitioning untouched."""
    import re as _re

    paras = F.split(F.col(text_col), _re.escape(sep))
    # Project the split as a REAL column first: Catalyst re-inlines
    # multi-referenced expressions, and the lambda below references the
    # array once per element — inlining would re-split per element.
    tagged = df.withColumn("__paras", paras)
    kept = F.filter(
        F.col("__paras"),
        lambda x, i: (x == F.lit("")) | (F.array_position(F.col("__paras"), x) - 1 == i),
    )
    return tagged.withColumn(text_col, F.array_join(kept, sep)).drop("__paras")


# --- Unit-granularity global span dedup (C4 three-sentence rule) ----------


def duplicated_unit_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    k: int = 3,
) -> DataFrame:
    """Corpus-global duplicated UNIT spans — C4's actual dedup rule
    (Raffel et al. 2020 §2.2 discard all but one of any THREE-SENTENCE
    span occurring more than once; here the unit is a ``sep``-delimited
    segment, sentences/lines/paragraphs by choice of separator): every
    maximal unit range covered by k-unit windows whose trimmed content
    occurs ≥ 2 times corpus-wide.  Returns (id, span_start, span_end,
    n_windows) in UNIT indices, ``span_end`` exclusive — the unit-level
    analogue of ``duplicated_window_spans``'s token contract.

    Matching is trim-insensitive per unit (C4 compares sentence text, not
    surrounding whitespace) but position-exact: blank units participate
    in windows (they are part of the page structure) so span indices
    always map back onto the document's raw unit array for rebuild.

    Plan shape (100 TB): unit split + window hashing are ONE narrow JVM
    projection (``transform`` over an index sequence — no per-doc
    pre-shuffle, no Python); the count is one shuffle over the 8-byte
    window hash; span assembly is the shared gaps-and-islands merge over
    only the surviving duplicated windows.  Unit text never shuffles."""
    import re as _re

    units = F.split(F.col(text_col), _re.escape(sep))
    tagged = df.select(F.col(id_col), units.alias("__units"))
    trimmed = F.transform(
        F.col("__units"), lambda u: F.regexp_replace(u, r"^\s+|\s+$", "")
    )
    tagged = tagged.withColumn("__trim", trimmed)
    n_win = F.size(F.col("__trim")) - F.lit(k - 1)
    # \x1e (record separator) joins window members so unit-boundary
    # ambiguity cannot alias two different windows to one hash.
    win_hashes = F.when(
        n_win > 0,
        F.transform(
            F.sequence(F.lit(0), n_win - F.lit(1)),
            lambda i: F.xxhash64(
                F.concat_ws("\x1e", F.slice(F.col("__trim"), i + 1, k))
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    win = tagged.select(
        id_col, F.posexplode(win_hashes).alias("idx", "h")
    )
    dup = (
        win.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("cnt") > 1)
        .select(id_col, "idx")
    )
    w = Window.partitionBy(id_col).orderBy("idx")
    return (
        dup.withColumn(
            "brk",
            F.when(
                F.col("idx") - F.lag("idx").over(w) <= F.lit(k), F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "grp", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "grp")
        .agg(
            F.min("idx").alias("span_start"),
            (F.max("idx") + F.lit(k)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def strip_duplicated_unit_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    k: int = 3,
) -> DataFrame:
    """Remove every corpus-duplicated k-unit span from every document,
    re-joining the surviving units with ``sep`` — unlike the token-level
    ``strip_duplicated_spans`` the rebuild is LOSSLESS at unit
    granularity (units keep their exact bytes; only whole units drop),
    and untouched documents keep their original text byte-for-byte.
    Like the token variant this removes ALL occurrences (the conservative
    choice); C4's keep-one is a downstream keep-first over
    ``duplicated_unit_spans`` output."""
    import re as _re

    spans = (
        duplicated_unit_spans(df, id_col, text_col, sep, k)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("__spans"))
    )
    units = F.split(F.col(text_col), _re.escape(sep))
    out = (
        df.join(spans, on=id_col, how="left")
        .withColumn("__spans", F.coalesce(F.col("__spans"), F.array()))
        .withColumn("__units", units)
        .withColumn(
            text_col,
            F.when(F.size(F.col("__spans")) == 0, F.col(text_col)).otherwise(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.zip_with(
                                F.col("__units"),
                                F.sequence(
                                    F.lit(0),
                                    F.greatest(
                                        F.size(F.col("__units")) - 1, F.lit(0)
                                    ),
                                ),
                                lambda u, i: F.struct(u.alias("u"), i.alias("i")),
                            ),
                            lambda s: ~F.exists(
                                F.col("__spans"),
                                lambda sp: (s["i"] >= sp["span_start"])
                                & (s["i"] < sp["span_end"]),
                            ),
                        ),
                        lambda s: s["u"],
                    ),
                    sep,
                )
            ),
        )
        .drop("__spans", "__units")
    )
    return out


# --- URL-level dedup (RefinedWeb stage 1) ----------------------------------


def dedup_by_url(
    df: DataFrame,
    id_col: str,
    url_col: str,
    keep: str = "min",
    extra_tracking: tuple = (),
) -> DataFrame:
    """URL-level corpus dedup — RefinedWeb's FIRST dedup stage (Penedo et
    al. 2023 run URL dedup before any content pass; re-crawls and mirror
    parameters make the same page appear under many raw URLs): keep one
    document per ``canonical_url`` key, the lowest id (``keep="min"``,
    deterministic) or the highest (``keep="max"``, "latest crawl wins"
    when ids are crawl-ordered).

    Scale shape: ONE shuffle keyed by ``xxhash64(canonical_url)`` PLUS the
    canonical string itself as a tiebreaker — the hash distributes, the
    string disambiguates (at corpus scale — billions of URLs — expected
    64-bit collisions reach O(1), and a collision without the tiebreaker
    silently drops an unrelated document).  The window row carries the
    whole document either way, so the extra key costs nothing."""
    from restructure_hdfs_topic_spark.functions.text import canonical_url

    if keep not in ("min", "max"):
        raise ValueError("keep must be 'min' or 'max'")
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    # NULL urls must pass through UNDEDUPED: xxhash64(NULL) is one seed
    # constant, so without the disambiguator every url-less document
    # would share a partition and all but one would be dropped.
    null_key = F.when(F.col(url_col).isNull(), F.col(id_col)).otherwise(F.lit(0))
    canon = canonical_url(F.col(url_col), extra_tracking=extra_tracking)
    w = Window.partitionBy(F.xxhash64(canon), canon, null_key).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
