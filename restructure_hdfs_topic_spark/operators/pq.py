"""Product quantization (PQ): compressed-domain ANN for corpus-scale
embeddings.

At 100 TB an embedding column dominates storage: 1e9 documents × dim 768
float32 is ~3 TB that every similarity pass must scan and shuffle.  PQ
(Jégou, Douze, Schmid 2011 — the engine inside FAISS's IVFPQ) splits each
vector into ``m`` subspaces, k-means-quantizes every subspace to 2^nbits
codewords, and stores each vector as ``m`` one-byte codes: dim 768 → 768
bytes of float32 becomes 8–96 bytes, a 32–384× scan/shuffle reduction.
Queries never decompress the corpus — asymmetric distance computation
(ADC) builds one ``m × 2^nbits`` lookup table of exact
query-sub-vector · codeword dot products per query, and a database
vector's approximate dot product is ``m`` table gathers + a sum.

Engine shapes (everything deterministic, partitioning-independent):

- **Training** samples ≤ ``train_sample`` vectors by the repo's standard
  hash threshold (bounded driver collect — a PQ codebook is a small
  artifact like a BPE vocabulary; FAISS trains on a sample too) and runs
  exact-int64 Lloyd per subspace with hash-ordered deterministic seeds.
- **Encoding** is ONE Arrow-batched ``mapInPandas`` pass against the
  broadcast codebooks (m × 256 × dsub ints — KBs).  Codes ship as
  ``binary`` (m bytes/vector).
- **ADC scoring** is one Arrow pass over code batches: per-batch partial
  top-k per query leaves ≤ |queries|·k rows per batch, so the global
  top-k window's shuffle is bounded by queries, not corpus.
- **Re-ranking** (optional, the standard PQ recall repair): ADC keeps
  ``k·rerank_factor`` candidates, one equi-join on id against the
  original embeddings rescores them exactly, one window re-ranks.  Only
  candidate rows are ever decompressed.

The IVF composition (``build_pq_for_ivf`` / ``query_ivfpq_index``)
attaches a ``codes/`` store to an existing ``ivf_index`` layout,
partitioned by the same cluster key: a query batch prunes to its
``nprobe`` cluster directories AND scans only codes there — the two
orthogonal cost cuts (read fewer rows; read 32× fewer bytes per row)
compose, which is exactly FAISS's IVFPQ on a warehouse layout.

Reference analogue: none (the reference has no vector search); built
from the public paper + the PySpark API.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.operators.ivf_index import (
    _check_integral_id,
    load_ivf_meta,
)
from restructure_hdfs_topic_spark.operators.similarity import _quantize

__all__ = [
    "train_pq",
    "pq_encode",
    "pq_adc_topk",
    "build_pq_for_ivf",
    "append_to_ivfpq_index",
    "query_ivfpq_index",
]

_PQ_META = "_pq_meta.json"


def _sub_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """(start, end) per subspace; leading subspaces absorb the remainder
    when ``m`` does not divide ``dim`` (same convention as the banding
    helpers in operators/dedup.py)."""
    if not 1 <= m <= dim:
        raise ValueError(f"m={m} must be in [1, dim={dim}]")
    base, extra = divmod(dim, m)
    bounds, pos = [], 0
    for s in range(m):
        width = base + (1 if s < extra else 0)
        bounds.append((pos, pos + width))
        pos += width
    return bounds


def _hash_sample_vecs(quant: DataFrame, n_total: int, want: int):
    """≤ ``want`` quantized vectors by hash threshold (order-independent;
    ordered fallback only if the uniform hash under-delivers) — the seed
    sampling shape shared with ivf_index/similarity."""
    import numpy as np

    hashed = quant.withColumn("h", F.xxhash64(F.col("id")))
    frac = min(1.0, (4.0 * want) / max(n_total, 1))
    cutoff = min((-(1 << 63)) + int((1 << 64) * frac), (1 << 63) - 1)
    rows = hashed.filter(F.col("h") < F.lit(cutoff)).select("h", "vec").collect()
    if len(rows) < min(want, n_total):
        rows = hashed.orderBy("h").limit(want).select("h", "vec").collect()
    rows.sort(key=lambda r: r["h"])
    return np.stack([np.asarray(r["vec"], dtype=np.int64) for r in rows[:want]])


def _lloyd_1d(sub: "np.ndarray", n_codes: int, iters: int) -> "np.ndarray":
    """Exact-int64 Lloyd over ONE subspace's sample (driver-side, bounded:
    sample ≤ train_sample rows × dsub ints).  Deterministic: seeds are the
    first ``n_codes`` DISTINCT rows in hash order (the sample arrives
    hash-sorted); empty cells keep their previous codeword; means floor to
    int64 — associative-free here (single-node numpy), but integer
    centroids keep the ARTIFACT exactly reproducible and the distributed
    encode/score paths bit-stable."""
    import numpy as np

    uniq, first_ix = np.unique(sub, axis=0, return_index=True)
    order = np.sort(first_ix)[: min(n_codes, len(first_ix))]
    cents = sub[order].copy()
    for _ in range(iters):
        # argmin_c ||x-c||² = argmin_c (||c||² - 2 x·c) — one int64 matmul,
        # never an (n, C, d) intermediate.  Exact: quantized coords are
        # ≤ ~1e5, so x·c ≤ dsub·1e10 ≪ 2^63.
        cn2 = (cents**2).sum(axis=1)
        lab = np.argmin(cn2[None, :] - 2 * (sub @ cents.T), axis=1)
        for c in range(len(cents)):
            mask = lab == c
            if mask.any():
                cents[c] = sub[mask].sum(axis=0) // int(mask.sum())
    if len(cents) < n_codes:
        # Fewer distinct sub-vectors than codewords: pad by repeating the
        # first codeword so the code table is always 2^nbits wide (codes
        # simply never reference the padding).
        pad = np.repeat(cents[:1], n_codes - len(cents), axis=0)
        cents = np.concatenate([cents, pad], axis=0)
    return cents


def train_pq(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    train_sample: int = 16384,
    lloyd_iters: int = 5,
    n_rows: int | None = None,
):
    """Train PQ codebooks → numpy ``(m, 2^nbits, dsub_max)`` int64 (ragged
    subspaces zero-padded on the right; ``_sub_bounds`` recovers the real
    widths).  Bounded driver work by construction: ``train_sample`` rows
    regardless of corpus size."""
    import numpy as np

    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in [1, 8] (codes ship as bytes)")
    _check_integral_id(embeddings, id_col)
    n = n_rows if n_rows is not None else embeddings.count()
    quant = embeddings.select(
        F.col(id_col).alias("id"), _quantize(F.col(vec_col)).alias("vec")
    )
    sample = _hash_sample_vecs(quant, n, train_sample)
    dim = sample.shape[1]
    bounds = _sub_bounds(dim, m)
    n_codes = 1 << nbits
    dsub_max = max(e - s for s, e in bounds)
    books = np.zeros((m, n_codes, dsub_max), dtype=np.int64)
    for s_ix, (s, e) in enumerate(bounds):
        books[s_ix, :, : e - s] = _lloyd_1d(sample[:, s:e], n_codes, lloyd_iters)
    return books


def _encode_block(vv, books, bounds, cn2):
    """Encode one quantized int64 block → ``(n, m)`` uint8 codes.  Per
    subspace the argmin uses ``||x-c||² = ||x||² - 2x·c + ||c||²`` with
    the rank-invariant ``||x||²`` dropped — one matmul, no (n, C, d)
    intermediate.  The SINGLE encode formula, shared by the standalone
    encode kernel and the fused encode+ADC path so both produce
    byte-identical codes."""
    import numpy as np

    m = books.shape[0]
    codes = np.empty((len(vv), m), dtype=np.uint8)
    for s_ix, (s, e) in enumerate(bounds):
        cb = books[s_ix, :, : e - s].astype(np.float64)
        scores = vv[:, s:e].astype(np.float64) @ cb.T
        codes[:, s_ix] = np.argmin(cn2[s_ix][None, :] - 2.0 * scores, axis=1)
    return codes


def _codebook_norms(books, bounds):
    """Per-subspace codeword ``||c||²`` tables for ``_encode_block``."""
    return [
        (books[s_ix, :, : e - s] ** 2).sum(axis=1)
        for s_ix, (s, e) in enumerate(bounds)
    ]


def _make_encode_kernel(books, passthrough: tuple = ()):
    """Shared encode kernel: (id, vec[, passthrough...]) → (id, code[,
    passthrough...]); subspace bounds derive from the first vector's
    width."""
    m = books.shape[0]

    def enc(batches):
        import numpy as np
        import pandas as pd

        bounds = None
        cn2 = None
        for pdf in batches:
            if not len(pdf):
                continue
            vv = np.stack(pdf["vec"].to_numpy()).astype(np.int64)
            if bounds is None:
                bounds = _sub_bounds(vv.shape[1], m)
                cn2 = _codebook_norms(books, bounds)
            codes = _encode_block(vv, books, bounds, cn2)
            raw = codes.tobytes(order="C")
            out = {
                "id": pdf["id"].to_numpy(),
                "code": [raw[i * m : (i + 1) * m] for i in range(len(vv))],
            }
            for col in passthrough:
                out[col] = pdf[col].to_numpy()
            yield pd.DataFrame(out)

    return enc


def pq_encode(
    embeddings: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code binary) — the compressed corpus: ``m`` bytes per vector,
    one Arrow crossing, codebooks ride the closure (m·256·dsub ints,
    KBs)."""
    _check_integral_id(embeddings, id_col)
    quant = embeddings.select(
        F.col(id_col).alias("id"), _quantize(F.col(vec_col)).alias("vec")
    )
    return quant.mapInPandas(
        _make_encode_kernel(books), schema="id long, code binary"
    )


# Column-chunk width for the ADC accumulation: a (|queries|, chunk)
# fp64 score block stays L2/L3-resident across the m gather passes, the
# normalize, and the per-chunk cut — measured 4x faster than whole-batch
# passes at 1000 queries x 20k codes (memory-bandwidth bound otherwise).
_ADC_CHUNK = 2048

# Integer sentinel marking self-matches (query == corpus row): far below
# any real rounded-cosine code (|s_int| <= 1e6), so sentinel keys always
# lose the cut and survivors are dropped by value, with no float inf in
# the integer key path.
_ADC_SENTINEL = -(1 << 40)


def _adc_kernel(books, q_ids, q_vecs, k: int, encode_input: bool = False):
    """mapInPandas kernel over CODE batches: ADC-score every query against
    the batch and emit the per-batch top-k per query.  LUTs are built once
    per task (dot_lut[sub][q, code] = q_sub · codeword, contiguous per
    sub; norm_lut[sub, code] = ||codeword||²); a batch costs |batch|
    gathers per (query, sub) — no decompression, no (n, dim) matmul.

    ``encode_input=True`` fuses encode+ADC into this ONE Python
    crossing: batches carry quantized ``vec`` columns (not ``code``) and
    encode in-kernel via the same ``_encode_block`` the standalone
    encode kernel uses (byte-identical codes, so results cannot differ
    from encode-then-score).  The flat in-plan path uses this — the
    corpus has to be read in full to be encoded anyway, and the former
    encode→ADC chain shipped every code through a second JVM↔Python
    Arrow round-trip.  The m-bytes-per-row scan story belongs to the
    STORED-code paths (``ivfpq_topk`` reading ``codes/``), which keep
    ``encode_input=False``.

    Determinism: scores round to 6 decimals BEFORE the cut and encode
    into one strictly-ordered int64 key (rounded_sim, neighbor-id rank),
    so the batch-local argpartition selects exactly the global window's
    (adc_cosine desc, neighbor_id asc) prefix — the survivor set cannot
    depend on batch composition or partitioning.  ADC values emit as
    s_int/1e6, bit-identical to np.round(sims, 6)."""
    import pandas as pd

    def score(batches):
        import numpy as np

        m = books.shape[0]
        dim = q_vecs.shape[1]
        bounds = _sub_bounds(dim, m)
        qf = q_vecs.astype(np.float64)
        nq = len(q_ids)
        dot_lut = np.zeros((m, nq, books.shape[1]), dtype=np.float64)
        norm_lut = np.zeros((m, books.shape[1]), dtype=np.float64)
        for s_ix, (s, e) in enumerate(bounds):
            cb = books[s_ix, :, : e - s].astype(np.float64)
            dot_lut[s_ix] = qf[:, s:e] @ cb.T
            norm_lut[s_ix] = (cb**2).sum(axis=1)
        qn = np.sqrt((qf**2).sum(axis=1))
        qn[qn == 0] = 1.0
        cn2 = _codebook_norms(books, bounds) if encode_input else None
        for pdf in batches:
            if not len(pdf):
                continue
            if encode_input:
                vv = np.stack(pdf["vec"].to_numpy()).astype(np.int64)
                codes = _encode_block(vv, books, bounds, cn2)
            else:
                codes = np.frombuffer(
                    b"".join(pdf["code"].to_numpy()), dtype=np.uint8
                ).reshape(len(pdf), m)
            ids = pdf["id"].to_numpy()
            n = len(ids)
            kk = min(k, n)
            if kk <= 0:
                continue
            # Neighbor-id rank within the batch: the tie-break component
            # of the selection key (order-isomorphic to global id order
            # restricted to this batch, which is all the cut needs).
            order = np.argsort(ids, kind="stable")
            rank = np.empty(n, dtype=np.int64)
            rank[order] = np.arange(n, dtype=np.int64)
            ids_sorted = ids[order]
            # Self-match positions via binary search (ids may repeat only
            # pathologically; mask every occurrence like the dense
            # compare used to).
            lo = np.searchsorted(ids_sorted, q_ids, side="left")
            hi = np.searchsorted(ids_sorted, q_ids, side="right")
            mask_q: list = []
            mask_x: list = []
            for qi in np.flatnonzero(hi > lo):
                xs = order[lo[qi] : hi[qi]]
                mask_q.append(np.full(len(xs), qi, dtype=np.int64))
                mask_x.append(xs)
            hq = np.concatenate(mask_q) if mask_q else np.empty(0, np.int64)
            hx = np.concatenate(mask_x) if mask_x else np.empty(0, np.int64)

            cand_key: list = []
            cand_x: list = []
            n64 = np.int64(n)
            for c0 in range(0, n, _ADC_CHUNK):
                c1 = min(c0 + _ADC_CHUNK, n)
                w = c1 - c0
                cc = codes[c0:c1]
                sc = np.zeros((nq, w), dtype=np.float64)
                rn2 = np.zeros(w, dtype=np.float64)
                tmp = np.empty((nq, w), dtype=np.float64)
                for s_ix in range(m):
                    col = cc[:, s_ix]
                    np.take(dot_lut[s_ix], col, axis=1, out=tmp)
                    sc += tmp
                    rn2 += norm_lut[s_ix][col]
                rn = np.sqrt(rn2)
                rn[rn == 0] = 1.0
                # Same elementwise arithmetic as np.round(scores/(qn·rn), 6)
                # — chunk boundaries cannot change a single output bit.
                np.divide(sc, qn[:, None] * rn[None, :], out=sc)
                np.multiply(sc, 1e6, out=sc)
                s_int = np.rint(sc).astype(np.int64)
                inb = (hx >= c0) & (hx < c1)
                s_int[hq[inb], hx[inb] - c0] = _ADC_SENTINEL
                key = s_int * n64 - rank[None, c0:c1]
                kw = min(kk, w)
                if w > kw:
                    top = np.argpartition(-key, kw - 1, axis=1)[:, :kw]
                    cand_key.append(np.take_along_axis(key, top, axis=1))
                    cand_x.append(top + c0)
                else:
                    cand_key.append(key)
                    cand_x.append(
                        np.broadcast_to(np.arange(c0, c1), (nq, w)).copy()
                    )
            keys = np.concatenate(cand_key, axis=1)
            xs = np.concatenate(cand_x, axis=1)
            if keys.shape[1] > kk:
                t2 = np.argpartition(-keys, kk - 1, axis=1)[:, :kk]
                keys = np.take_along_axis(keys, t2, axis=1)
                xs = np.take_along_axis(xs, t2, axis=1)
            # Recover the rounded score: key + rank == s_int·n exactly.
            s_sel = (keys + rank[xs]) // n64
            keep = (s_sel != _ADC_SENTINEL).ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, keys.shape[1])[keep],
                    "neighbor_id": ids[xs.ravel()[keep]],
                    "adc_cosine": s_sel.ravel()[keep] / 1e6,
                }
            )

    return score


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Bounded query-batch collect (queries are the small side of every
    ANN call in this repo) → (ids int64[], quantized vecs int64[n, dim])."""
    import numpy as np

    rows = queries.select(
        F.col(id_col).alias("id"), _quantize(F.col(vec_col)).alias("vec")
    ).collect()
    if not rows:
        raise ValueError("empty query batch")
    # Driver-side sort (r13): a pre-collect ``orderBy`` planned a global
    # range sort (sampling job + exchange) for a bounded batch; sorting
    # the collected rows yields the identical (ids, vecs) arrays — ids
    # are unique by the ANN-family contract.
    rows.sort(key=lambda r: r["id"])
    q_ids = np.asarray([r["id"] for r in rows], dtype=np.int64)
    q_vecs = np.stack([np.asarray(r["vec"], dtype=np.int64) for r in rows])
    return q_ids, q_vecs


def _query_vec_frame(spark: SparkSession, q_ids, q_vecs) -> DataFrame:
    """Bounded (query_id, __qv) frame from the collected query batch — the
    rerank's query side comes from the QUERIES THEMSELVES, never from a
    corpus lookup (an external query batch has ids the corpus does not
    contain; a corpus-side lookup silently matched nothing and returned
    an empty result)."""
    return spark.createDataFrame(
        [(int(i), [int(x) for x in v]) for i, v in zip(q_ids, q_vecs)],
        "query_id long, __qv array<long>",
    )


def _rerank_exact(
    candidates: DataFrame,
    neighbor_vecs: DataFrame,
    query_vecs: DataFrame,
    k: int,
) -> DataFrame:
    """Exact-rescore ADC candidates: ONE equi-join on neighbor id against
    ``neighbor_vecs`` (``(neighbor_id, __nv)`` — only candidate rows
    decompress) plus a broadcast of the bounded ``query_vecs``
    (``(query_id, __qv)``), exact int64 dot / norms JVM-side, one window
    re-rank — engine-exact cosine semantics (matches ``cosine_topk``'s
    rounding).  Shared by the flat and IVF paths."""
    from restructure_hdfs_topic_spark.operators.similarity import _dot, _norm2

    cand = candidates.select("query_id", "neighbor_id")
    scored = (
        cand.join(neighbor_vecs, "neighbor_id")
        .join(F.broadcast(query_vecs), "query_id")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("__qv"), F.col("__nv"))
                / (
                    F.sqrt(_norm2(F.col("__qv")).cast("double"))
                    * F.sqrt(_norm2(F.col("__nv")).cast("double"))
                ),
                6,
            ),
        )
        .drop("__qv", "__nv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    m: int = 8,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_factor: int | None = 4,
    train_sample: int = 16384,
    books=None,
) -> DataFrame:
    """Flat (non-IVF) PQ search: train (or reuse ``books``), encode the
    corpus to m-byte codes, ADC-score the query batch in the compressed
    domain, optionally rerank the top ``k·rerank_factor`` exactly.
    Returns (query_id, rank, neighbor_id, cosine) — ``cosine`` is exact
    when reranked, the ADC approximation otherwise.

    Scale: encode+ADC fuse into ONE Python crossing over the corpus (the
    vectors must be read in full to be encoded regardless; only the
    STORED-code paths like ``ivfpq_topk`` get the m-bytes-per-row scan);
    the shuffle into the rank window carries ≤ |queries|·k·rerank_factor·
    batches rows (per-batch partial top-k)."""
    # Unconditional (train_pq also checks, but a caller-supplied `books`
    # used to skip pq_encode's check and die as an opaque Arrow error).
    _check_integral_id(embeddings, id_col)
    if queries is None:
        queries = embeddings
    if books is None:
        books = train_pq(
            embeddings, id_col, vec_col, m=m, nbits=nbits, train_sample=train_sample
        )
    q_ids, q_vecs = _collect_queries(queries, id_col, vec_col)
    fetch = k if rerank_factor is None else k * rerank_factor
    # Fused encode+ADC: ONE Python crossing over the corpus (the former
    # pq_encode → ADC chain round-tripped every code JVM↔Python twice).
    quant = embeddings.select(
        F.col(id_col).alias("id"), _quantize(F.col(vec_col)).alias("vec")
    )
    parts = quant.mapInPandas(
        _adc_kernel(books, q_ids, q_vecs, fetch, encode_input=True),
        schema="query_id long, neighbor_id long, adc_cosine double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cosine").desc(), F.col("neighbor_id")
    )
    top = (
        parts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= fetch)
    )
    if rerank_factor is None:
        return top.select(
            "query_id", "rank", "neighbor_id", F.col("adc_cosine").alias("cosine")
        ).filter(F.col("rank") <= k)
    neighbor_vecs = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _quantize(F.col(vec_col)).alias("__nv")
    )
    return _rerank_exact(
        top,
        neighbor_vecs,
        _query_vec_frame(embeddings.sparkSession, q_ids, q_vecs),
        k,
    )


# --------------------------------------------------------------------------
# IVF composition: codes live beside an existing ivf_index
# --------------------------------------------------------------------------


def build_pq_for_ivf(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    train_sample: int = 16384,
    lock: bool = True,
    lock_ttl_s: int | None = None,
) -> dict:
    """Attach a PQ code store to an EXISTING ``build_ivf_index`` layout:
    train codebooks, encode the corpus, and write ``<path>/codes/``
    partitioned by the SAME cluster key as ``assignments/`` (one
    repartition on cluster).  Queries then prune to probed clusters and
    scan m-byte codes instead of full vectors; the originals in
    ``assignments/`` serve only the final exact rerank of candidates.

    Runs under the SAME ``ivf-mutate`` single-writer lease as every
    mutator in ``ivf_index.py`` (ADVICE r12): the codes/ write targets
    the CURRENT base generation, and a concurrent vacuum would move the
    base out from under it — post-publish sweep would then silently drop
    the freshly-written store.  ``lock=False`` opts out for
    externally-serialized callers."""
    from restructure_hdfs_topic_spark.locks import (
        ARTIFACT_MUTATION_TTL_S,
        artifact_mutation_lease,
    )

    spark = embeddings.sparkSession
    lease = artifact_mutation_lease(
        spark,
        path,
        "ivf-mutate",
        lock=lock,
        ttl_s=lock_ttl_s if lock_ttl_s is not None else ARTIFACT_MUTATION_TTL_S,
    )
    try:
        return _build_pq_for_ivf(
            embeddings, path, id_col, vec_col, m, nbits, train_sample
        )
    finally:
        if lease is not None:
            lease.close()


def _build_pq_for_ivf(
    embeddings: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    m: int,
    nbits: int,
    train_sample: int,
) -> dict:
    import numpy as np

    spark = embeddings.sparkSession
    meta = load_ivf_meta(spark, path)
    if meta.get("appends"):
        # Pre-PQ append generations have no codes/ store; fold them into
        # a fresh base first (vacuum doubles as the IVF compaction) so
        # the invariant "every referenced generation of a PQ-carrying
        # index carries codes" holds from the first publish.  We already
        # hold the ivf-mutate lease.
        from restructure_hdfs_topic_spark.operators.ivf_index import (
            vacuum_ivf_index,
        )

        meta = vacuum_ivf_index(spark, path, lock=False)
    books = train_pq(
        embeddings,
        id_col,
        vec_col,
        m=m,
        nbits=nbits,
        train_sample=train_sample,
        n_rows=int(meta["n"]),
    )
    codes = pq_encode(embeddings, books, id_col, vec_col)
    # Cluster labels come from the stored assignments (id → cluster): the
    # codes MUST land in the same partitions the probe join prunes to —
    # in the CURRENT base generation (vacuum moves both stores together).
    from restructure_hdfs_topic_spark.operators.ivf_index import _ivf_base_root

    base = _ivf_base_root(meta, path)
    from restructure_hdfs_topic_spark.operators.ivf_index import _ASSIGN_SCHEMA

    assign = spark.read.schema(_ASSIGN_SCHEMA).parquet(
        f"{base}/assignments"
    ).select("id", "cluster")
    (
        codes.join(assign, "id")
        .repartition(F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{base}/codes")
    )
    flat = [int(x) for x in books.reshape(-1)]
    pq_meta = {
        "format": "restructure_hdfs_topic_spark/ivfpq/v1",
        "m": int(m),
        "nbits": int(nbits),
        "n_codes": int(books.shape[1]),
        "dsub_max": int(books.shape[2]),
        "books": flat,
    }
    from restructure_hdfs_topic_spark import storage

    storage.store(path, spark).write(
        f"{path}/{_PQ_META}", json.dumps(pq_meta).encode("utf-8")
    )
    return pq_meta


def _load_books(spark: SparkSession, path: str):
    import numpy as np

    from restructure_hdfs_topic_spark import storage

    try:
        raw = storage.store(path, spark).read(f"{path}/{_PQ_META}")
    except Exception as exc:
        raise ValueError(
            f"{path}: no ivfpq/v1 code store (run build_pq_for_ivf)"
        ) from exc
    pq_meta = json.loads(raw.decode("utf-8"))
    if pq_meta.get("format") != "restructure_hdfs_topic_spark/ivfpq/v1":
        raise ValueError(f"{path}: no ivfpq/v1 code store (run build_pq_for_ivf)")
    books = np.asarray(pq_meta["books"], dtype=np.int64).reshape(
        pq_meta["m"], pq_meta["n_codes"], pq_meta["dsub_max"]
    )
    return books, pq_meta


def append_to_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lock: bool = True,
    lock_ttl_s: int | None = None,
    meta_extra: dict | None = None,
) -> dict:
    """Incremental growth for an IVFPQ index: route NEW embeddings into
    the TRAINED centroids and append BOTH stores — full vectors into
    ``assignments/`` (rerank side) and m-byte codes into ``codes/`` — as
    ONE ``append-gNNNNN`` generation (the shared replay-safe append core
    of ``append_to_ivf_index``, r13: a crash between the data write and
    the atomic meta publish followed by a replay of the same batch
    overwrites its own orphan, so vectors are never double-stored and
    ``n`` never drifts; both stores ride the SAME generation, so they
    can never reference different corpora).  Neither the coarse
    quantizer nor the PQ codebooks retrain (FAISS's add-after-train
    shape); rebuild when the arrival distribution drifts.  Returns the
    updated IVF meta.

    Runs under the ``ivf-mutate`` single-writer lease (ADVICE r12 — the
    same race class as ``append_to_ivf_index``: generation names derive
    from the committed meta, and a concurrent vacuum would sweep the
    generation this append publishes).  ``lock=False`` opts out for
    externally-serialized callers."""
    from restructure_hdfs_topic_spark.locks import (
        ARTIFACT_MUTATION_TTL_S,
        artifact_mutation_lease,
    )
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        _append_generation,
    )

    spark = embeddings.sparkSession
    _check_integral_id(embeddings, id_col)
    lease = artifact_mutation_lease(
        spark,
        path,
        "ivf-mutate",
        lock=lock,
        ttl_s=lock_ttl_s if lock_ttl_s is not None else ARTIFACT_MUTATION_TTL_S,
    )
    try:
        books, _pq_meta = _load_books(spark, path)
        return _append_generation(
            embeddings, path, id_col, vec_col, books=books, meta_extra=meta_extra
        )
    finally:
        if lease is not None:
            lease.close()


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    rerank_factor: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ query: probe ``nprobe`` clusters per query (broadcast
    centroids, one Arrow pass), ADC-score ONLY the probed partitions of
    the m-byte code store (partition pruning via the equi-join on the
    partition column), then exact-rerank the top candidates against the
    stored full vectors of those same probed clusters.  The corpus-sized
    read is nprobe/C of the rows × m bytes of the columns — both cost
    axes cut, which is the point of IVFPQ."""
    import numpy as np

    meta = load_ivf_meta(spark, path)
    if int(meta["n"]) - int(meta.get("n_deleted", 0)) <= 0:
        from restructure_hdfs_topic_spark.operators.ivf_index import _empty_topk

        return _empty_topk(spark)  # all deleted — nothing can be ranked
    books, pq_meta = _load_books(spark, path)
    from restructure_hdfs_topic_spark.operators.ivf_index import _load_centroids

    centroids = _load_centroids(spark, path)
    _check_integral_id(queries, id_col)
    nprobe = max(1, min(int(nprobe), int(meta["n_centroids"])))
    q_ids, q_vecs = _collect_queries(queries, id_col, vec_col)
    fetch = k if rerank_factor is None else k * rerank_factor
    # Probed clusters computed DRIVER-SIDE from the already-collected
    # query batch (same arithmetic as the ``_probe_assign`` kernel, so
    # the selected cells are identical) and applied as a literal IN
    # filter on the partition column — static pruning reaches the
    # PartitionFilters of every generation's scan, including through the
    # base∪appends union where dynamic partition pruning does not fire
    # (r13; the former Arrow probe pass existed only to derive this set).
    cf = centroids.astype(np.float64)
    cn = np.sqrt((cf**2).sum(axis=1))
    cn[cn == 0] = 1.0
    qn = np.sqrt((q_vecs.astype(np.float64) ** 2).sum(axis=1))
    qn[qn == 0] = 1.0
    sims = (q_vecs @ cf.T) / (qn[:, None] * cn[None, :])
    p = min(nprobe, len(cf))
    if p < sims.shape[1]:
        top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
    else:
        top = np.broadcast_to(
            np.arange(sims.shape[1]), (len(q_vecs), sims.shape[1])
        )
    probed = sorted({int(c) for c in top.ravel()})

    from restructure_hdfs_topic_spark.operators.ivf_index import (
        _ivf_tombstone_df,
        _prune_clusters,
        _read_ivf_union,
    )

    codes = _prune_clusters(
        _read_ivf_union(spark, meta, path, "codes"),
        probed,
        int(meta["n_centroids"]),
    )
    tomb = _ivf_tombstone_df(spark, meta, path)
    if tomb is not None:
        # Tombstoned vectors never reach the ADC ranking, so they cannot
        # occupy candidate slots; the rerank side reads only candidate
        # ids, which are live by construction.
        codes = codes.join(tomb, "id", "left_anti")
    pruned = codes.select("id", "code")
    parts = pruned.mapInPandas(
        _adc_kernel(books, q_ids, q_vecs, fetch),
        schema="query_id long, neighbor_id long, adc_cosine double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cosine").desc(), F.col("neighbor_id")
    )
    top = (
        parts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= fetch)
    )
    if rerank_factor is None:
        return top.select(
            "query_id", "rank", "neighbor_id", F.col("adc_cosine").alias("cosine")
        ).filter(F.col("rank") <= k)
    # Exact rerank against the stored vectors, pruned to the SAME probed
    # clusters (candidates live there by construction); query vectors come
    # from the collected query batch (shared _rerank_exact).
    stored = _prune_clusters(
        _read_ivf_union(spark, meta, path, "assignments"),
        probed,
        int(meta["n_centroids"]),
    ).select(F.col("id").alias("neighbor_id"), F.col("vec").alias("__nv"))
    return _rerank_exact(top, stored, _query_vec_frame(spark, q_ids, q_vecs), k)
