"""Incremental corpus dedup: dedup a NEW document batch against the
fingerprint state of everything already ingested (north-star extension).

A 100 TB training corpus is not built in one shot — it grows by crawl
increment, and each increment must be deduplicated against the corpus
history WITHOUT rescanning it.  This module keeps that history as a
committed set of 8-byte ``xxhash64(text)`` fingerprints (the same
exact-dedup key ``dedup_exact_docs`` shuffles on) and mirrors the offset
accounting's commit discipline (SURVEY O17/O18): filter the batch against
the state, durably write the accepted documents, THEN commit their
fingerprints — a crash between the two steps re-offers the batch instead
of losing it.

Each lane (fingerprints; MinHash signatures under ``minhash_sigs/``) is
an ``update`` over the versioned state store's one compare-and-swap
commit (``restructure_hdfs_topic_spark/state.py``), with the offset
ledger's crash-safety and concurrent-committer story.  Point it at its
OWN state directory, never at an offset accounting dir.

Scale shape: the novelty filter is one hash anti-join on an 8-byte key
(the within-batch keep-first window reuses the same exchange); the state
never collects; commits union-distinct two fingerprint sets — all
shuffle-partitioned, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark import state

# The lanes' payloads in the state store: parquet versions.  The
# signature lane's id type follows the ingested batches.
FP_STATE = state.Parquet("fp long")
SIG_STATE = state.Parquet("id long, sig array<long>", infer=True)


def document_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct 8-byte content fingerprints of a document set."""
    return docs.select(F.xxhash64(F.col(text_col)).alias("fp")).distinct()


def filter_novel_documents(
    batch: DataFrame,
    state_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents of ``batch`` whose text content is new: not fingerprinted
    in ``state_fps`` AND first (lowest ``id_col``) among in-batch copies.

    One exchange on the fingerprint serves both the keep-first window and
    the anti-join; original batch columns pass through unchanged.
    """
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        batch.withColumn("__fp", F.xxhash64(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .join(
            state_fps.select(F.col("fp").alias("__fp")), on="__fp", how="left_anti"
        )
        .select(*batch.columns)
    )


def read_fingerprints(spark: SparkSession, state_dir: str) -> DataFrame:
    """Committed fingerprint state (empty frame when none yet)."""
    return state.read(spark, state_dir, FP_STATE)[0]


def commit_fingerprints(
    spark: SparkSession, state_dir: str, new_fps: DataFrame
) -> DataFrame:
    """Merge ``new_fps`` into the committed set and swap atomically
    (``state.commit``).  Call only AFTER the accepted documents are
    durably written (commit-after-store, O18)."""
    return commit_fingerprints_versioned(spark, state_dir, new_fps)[0]


def commit_fingerprints_versioned(
    spark: SparkSession, state_dir: str, new_fps: DataFrame
) -> tuple[DataFrame, int, int]:
    """``commit_fingerprints`` plus the version pair the commit actually
    performed: ``(state_df, snapshot_version, committed_version)``.  The
    Bloom sidecar's incremental update needs exactly this — it may fold
    the new keys in only when the sidecar covers ``snapshot_version`` and
    this commit produced ``committed_version`` from it (any interleaved
    peer commit makes the fold unsound and forces a rebuild)."""
    return state.commit(
        spark,
        state_dir,
        lambda snapshot: snapshot.unionByName(new_fps.select("fp")).distinct(),
        FP_STATE,
    )


SIG_STATE_SUBDIR = "minhash_sigs"


def batch_minhash_signatures(
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """``(id, sig array<long>)`` MinHash signatures of a batch — the same
    Arrow kernel as the batch LSH path, hashed-shingle column dropped
    (signatures alone are what the incremental state keeps)."""
    from restructure_hdfs_topic_spark.operators.dedup import _minhash_kernel

    id_type = batch.schema[id_col].dataType.simpleString()
    return (
        batch.select(
            F.col(id_col).alias("id"), F.col(text_col).cast("string").alias("text")
        )
        .mapInPandas(
            _minhash_kernel(n, num_hashes),
            schema=f"id {id_type}, hashed array<long>, sig array<long>",
        )
        .select("id", "sig")
    )


def _sig_bands(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice("sig", b * rows_per_band + 1, rows_per_band)
                        .cast("array<long>")
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.key")


def _sig_agreement(a, b, num_hashes: int):
    """MinHash Jaccard estimate: fraction of agreeing signature rows."""
    return (
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)).cast(
            "double"
        )
        / F.lit(float(num_hashes))
    )


def filter_novel_near_dup(
    batch: DataFrame,
    state_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-dup novelty filter for a new batch against corpus history:
    drop batch documents whose estimated Jaccard to any already-ingested
    document — or to any LOWER-ID banded match of the same batch — is
    ``>= threshold`` (the same drop-the-larger-id-of-each-pair convention
    as ``curate_corpus``; the lower-id match need not itself survive).

    The state holds SIGNATURES only (``num_hashes`` int64 per document,
    ~256 B at the default — the corpus's shingle sets would rival the
    corpus itself), so verification here uses the standard MinHash
    agreement estimate rather than the batch path's exact hashed-shingle
    Jaccard; E[estimate] equals true Jaccard with σ = sqrt(J(1-J)/k).
    Candidate generation is LSH banding on (band, key) — batch bands join
    state bands, never all-pairs.  Within-batch survivors use the same
    keep-first greedy as ``curate_corpus`` (drop the larger id of a
    matched pair).
    """
    from restructure_hdfs_topic_spark.caching import scoped_persist

    # Scoped persist: one live cache generation across repeated ingests
    # (CacheManager never self-reclaims an in-plan persist).
    sigs = scoped_persist(
        batch_minhash_signatures(batch, id_col, text_col, n, num_hashes),
        scope="incremental.filter_novel_near_dup.sigs",
    )
    b_bands = _sig_bands(sigs, bands, rows_per_band)
    s_bands = _sig_bands(state_sigs, bands, rows_per_band)
    est = _sig_agreement(F.col("b_sig"), F.col("s_sig"), num_hashes)
    cross_hits = (
        b_bands.select("band", "key", F.col("id").alias("b_id"), F.col("sig").alias("b_sig"))
        .join(
            s_bands.select("band", "key", F.col("sig").alias("s_sig")),
            ["band", "key"],
        )
        .filter(est >= threshold)
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    within = (
        b_bands.alias("l")
        .join(
            b_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .filter(_sig_agreement(F.col("l.sig"), F.col("r.sig"), num_hashes) >= threshold)
        .select(F.col("r.id").alias(id_col))
        .distinct()
    )
    # The drop set scales with the batch's duplicate fraction — leave the
    # anti-join side to AQE (broadcast while small) rather than forcing a
    # batch-sized id set onto every executor.
    dropped = cross_hits.unionByName(within).distinct()
    return batch.join(dropped, on=id_col, how="left_anti")


def _sig_dir(state_dir: str) -> str:
    return f"{state_dir.rstrip('/')}/{SIG_STATE_SUBDIR}"


def read_signatures(spark: SparkSession, state_dir: str) -> DataFrame:
    """Committed signature state (empty when none yet).  The id type
    follows the ingested batches, so the footers decide the schema."""
    return state.read(spark, _sig_dir(state_dir), SIG_STATE)[0]


def commit_signatures(
    spark: SparkSession, state_dir: str, new_sigs: DataFrame
) -> DataFrame:
    """Append signatures of accepted documents to the committed state
    (``state.commit``).  Call after the accepted documents are durably
    written (commit-after-store)."""

    def update(existing: DataFrame) -> DataFrame:
        # Prefer the COMMITTED row when a re-ingested id reappears (possibly
        # with different text): a bare dropDuplicates(["id"]) over the union
        # keeps a partition-order-dependent survivor, making future near-dup
        # decisions nondeterministic.  Anti-join first (state wins), and
        # collapse intra-batch id conflicts to the lexicographically least
        # signature (arrays are orderable) so the merge is a pure function
        # of (state, batch) regardless of partitioning.
        return existing.unionByName(
            new_sigs.join(existing.select("id"), "id", "left_anti")
            .groupBy("id")
            .agg(F.min("sig").alias("sig"))
        )

    payload = state.Parquet(new_sigs.schema.simpleString(), infer=True)
    return state.commit(spark, _sig_dir(state_dir), update, payload)[0]


def ingest_batch_near_dup(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    write_accepted,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    **lsh_kwargs,
) -> dict:
    """Near-dup flavor of ``ingest_batch``: filter the batch against the
    corpus signature state, durably write the accepted documents, then
    commit their signatures (commit-after-store; idempotent on replay up
    to MinHash estimate noise on borderline pairs)."""
    state = read_signatures(spark, state_dir)
    accepted = filter_novel_near_dup(
        batch, state, id_col, text_col, threshold=threshold, **lsh_kwargs
    )
    from pyspark import StorageLevel

    accepted = accepted.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_accepted = accepted.count()
        write_accepted(accepted)
        if n_accepted:
            sigs = batch_minhash_signatures(
                accepted,
                id_col,
                text_col,
                n=lsh_kwargs.get("n", 3),
                num_hashes=lsh_kwargs.get("num_hashes", 32),
            )
            commit_signatures(spark, state_dir, sigs)
        return {"batch_rows": batch.count(), "accepted_rows": n_accepted}
    finally:
        accepted.unpersist()


def delete_from_incremental_state(
    spark: SparkSession,
    state_dir: str,
    docs: DataFrame | None = None,
    *,
    ids: DataFrame | None = None,
    fps: DataFrame | None = None,
    surviving: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Takedown propagation into the incremental-dedup state (VERDICT
    r12 "What's missing" #1 — the inverse right-to-be-forgotten story):
    after a document is removed from the corpus, its fingerprints must
    not keep suppressing NEW near-identical documents as "duplicate of"
    content the pipeline was told to forget.  Retracts, with one
    versioned CAS commit per lane (the same pointer-swap protocol the
    folds use, so concurrent committers stay safe):

    - the EXACT-fingerprint lane: ``xxhash64(text)`` rows of the deleted
      ``docs`` (or an explicit ``fps`` frame) anti-joined out of the
      committed set.  Pass ``surviving`` (any frame with ``text_col``)
      when other corpus documents may SHARE the deleted text — shared
      fingerprints are kept, because the surviving copy still justifies
      suppressing future duplicates (without it this function cannot
      know; the reference's cleaner has the same contract — it retracts
      exactly what ``accountant.remove`` is told,
      cleaner/SourceDataCleaner.kt:103-106);
    - the MINHASH-signature lane: deleted ids (``docs``'s ``id_col`` or
      an explicit ``ids`` frame) anti-joined out of the committed
      ``(id, sig)`` state.

    The BLOOM sidecar cannot subtract (no false negatives by
    construction means no removal either) — and does not need to: the
    fp-state commit advances the state VERSION, and every sidecar
    consumer gates on version equality, so the next probe rebuilds the
    sidecar from the post-delete state (``write_bloom_sidecar``) and the
    next ingest's incremental fold falls back to a rebuild (the
    version-lineage gate in ``update_bloom_sidecar``).  Even BEFORE that
    rebuild there is no suppression window: a stale bitmap can only
    produce false POSITIVES, and every positive is verified against the
    exact post-delete state — correctness never depended on sidecar
    freshness in the delete direction, only cost does.

    Returns ``{"fp_state": {"removed", "version"} | None,
    "sig_state": {"removed", "version"} | None}`` (a lane is None when
    its state directory has never been committed or no inputs address
    it).  Scale shape: two anti-joins on 8-byte keys + the state
    commits; nothing collects."""
    del_fps = fps
    if del_fps is None and docs is not None:
        del_fps = document_fingerprints(docs, text_col)
    del_ids = ids
    if del_ids is None and docs is not None:
        del_ids = docs.select(F.col(id_col).alias("id")).distinct()
    elif del_ids is not None and "id" not in del_ids.columns:
        del_ids = del_ids.select(F.col(id_col).alias("id")).distinct()
    report: dict = {"fp_state": None, "sig_state": None}

    if del_fps is not None and state.current_version(spark, state_dir) is not None:
        if surviving is not None:
            keep = document_fingerprints(surviving, text_col)
            del_fps = del_fps.join(keep, "fp", "left_anti")
        report["fp_state"] = _retract(
            spark,
            state_dir,
            lambda existing: existing.join(del_fps.select("fp"), "fp", "left_anti"),
            FP_STATE,
        )

    sig_sub = _sig_dir(state_dir)
    if del_ids is not None and state.current_version(spark, sig_sub) is not None:
        report["sig_state"] = _retract(
            spark,
            sig_sub,
            lambda existing: existing.join(del_ids.select("id"), "id", "left_anti"),
            SIG_STATE,
        )
    return report


def _retract(spark: SparkSession, sub: str, transform, payload: state.Parquet) -> dict:
    """One ``state.commit`` applying ``transform`` to the committed state;
    returns ``{"removed": n, "version": committed}``.  ``update`` reruns
    on every commit attempt, so ``removed`` counts against the snapshot of
    the attempt that committed (the last one)."""
    before: list[int] = []

    def update(existing: DataFrame) -> DataFrame:
        before.append(existing.count())
        return transform(existing)

    out, _, version = state.commit(spark, sub, update, payload)
    return {"removed": before[-1] - out.count(), "version": version}


def ingest_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    write_accepted,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_bloom: bool = False,
) -> dict:
    """One increment, commit-after-store: filter the batch to novel
    documents, hand them to ``write_accepted(accepted_df)`` (the caller's
    durable write — its return is ignored), then commit their
    fingerprints.  Returns counters.  A crash before the commit re-offers
    the whole batch next run; the filter makes the rerun a no-op for
    already-ingested content, so the protocol is idempotent.

    ``use_bloom=True`` routes the novelty filter through the bucketed
    Bloom sidecar (``operators/bloom.py``): identical output, but only
    Bloom-positive rows pay the state anti-join — the right default once
    the committed state dwarfs the typical batch."""
    if use_bloom:
        from restructure_hdfs_topic_spark.operators.bloom import (
            filter_novel_documents_bloom,
        )

        accepted = filter_novel_documents_bloom(
            spark, state_dir, batch, id_col, text_col
        )
    else:
        state = read_fingerprints(spark, state_dir)
        accepted = filter_novel_documents(batch, state, id_col, text_col)
    # Persist across the caller's write action and our fingerprint commit
    # (two evaluations of the filtered plan otherwise).
    from pyspark import StorageLevel

    accepted = accepted.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_accepted = accepted.count()
        write_accepted(accepted)
        if n_accepted:
            fps = document_fingerprints(accepted, text_col)
            if use_bloom:
                # Versioned commit + incremental sidecar fold: the
                # steady-state loop must NOT rebuild the sidecar from the
                # full committed store per batch (the cost the sidecar
                # exists to avoid).  The fold verifies version lineage
                # and falls back to a rebuild when a peer interleaved.
                from pyspark import StorageLevel as _SL

                from restructure_hdfs_topic_spark.operators.bloom import (
                    update_bloom_sidecar,
                )

                fps = fps.persist(_SL.MEMORY_AND_DISK)
                try:
                    _, snap_v, new_v = commit_fingerprints_versioned(
                        spark, state_dir, fps
                    )
                    update_bloom_sidecar(spark, state_dir, fps, snap_v, new_v)
                finally:
                    fps.unpersist()
            else:
                commit_fingerprints(spark, state_dir, fps)
        return {
            "batch_rows": batch.count(),
            "accepted_rows": n_accepted,
        }
    finally:
        accepted.unpersist()
