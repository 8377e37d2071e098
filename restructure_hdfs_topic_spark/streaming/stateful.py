"""Streaming operators and sinks for the LLM-data pipelines (SURVEY M5
extension).

- ``streaming_dedup_documents``: exact document dedup across micro-batches
  as an ``applyInPandasWithState`` operator, the fingerprint set kept in
  the engine's group state.
- ``streaming_near_dup_sink``, ``streaming_bm25_index_sink``,
  ``streaming_curation_sink``, ``streaming_ivf_index_sink``:
  ``foreachBatch`` sink bodies that run the batch operator on each
  micro-batch and keep their state in the shared on-disk stores
  (``operators/incremental.py``, the index directories).

The restructure job's exactly-once record filter is not here: the service
loop (``streaming.service.run_service``) runs the batch job, whose offset
ledger (``operators/offsets.py``, driver rows) prunes every committed
file before its records are read (O4/O5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def make_fingerprint_dedup_kernel(fp_col: str = "__fp"):
    """Per-group kernel for ``streaming_dedup_documents``: exact-membership
    dedup against a sorted fingerprint array in group state, with a
    running set of this batch's fingerprints so an Arrow-chunked group
    cannot leak a duplicate that spans two chunks.  Module-level so the
    cross-chunk contract is testable with a fake GroupState."""
    import numpy as np
    import pandas as pd

    def dedup(key, pdf_iter, state: GroupState):
        if state.exists:
            (fps_list,) = state.get
            fps = np.asarray(fps_list, dtype=np.int64)
        else:
            fps = np.empty(0, dtype=np.int64)
        fresh_sorted = np.empty(0, dtype=np.int64)
        for pdf in pdf_iter:
            vals = pdf[fp_col].to_numpy(dtype=np.int64)
            seen = np.isin(vals, fps) if len(fps) else np.zeros(len(vals), bool)
            if len(fresh_sorted):
                seen |= np.isin(vals, fresh_sorted)
            first_seen = ~pd.Series(vals).duplicated().to_numpy()
            keep = ~seen & first_seen
            out = pdf[keep].drop(
                columns=[c for c in (fp_col, "__bucket") if c in pdf.columns]
            )
            if len(out):
                yield out
            kept = vals[keep]
            if len(kept):
                fresh_sorted = np.union1d(fresh_sorted, kept)
        if len(fresh_sorted):
            state.update((np.union1d(fps, fresh_sorted).tolist(),))

    return dedup


def streaming_near_dup_sink(
    state_dir: str,
    accepted_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    **lsh_kwargs,
):
    """Streaming NEAR-dup suppression as a ``foreachBatch`` sink body:
    each micro-batch is MinHash/LSH-filtered against the corpus signature
    history and the survivors appended to ``accepted_path`` (parquet),
    then their signatures are committed — exactly the batch
    ``ingest_batch_near_dup`` protocol, driven by the stream.

        stream.writeStream.foreachBatch(
            streaming_near_dup_sink(state, out)
        ).option("checkpointLocation", ckpt).start()

    Why ``foreachBatch`` rather than ``applyInPandasWithState``: LSH
    near-dup needs OR-voting across a document's L band buckets, i.e. one
    keyed stateful pass to gather per-band matches and a second keyed pass
    to combine votes per document — and Spark rejects chained
    ``applyInPandasWithState`` operators outright ("Multiple
    applyInPandasWithStates are not supported").  A single-band state-store
    variant would decide locally but collapses recall to one band
    (``s^r``).  ``foreachBatch`` runs the full multi-band batch operator
    (banded candidate join + signature-agreement verification) per
    micro-batch with NO semantic downgrade, and keeps the signature state
    in the SHARED versioned store (``operators/incremental.py``): it
    survives checkpoint deletion, is shared with batch backfills of the
    same corpus, and carries the store's commit-after-store crash story.

    Delivery: exactly-once on the signature state (replaying a committed
    batch re-filters everything to zero); at-least-once on the accepted
    sink — a crash between the parquet append and the signature commit
    re-offers the batch, mirroring the reference's store-then-commit
    ordering (worker/FileCache.kt:128-158), which prefers duplicate
    delivery over loss."""
    from restructure_hdfs_topic_spark.operators.incremental import (
        ingest_batch_near_dup,
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_near_dup(
            batch_df.sparkSession,
            state_dir,
            batch_df,
            lambda df: df.write.mode("append").parquet(accepted_path),
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            **lsh_kwargs,
        )

    return body


def streaming_dedup_documents(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Streaming flavor of the incremental corpus dedup
    (``operators/incremental.py``): emit each distinct document text at
    most once across ALL micro-batches — the continuous-ingest analogue
    of the batch filter-then-commit protocol, with the fingerprint state
    checkpointed by the engine instead of a versioned parquet store.

    State shards across ``n_buckets`` groups keyed by
    ``pmod(xxhash64(text), n_buckets)``; each group holds a sorted int64
    fingerprint array, so membership is a vectorized ``isin`` per Arrow
    chunk.  State grows 8 bytes per distinct document — right for
    continuous moderate-rate ingest; a 100 TB backfill belongs on the
    batch path, whose history lives in a shared store rather than per-
    query checkpoints.
    """
    from pyspark.sql import functions as F

    out_schema = docs.schema
    tagged = docs.withColumn("__fp", F.xxhash64(F.col(text_col))).withColumn(
        "__bucket", F.pmod(F.col("__fp"), F.lit(n_buckets))
    )
    return tagged.groupBy("__bucket").applyInPandasWithState(
        make_fingerprint_dedup_kernel("__fp"),
        outputStructType=out_schema,
        stateStructType="fps array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_bm25_index_sink(
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    compact_every_n_segments: int | None = None,
):
    """Continuously-indexed corpus as a ``foreachBatch`` sink body: every
    micro-batch appends ONE BM25 segment (``append_bm25_segment``), so
    the on-disk index serves the stream's whole history bit-identically
    to a from-scratch rebuild — search over a live corpus without ever
    re-scanning it.

        stream.writeStream.foreachBatch(
            streaming_bm25_index_sink("/idx")
        ).option("checkpointLocation", ckpt).start()

    Delivery: EXACTLY-ONCE on the index.  The last committed streaming
    batch id rides inside the meta (``meta_extra``), in the SAME atomic
    publish as the segment stats — state and data commit together:

    - a batch at or below ``last_batch_id`` skips (Spark replays the
      last batch after recovery; the committed meta proves it landed);
    - a crash BETWEEN the segment write and the meta publish leaves the
      previous meta valid (the orphan segment dir is unreferenced), and
      the replayed batch re-derives the same segment name from the
      committed segment count and overwrites its own orphan.

    The first batch bootstraps an empty base build at ``index_path`` —
    but ONLY on a verified-absent index (ADVICE r11): the meta's absence
    is checked explicitly (``bm25_meta_exists``), a meta that EXISTS but
    fails to load re-raises (a transient FS error or corrupt file must
    not masquerade as "first batch"), and bootstrap refuses when index
    data directories already exist without a meta (an interrupted BUILD
    or external damage — since r12's generational compaction, a crashed
    compactor can no longer produce this state — rebuilding an empty
    base over them would silently erase the indexed history AND the
    exactly-once state).  Recover such an index explicitly: rebuild from
    the corpus, or delete the artifact directory if it is truly
    disposable.

    Compact with ``compact_bm25_index`` — either pass
    ``compact_every_n_segments`` so the sink folds segments back into
    the base from the driver between appends (single-writer, so the
    documented-safe window), or run it externally BETWEEN batches
    (compaction rewrites dirs; running it concurrently with an append is
    the one pairing the mutation lease serializes — same as Lucene's
    external merge scheduler contract).
    """
    from restructure_hdfs_topic_spark.operators.bm25_index import (
        append_bm25_segment,
        bm25_artifacts_exist,
        bm25_meta_exists,
        build_bm25_index,
        compact_bm25_index,
        load_bm25_meta,
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if bm25_meta_exists(spark, index_path):
            meta = load_bm25_meta(spark, index_path)  # load errors re-raise
        elif bm25_artifacts_exist(spark, index_path):
            raise RuntimeError(
                f"streaming_bm25_index_sink: index data present at "
                f"{index_path!r} but its meta is missing — an interrupted "
                "build/compaction or external damage; recover or rebuild "
                "explicitly instead of bootstrapping over it"
            )
        else:
            meta = build_bm25_index(
                batch_df.select(id_col, text_col).limit(0),
                index_path,
                id_col=id_col,
                text_col=text_col,
                n_buckets=n_buckets,
            )
        if int(meta.get("last_batch_id", -1)) >= int(batch_id):
            return  # committed replay — exactly-once skip
        meta = append_bm25_segment(
            batch_df,
            index_path,
            text_col=text_col,
            meta_extra={"last_batch_id": int(batch_id)},
        )
        if (
            compact_every_n_segments
            and len(meta.get("segments", [])) >= compact_every_n_segments
        ):
            # Driver-side, after the append committed and before the next
            # batch can start — the single-writer safe window.  Compaction
            # preserves last_batch_id (meta.update keeps unknown keys), so
            # the exactly-once state survives the fold; a crash mid-compact
            # leaves the pre-compaction meta valid (generational publish),
            # so the stream just continues and repair_bm25_index sweeps
            # the orphan generation.
            compact_bm25_index(spark, index_path)

    return body


def streaming_curation_sink(
    state_dir: str,
    accepted_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    from_html: bool = True,
    classifier_model: dict | None = None,
    classifier_threshold: float = 0.5,
    use_bloom: bool = False,
):
    """Streaming CURATION as a ``foreachBatch`` sink body — the full
    "crawl stream in, training rows out" product path, per micro-batch:

        strip_html → Gopher quality gate → (optional) classifier gate →
        incremental exact dedup vs the committed fingerprint store →
        append survivors to ``accepted_path``

    Stateless stages (HTML extraction, quality gates) run as ordinary
    codegen/Arrow transformations on the micro-batch; the only cross-batch
    state is the dedup fingerprint store, carried by ``ingest_batch``'s
    commit-after-store protocol — so delivery semantics are exactly the
    streaming-dedup sink's (exactly-once on state, at-least-once on the
    parquet sink, replays filter to zero).  Every stage is the SAME tested
    batch operator; this function only composes them under the stream.

        stream.writeStream.foreachBatch(
            streaming_curation_sink(state, out)
        ).option("checkpointLocation", ckpt).start()
    """
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.functions.text import (
        gopher_metrics,
        gopher_passes,
        strip_html,
    )
    from restructure_hdfs_topic_spark.operators.incremental import ingest_batch

    def body(batch_df: DataFrame, batch_id: int) -> None:
        df = batch_df
        if from_html:
            df = df.withColumn(text_col, strip_html(F.col(text_col)))
        metrics = gopher_metrics(F.col(text_col))
        df = (
            df.select(*df.columns, *[c.alias(n) for n, c in metrics])
            .filter(gopher_passes(*[F.col(n) for n, _ in metrics]))
            .select(*df.columns)
        )
        if classifier_model is not None:
            from restructure_hdfs_topic_spark.operators.classifier import (
                quality_classifier_gate,
            )

            df = quality_classifier_gate(
                df, classifier_model, classifier_threshold, id_col, text_col
            ).drop("score")
        ingest_batch(
            batch_df.sparkSession,
            state_dir,
            df,
            lambda accepted: accepted.write.mode("append").parquet(accepted_path),
            id_col=id_col,
            text_col=text_col,
            # Bloom sidecar prefilter: the right default once the committed
            # store dwarfs a micro-batch (output identical either way).
            use_bloom=use_bloom,
        )

    return body


def streaming_ivf_index_sink(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    vacuum_every_n_appends: int | None = None,
):
    """Continuously-indexed VECTOR corpus as a ``foreachBatch`` sink body
    (r13 — the ``streaming_bm25_index_sink`` twin, completing the index
    family's symmetry): every micro-batch appends ONE replay-safe
    ``append-gNNNNN`` generation (``append_to_ivf_index``), so the
    on-disk IVF index serves the stream's whole history.

        stream.writeStream.foreachBatch(
            streaming_ivf_index_sink("/idx")
        ).option("checkpointLocation", ckpt).start()

    Delivery: EXACTLY-ONCE on the index.  The last committed streaming
    batch id rides inside the meta (``meta_extra``) in the SAME atomic
    publish as the append generation — state and data commit together:
    a batch at or below ``last_batch_id`` skips (Spark replays the last
    batch after recovery); a crash BETWEEN the generation write and the
    publish leaves the previous meta valid, and the replayed batch
    re-derives the same generation name and overwrites its own orphan
    (the r13 crash-replay-idempotence contract of the appender — this
    sink is only possible because of it).

    Bootstrap: an IVF index cannot build empty (the quantizer trains on
    data), so the FIRST non-empty batch is the training corpus
    (FAISS's train-on-first-chunk shape) — its ``last_batch_id`` stamps
    into the build's meta atomically, so a replayed bootstrap batch
    skips instead of appending itself on top of the index it trained.
    Empty leading batches are skipped without committing state (safe: a
    replay of an empty batch changes nothing).  A meta that EXISTS but
    fails to load re-raises, and bootstrap refuses when index data dirs
    exist meta-less (an interrupted build or external damage — never a
    safe bootstrap target).  If arrival distribution drifts far from
    the first batch, rebuild offline with a representative corpus and
    point the sink at the result.

    ``vacuum_every_n_appends`` bounds the serve-time union width: after
    the append commits, the sink folds append generations into a fresh
    base from the driver (``vacuum_ivf_index`` — the IVF compaction) in
    the documented-safe single-writer window; ``last_batch_id`` rides
    the fold's meta untouched, and a crash mid-vacuum leaves the
    pre-vacuum meta valid (generational publish).
    """
    from restructure_hdfs_topic_spark.operators.ivf_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_artifacts_exist,
        ivf_meta_exists,
        load_ivf_meta,
        vacuum_ivf_index,
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if ivf_meta_exists(spark, index_path):
            meta = load_ivf_meta(spark, index_path)  # load errors re-raise
        elif ivf_artifacts_exist(spark, index_path):
            raise RuntimeError(
                f"streaming_ivf_index_sink: index data present at "
                f"{index_path!r} but its meta is missing — an interrupted "
                "build or external damage; recover or rebuild explicitly "
                "instead of bootstrapping over it"
            )
        else:
            if batch_df.isEmpty():
                return  # nothing to train on; replaying this is free
            build_ivf_index(
                batch_df,
                index_path,
                id_col=id_col,
                vec_col=vec_col,
                n_centroids=n_centroids,
                meta_extra={"last_batch_id": int(batch_id)},
            )
            return
        if int(meta.get("last_batch_id", -1)) >= int(batch_id):
            return  # committed replay — exactly-once skip
        meta = append_to_ivf_index(
            batch_df,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            meta_extra={"last_batch_id": int(batch_id)},
        )
        if (
            vacuum_every_n_appends
            and len(meta.get("appends", [])) >= vacuum_every_n_appends
        ):
            # Driver-side, after the append committed and before the next
            # batch starts — the single-writer safe window (same contract
            # as the BM25 sink's auto-compaction).
            vacuum_ivf_index(spark, index_path)

    return body
