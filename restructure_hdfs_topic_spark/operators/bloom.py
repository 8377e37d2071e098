"""Bucketed Bloom sidecars: prefilter incremental dedup's state anti-join.

``filter_novel_documents`` anti-joins every new crawl batch against the
committed fingerprint state — at corpus scale that shuffles the whole
batch against a billions-row state even when the batch is almost all
novel (the common case: a fresh crawl overlaps history by a few
percent).  A Bloom filter over the committed fingerprints answers
"definitely novel" without touching the state: rows whose probes miss
skip the anti-join entirely; only Bloom-positive rows (true duplicates +
the ~0.8% false-positive tail at the default 10 bits/key) pay it.  No
false negatives by construction, so the result is IDENTICAL to the
plain anti-join — the sidecar only reshapes cost.

Why bucketed: one monolithic filter over 1e10 keys is ~12 GB — not
broadcastable.  The sidecar shards by ``pmod(hash, n_buckets)`` into
per-bucket bitmaps (a few hundred KB each) stored as ONE parquet row
per bucket, and the probe is a COGROUP on the bucket key: each task
receives its bucket's batch rows plus that bucket's single bitmap row —
the bitmap ships once per bucket, never once per row, and both sides
scale horizontally.

Staleness is a correctness hazard here (a fingerprint missing from a
stale sidecar would let its duplicate through), so the sidecar records
the fingerprint-state VERSION it was built from and
``filter_novel_documents_bloom`` rebuilds automatically whenever the
state has moved — the filter can be wasteful, never wrong.

Reference analogue: none (the reference rescans its offset state each
run); standard Bloom construction (Bloom 1970), double hashing per
Kirsch & Mitzenmacher 2006.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "bloom_from_fingerprints",
    "write_bloom_sidecar",
    "read_bloom_meta",
    "filter_novel_documents_bloom",
]

BLOOM_SUBDIR = "bloom"
_BLOOM_META = "_bloom_meta.json"

# Independent multiplier for the bucket key: the fingerprints are already
# xxhash64 outputs, but bucketing must not correlate with the probe
# hashes below.
_C1 = 0x9E3779B97F4A7C15  # golden-ratio (splitmix64) multiplier
_C2 = 0xC2B2AE3D27D4EB4F | 1  # xxhash prime, forced odd


def _probe_positions(fps, m_bits: int, k: int):
    """(k, n) uint64 bit positions via double hashing: pos_i = (h1 + i·h2)
    mod m — shared by build and probe so the two can never drift."""
    import numpy as np

    u = fps.astype(np.int64).view(np.uint64)
    h1 = u * np.uint64(_C1)
    h2 = (u * np.uint64(_C2)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return (h1[None, :] + i * h2[None, :]) % np.uint64(m_bits)


def _bloom_params(n_keys: int, bits_per_key: int) -> tuple[int, int]:
    """(m_bits, k) for a bucket: m rounded up to whole bytes, k = ln2 ·
    bits/key (the fpp-optimal probe count)."""
    m_bits = max(64, ((n_keys * bits_per_key + 63) // 64) * 64)
    k = max(1, round(0.6931 * bits_per_key))
    return m_bits, k


def bloom_from_fingerprints(
    fps: DataFrame,
    n_buckets: int = 256,
    bits_per_key: int = 10,
    fp_col: str = "fp",
) -> DataFrame:
    """One bitmap row per bucket: (bucket, n_keys, m_bits, k, bitmap).
    ONE shuffle on the bucket key; each bucket's bitmap sizes itself to
    its own key count (m = bits_per_key·n rounded to words), so skewed
    buckets don't inflate every bitmap."""
    import pandas as pd

    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        fvals = pdf["fp"].to_numpy()
        m_bits, k = _bloom_params(len(fvals), bits_per_key)
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        pos = _probe_positions(fvals, m_bits, k).ravel()
        np.bitwise_or.at(
            bitmap, (pos >> np.uint64(3)).astype(np.int64), np.left_shift(
                np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
            )
        )
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n_keys": [len(fvals)],
                "m_bits": [m_bits],
                "k": [k],
                "bitmap": [bitmap.tobytes()],
            }
        )

    keyed = fps.select(
        F.col(fp_col).alias("fp"),
        F.pmod(F.xxhash64(F.col(fp_col)), F.lit(n_buckets)).alias("bucket"),
    )
    return keyed.groupBy("bucket").applyInPandas(
        build, schema="bucket long, n_keys long, m_bits long, k int, bitmap binary"
    )


# Incremental updates raise each bucket's fill beyond its design point;
# past this multiple of the built capacity the fpp degrades enough
# (~5% at 1.5× for 10 bits/key) that a full right-sized rebuild wins.
REBUILD_FILL_FACTOR = 1.5


def _bloom_data_path(state_dir: str, version: int) -> str:
    # Versioned data dir: an in-place overwrite would truncate the very
    # files the update job is still reading.
    return f"{state_dir.rstrip('/')}/{BLOOM_SUBDIR}/data_v{version:08d}"


def _finish_sidecar(
    spark: SparkSession, state_dir: str, meta: dict, keep: set[int]
) -> dict:
    """Swap the meta, then best-effort GC of superseded ``data_v*`` dirs
    through the Hadoop FileSystem (scheme-aware — a local-only rmtree
    would leak one full sidecar copy PER COMMIT on hdfs://-style state
    dirs).  ``keep`` retains the new version AND its predecessor: a
    concurrent reader that planned against the prior meta only touches
    the parquet files when its action runs, so the directory it read
    must outlive one more swap (deleting it immediately would fail that
    reader instead of letting the next call rebuild)."""
    from restructure_hdfs_topic_spark.compression import _hadoop_fs, write_small_file

    sub = f"{state_dir.rstrip('/')}/{BLOOM_SUBDIR}"
    write_small_file(f"{sub}/{_BLOOM_META}", json.dumps(meta).encode(), spark=spark)
    try:
        _jvm, fs, root = _hadoop_fs(spark, sub)
        if fs.exists(root):
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                drop = name == "data"  # pre-versioned layout leftover
                if name.startswith("data_v"):
                    try:
                        drop = int(name[len("data_v"):]) not in keep
                    except ValueError:
                        drop = False
                if drop:
                    fs.delete(st.getPath(), True)
    except Exception:
        pass  # GC is best-effort; a leaked dir is cost, never corruption
    return meta


_TARGET_WRITE_BYTES = 128 * 1024 * 1024


def _write_partitions(est_bytes: int, n_buckets: int) -> int:
    """Writer-task count for a sidecar of ~``est_bytes`` of bitmaps:
    ~128 MB per task, capped at one task per bucket (a bucket row is the
    atomic unit).  A single writer at the module's documented 1e10-key
    design point would funnel ~12 GB through one task."""
    return max(1, min(n_buckets, -(-est_bytes // _TARGET_WRITE_BYTES)))


def write_bloom_sidecar(
    spark: SparkSession,
    state_dir: str,
    n_buckets: int = 256,
    bits_per_key: int = 10,
) -> dict:
    """Build the sidecar from the CURRENT committed fingerprint state and
    store it under ``<state_dir>/bloom/`` with the state version it
    reflects.  Derived data — rebuild-safe any time."""
    from restructure_hdfs_topic_spark import state
    from restructure_hdfs_topic_spark.operators.incremental import FP_STATE

    fps, version = state.read(spark, state_dir, FP_STATE)
    version = version or 0
    old_meta = read_bloom_meta(spark, state_dir)
    path = _bloom_data_path(state_dir, version)
    # Writer count only shapes output files — size it from the PRIOR
    # sidecar's key count when one exists instead of paying an extra
    # O(state) counting job per rebuild; a first build (no meta) counts
    # once, which is small by definition of "first".
    est_keys = (
        int(old_meta["total_keys"]) if old_meta is not None else fps.count()
    )
    writers = _write_partitions(est_keys * bits_per_key // 8, n_buckets)
    (
        bloom_from_fingerprints(fps, n_buckets, bits_per_key)
        .repartition(writers, "bucket")
        .write.mode("overwrite")
        .parquet(path)
    )
    totals = (
        spark.read.parquet(path)
        .agg(F.sum("m_bits").alias("bits"), F.sum("n_keys").alias("keys"))
        .collect()[0]
    )
    meta = {
        "format": "restructure_hdfs_topic_spark/bloom/v1",
        "state_version": int(version),
        "n_buckets": int(n_buckets),
        "bits_per_key": int(bits_per_key),
        "total_bits": int(totals["bits"] or 0),
        "total_keys": int(totals["keys"] or 0),
        "built_bits": int(totals["bits"] or 0),
    }
    keep = {int(version)}
    if old_meta is not None:
        keep.add(int(old_meta["state_version"]))
    return _finish_sidecar(spark, state_dir, meta, keep)


def update_bloom_sidecar(
    spark: SparkSession,
    state_dir: str,
    new_fps: DataFrame,
    from_version: int,
    to_version: int,
    n_buckets: int = 256,
    bits_per_key: int = 10,
) -> dict:
    """Fold ONE commit's fingerprints into the sidecar incrementally —
    the steady-state ingest path: OR the new keys into the existing
    per-bucket bitmaps instead of re-reading the whole committed store
    per batch (a full rebuild per micro-batch costs O(state), exactly
    what the sidecar exists to avoid).

    Correctness gate: the incremental fold is only valid when the
    current sidecar covers ``from_version`` EXACTLY and the caller's
    commit produced ``to_version`` from that snapshot — anything else
    (concurrent committer, missing sidecar, parameter change) falls back
    to a full rebuild, as does a fill ratio beyond
    ``REBUILD_FILL_FACTOR`` × the built capacity (fpp degradation)."""
    import pandas as pd

    meta = read_bloom_meta(spark, state_dir)
    if (
        meta is None
        or meta["state_version"] != from_version
        or meta["n_buckets"] != n_buckets
        or meta["bits_per_key"] != bits_per_key
        or to_version != from_version + 1
    ):
        return write_bloom_sidecar(spark, state_dir, n_buckets, bits_per_key)
    n_new = new_fps.count()
    if (meta["total_keys"] + n_new) * bits_per_key > REBUILD_FILL_FACTOR * meta[
        "built_bits"
    ]:
        return write_bloom_sidecar(spark, state_dir, n_buckets, bits_per_key)

    bloom = spark.read.parquet(_bloom_data_path(state_dir, from_version))
    keyed = new_fps.select(
        F.col("fp"),
        F.pmod(F.xxhash64(F.col("fp")), F.lit(n_buckets)).alias("bucket"),
    )

    def fold(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if not len(right):
            # Bucket had no bitmap yet (empty at build): fresh bitmap.
            fvals = left["fp"].to_numpy()
            m_bits, k = _bloom_params(len(fvals), bits_per_key)
            bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
            bucket = int(left["bucket"].iloc[0])
            n_keys = len(fvals)
        else:
            row = right.iloc[0]
            m_bits, k = int(row["m_bits"]), int(row["k"])
            bitmap = np.frombuffer(bytes(row["bitmap"]), dtype=np.uint8).copy()
            bucket = int(row["bucket"])
            fvals = left["fp"].to_numpy() if len(left) else np.empty(0, np.int64)
            n_keys = int(row["n_keys"]) + len(fvals)
        if len(fvals):
            pos = _probe_positions(fvals, m_bits, k).ravel()
            np.bitwise_or.at(
                bitmap,
                (pos >> np.uint64(3)).astype(np.int64),
                np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
            )
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "n_keys": [n_keys],
                "m_bits": [m_bits],
                "k": [k],
                "bitmap": [bitmap.tobytes()],
            }
        )

    updated = (
        keyed.groupBy("bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(
            fold, schema="bucket long, n_keys long, m_bits long, k int, bitmap binary"
        )
    )
    new_path = _bloom_data_path(state_dir, to_version)
    writers = _write_partitions(
        (meta["total_keys"] + n_new) * bits_per_key // 8, n_buckets
    )
    updated.repartition(writers, "bucket").write.mode("overwrite").parquet(new_path)
    totals = (
        spark.read.parquet(new_path)
        .agg(F.sum("m_bits").alias("bits"), F.sum("n_keys").alias("keys"))
        .collect()[0]
    )
    new_meta = {
        **meta,
        "state_version": int(to_version),
        "total_bits": int(totals["bits"] or 0),
        "total_keys": int(totals["keys"] or 0),
    }
    return _finish_sidecar(
        spark, state_dir, new_meta, keep={int(to_version), int(from_version)}
    )


def read_bloom_meta(spark: SparkSession, state_dir: str) -> dict | None:
    from restructure_hdfs_topic_spark.compression import read_small_file

    try:
        raw = read_small_file(
            f"{state_dir.rstrip('/')}/{BLOOM_SUBDIR}/{_BLOOM_META}", spark=spark
        )
    except Exception:
        return None
    meta = json.loads(raw.decode("utf-8"))
    if meta.get("format") != "restructure_hdfs_topic_spark/bloom/v1":
        return None
    if "built_bits" not in meta:
        # Pre-versioned-layout sidecar (no data_v* dir): treat as absent
        # so callers rebuild instead of reading a path that isn't there.
        return None
    return meta


def _bloom_tag(batch_fp: DataFrame, bloom: DataFrame, n_buckets: int) -> DataFrame:
    """Tag each batch row with ``__bloom_maybe`` via a COGROUP on the
    bucket key — the bitmap crosses the wire once per bucket, not once
    per row.  Rows in buckets with no bitmap row are definitely novel."""
    import pandas as pd

    tagged = batch_fp.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col("__fp")), F.lit(n_buckets))
    )
    out_schema = "__fp long, __bloom_maybe boolean"

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if not len(left):
            return pd.DataFrame({"__fp": [], "__bloom_maybe": []})
        fvals = left["__fp"].to_numpy()
        if not len(right):
            return pd.DataFrame(
                {"__fp": fvals, "__bloom_maybe": np.zeros(len(fvals), dtype=bool)}
            )
        m_bits = int(right["m_bits"].iloc[0])
        k = int(right["k"].iloc[0])
        bitmap = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
        pos = _probe_positions(fvals, m_bits, k)
        byte_ix = (pos >> np.uint64(3)).astype(np.int64)
        bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
        hit = (bitmap[byte_ix] & bit) != 0
        return pd.DataFrame({"__fp": fvals, "__bloom_maybe": hit.all(axis=0)})

    probes = (
        tagged.select("__fp", "__bucket")
        .distinct()
        .groupBy("__bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(probe, schema=out_schema)
    )
    return tagged.join(probes, "__fp").drop("__bucket")


# A sidecar at or below this many BITS collects to the driver and ships
# as one SparkContext.broadcast probed by a narrow Pandas UDF (zero
# shuffle; ~50M keys at 10 bits/key).  Above it, the cogroup path keeps
# every bitmap executor-side.
BROADCAST_BITS_CAP = 64 * 8 * 1024 * 1024


def filter_novel_documents_bloom(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    bits_per_key: int = 10,
) -> DataFrame:
    """Bloom-accelerated ``filter_novel_documents``: same output, the
    state anti-join runs only over Bloom-positive rows.  Builds (or
    rebuilds) the sidecar whenever it is missing or behind the committed
    state version — a stale sidecar would produce FALSE NEGATIVES, so
    freshness is enforced here, not trusted.

    Probe path picks itself by sidecar size: at or under
    ``BROADCAST_BITS_CAP`` the bitmaps broadcast and a NARROW two-column
    Pandas UDF tags rows in place (zero extra shuffle); above it, the
    cogroup path ships each bucket's bitmap once per task."""
    from restructure_hdfs_topic_spark import state
    from restructure_hdfs_topic_spark.operators.incremental import FP_STATE

    state_fps, version = state.read(spark, state_dir, FP_STATE)
    version = version or 0
    meta = read_bloom_meta(spark, state_dir)
    if (
        meta is None
        or meta["state_version"] != version
        or meta["n_buckets"] != n_buckets
        or meta["bits_per_key"] != bits_per_key
    ):
        meta = write_bloom_sidecar(spark, state_dir, n_buckets, bits_per_key)
    bloom = spark.read.parquet(
        _bloom_data_path(state_dir, meta["state_version"])
    )

    # Same within-batch keep-first as filter_novel_documents (one window
    # on the fingerprint).
    w = Window.partitionBy("__fp").orderBy(id_col)
    firsts = (
        batch.withColumn("__fp", F.xxhash64(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if meta.get("total_bits", 1 << 62) <= BROADCAST_BITS_CAP:
        tagged = _bloom_tag_broadcast(
            spark,
            firsts,
            bloom,
            n_buckets,
            cache_key=(
                state_dir.rstrip("/"),
                int(meta["state_version"]),
                n_buckets,
                bits_per_key,
            ),
        )
    else:
        tagged = _bloom_tag(firsts, bloom, n_buckets)
    definite = tagged.filter(~F.col("__bloom_maybe")).select(*batch.columns)
    suspects = tagged.filter(F.col("__bloom_maybe"))
    cleared = suspects.join(
        state_fps.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
    ).select(*batch.columns)
    return definite.unionByName(cleared)


# One live broadcast per (application, state_dir): streaming_curation_sink
# probes once per micro-batch, and without memoization every batch would
# re-collect the full sidecar AND leak a fresh ≤64 MB broadcast for the
# stream's lifetime.  The key carries the state version + parameters, so
# a moved state swaps (and unpersists) the stale entry instead of reusing
# it — staleness here would be a correctness bug, not just cost.
_BC_CACHE: dict = {}


def _bloom_tag_broadcast(
    spark: SparkSession,
    batch_fp: DataFrame,
    bloom: DataFrame,
    n_buckets: int,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Broadcast-probe flavor of ``_bloom_tag``: bitmaps ride one
    ``SparkContext.broadcast`` (fetched once per executor), the bucket
    key is computed JVM-side (same ``pmod(xxhash64(fp), n)`` as build),
    and a two-column Pandas UDF tags rows IN PLACE — no shuffle, no
    rejoin.  With ``cache_key`` the broadcast is memoized per
    (application, state_dir) and reused while the sidecar version is
    unchanged."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    bc = None
    slot = None
    if cache_key is not None:
        slot = (spark.sparkContext.applicationId, cache_key[0])
        cached = _BC_CACHE.get(slot)
        if cached is not None and cached[0] == cache_key:
            bc = cached[1]
    if bc is None:
        tables = {
            int(r["bucket"]): (
                int(r["m_bits"]),
                int(r["k"]),
                np.frombuffer(bytes(r["bitmap"]), dtype=np.uint8),
            )
            for r in bloom.collect()
        }
        bc = spark.sparkContext.broadcast(tables)
        if slot is not None:
            # Drop entries from dead applications too (a restarted
            # SparkSession changes applicationId; without the sweep each
            # restart would strand up to 64 MB of collected bitmaps on
            # the driver for the process lifetime).
            for stale in [s for s in _BC_CACHE if s[0] != slot[0] or s == slot]:
                try:
                    _BC_CACHE.pop(stale)[1].unpersist()
                except Exception:
                    pass
            _BC_CACHE[slot] = (cache_key, bc)

    @pandas_udf("boolean")
    def probe(fp: pd.Series, bucket: pd.Series) -> pd.Series:
        t = bc.value
        fvals = fp.to_numpy()
        bvals = bucket.to_numpy()
        out = np.zeros(len(fvals), dtype=bool)
        for b in np.unique(bvals):
            entry = t.get(int(b))
            if entry is None:
                continue
            m_bits, k, bitmap = entry
            mask = bvals == b
            pos = _probe_positions(fvals[mask], m_bits, k)
            byte_ix = (pos >> np.uint64(3)).astype(np.int64)
            bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
            out[mask] = ((bitmap[byte_ix] & bit) != 0).all(axis=0)
        return pd.Series(out)

    return batch_fp.withColumn(
        "__bloom_maybe",
        probe(
            F.col("__fp"), F.pmod(F.xxhash64(F.col("__fp")), F.lit(n_buckets))
        ),
    )
