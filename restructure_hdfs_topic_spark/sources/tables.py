"""Loaders for the driver-generated parquet tables (TESTDATA.md).

The driver's parquet timestamps carry no timezone, and their physical type
has varied across data generations: INT64 TIMESTAMP(NANOS) (which Spark's
vectorized reader refuses — read as long via the legacy nanosAsLong conf and
rebuilt as micros, the same ns → us truncation DuckDB applies) or plain
TIMESTAMP(MICROS) without tz (which Spark 4 infers as TIMESTAMP_NTZ — cast
back to TimestampType so time functions like ``unix_micros`` apply; with the
session pinned to UTC the NTZ → LTZ cast is value-preserving and matches
DuckDB's naive-timestamp-as-UTC epoch semantics).  Session time is forced to
UTC so time-bin derivation (functions/time.py) is deterministic regardless
of the host TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NANO_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def _replace_ntz(dt):
    """Recursively rewrite TIMESTAMP_NTZ → TIMESTAMP inside any nesting of
    struct/array/map.  Returns (new_type, changed) — the session is pinned
    to UTC, so the NTZ → LTZ cast is value-preserving at every depth."""
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType(), True
    if isinstance(dt, T.StructType):
        fields, changed = [], False
        for f in dt.fields:
            nt, ch = _replace_ntz(f.dataType)
            changed |= ch
            fields.append(T.StructField(f.name, nt, f.nullable, f.metadata))
        return T.StructType(fields), changed
    if isinstance(dt, T.ArrayType):
        nt, ch = _replace_ntz(dt.elementType)
        return T.ArrayType(nt, dt.containsNull), ch
    if isinstance(dt, T.MapType):
        kt, ck = _replace_ntz(dt.keyType)
        vt, cv = _replace_ntz(dt.valueType)
        return T.MapType(kt, vt, dt.valueContainsNull), ck or cv
    return dt, False


def configure(spark: SparkSession) -> SparkSession:
    """Apply the runtime confs every query in this engine relies on.

    AQE + partition coalescing are pinned on explicitly.
    ``parallelismFirst`` stays at Spark's default (true) after a MEASURED
    negative result (r14, guide §1.2): setting it false — the
    "production" recommendation, sizing reduce tasks purely by
    ``advisoryPartitionSizeInBytes`` — collapsed every sf0.1 shuffle to
    1–2 tasks because BYTES are a bad proxy for COMPUTE here (window
    sorts, regex projections, Arrow kernels are CPU-heavy per byte):
    same-host A/B at 32 cores, warm seconds, false vs true —
    offset_interval_merge 2.9–6.5 vs 0.8–1.2, bm25_topk 3.6–8.7 vs
    2.6–3.5, substring_dedup 1.5–8.0 vs 0.9–1.3.  On a real cluster
    whose shuffles carry ~advisory-sized data per task the setting is
    the right one — deploys can flip it with
    ``SPARK_GRAFT_PARALLELISM_FIRST=false`` — but it is NOT a
    local-bench win, and the r13 inverse-core-scaling signal traced to
    /tmp artifact asymmetry + tiny-Python-task fan-outs (both fixed this
    round), not to reduce-task counts."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST", "true"),
    )
    return spark


# Inferred file schemas, keyed on (path, mtime_ns, size) so a replaced or
# regenerated file re-infers.  This memoizes METADATA only (never rows):
# every load still plans a fresh scan of the parquet input — it just skips
# re-reading footers the driver already parsed, the same contract-pinning
# the index-artifact readers got in r13 (each footer inference is a
# ~100 ms driver-side job paid at plan-construction time by EVERY query).
_SCHEMA_MEMO: dict = {}
# Bounded (ADVICE r13 #5): replaced datasets would otherwise accumulate
# dead (path, mtime, size) keys forever in a long-lived service.  FIFO is
# fine — the working set is a handful of tables.  Values are plain
# StructTypes (pure Python, session-free), so no session discriminator is
# needed.  Documented limitation: an IN-PLACE rewrite that preserves both
# mtime_ns and byte size serves the stale schema — same-content-shape
# regeneration (the driver's testdata discipline) is supported, silent
# byte-identical-size schema swaps are not.
_SCHEMA_MEMO_CAP = 512


def _file_schema(spark: SparkSession, path: str):
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_CAP:
            _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)), None)
        _SCHEMA_MEMO[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import types as T

    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _file_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    dtypes = {f.name: f.dataType for f in schema.fields}
    for c in NANO_TS_COLS.get(name, []):
        if isinstance(dtypes.get(c), T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    for f in schema.fields:
        # Recursive walk: an NTZ field nested inside a struct/array/map
        # column is normalized too (struct casts recurse per-field).
        new_type, changed = _replace_ntz(f.dataType)
        if changed:
            df = df.withColumn(f.name, F.col(f.name).cast(new_type))
    return df
