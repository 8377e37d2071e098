"""SparkSession construction with scale-aware defaults.

The reference parallelizes only across topics (one thread per topic,
worker/RadarKafkaRestructure.kt:80-90) — its biggest scalability ceiling.
Here Spark parallelizes *within* a topic by file/partition splits, so the
session is configured for that: AQE (runtime re-planning, skew-join
handling, partition coalescing), a shuffle-partition count sized for the
local harness but overridable for cluster runs, and UTC session time so
time-bin derivation (util/TimeUtil.kt) is deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "restructure_hdfs_topic_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    At 100 TB the same plan runs unchanged on a real cluster: AQE coalesces
    post-shuffle partitions and splits skewed ones, so ``shuffle_partitions``
    only needs to be an upper bound; broadcast threshold stays default so
    Catalyst broadcasts small dimension sides automatically.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the (few) pandas-UDF paths: multimodal decode, ANN rerank.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet pushdown is on by default; make the intent explicit.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str):
    """Driver-held rows as a local relation (``LocalTableScan``): actions
    on it run no Spark job and spawn no Python worker.  A
    ``createDataFrame(list)`` frame is a Python RDD instead — every action
    on it launches Python workers.  Non-empty rows go through pandas and
    Arrow (``spark.sql.execution.arrow.pyspark.enabled``, set by
    ``get_spark``; without it Spark falls back to a Python RDD).  PySpark
    skips Arrow for an empty pandas frame, so the empty case is a
    constant-false filter that the optimizer folds into an empty
    ``LocalRelation``.  Columns stay Python objects up to Arrow, so a long
    column holding None keeps its exact integers (pandas would make it a
    float column).  Build timestamps in Spark from numeric columns
    (``F.timestamp_seconds``), never from Python datetimes."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    if rows:
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(rows, columns=struct.fieldNames(), dtype=object), struct
        )
    return (
        spark.range(1)
        .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in struct.fields])
        .where(F.lit(False))
    )


def session_epoch(spark: SparkSession | None = None) -> str:
    """Identity of the live Spark runtime, for module-level memo keys
    (ADVICE r13 #1).  Memoized DataFrames (groups closures, soft-dedup
    clusters) are bound to the SparkContext that built them — after a
    same-process session restart, a key hit would hand back a frame
    whose JVM plan (and checkpoint blocks) belong to the dead context.
    Folding this into every such memo key turns that into a clean miss.

    With ``spark`` given: the context's applicationId (changes on every
    restart).  Without: the py4j gateway identity — the right epoch for
    memoized unresolved Column trees, which are gateway-scoped JVM
    objects independent of any SparkContext."""
    if spark is not None:
        try:
            return spark.sparkContext.applicationId
        except Exception:
            return "no-context"
    try:
        from pyspark import SparkContext

        return f"gw-{id(SparkContext._gateway)}"
    except Exception:
        return "no-gateway"


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver-generated parquet table (TESTDATA.md).

    Delegates to sources.tables.load_table, which normalizes the physical
    timestamp flavors the driver has generated across rounds (INT64 nanos,
    no-tz micros read as TIMESTAMP_NTZ) to session-UTC TimestampType.
    """
    from restructure_hdfs_topic_spark.sources.tables import load_table as _lt

    return _lt(spark, sf_dir, name)
