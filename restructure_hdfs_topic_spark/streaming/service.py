"""Service mode (SURVEY O27, M5).

Reference (Application.kt:100-119, worker/Job.kt:12-46): a scheduled
executor polls the source every ``service.interval`` seconds (default
300 s) and runs the restructure pipeline; ``minimumFileAge`` (60 s) is a
crude late-data guard.

Two forms here:

- ``run_service``: the driver-loop scheduler over the batch Avro job and
  the cleaner, the reference's own shape.
- Structured Streaming: ``read_avro_stream`` is a ``binaryFile`` file
  stream decoded by the pure-Python container kernel (the batch reader
  decodes in the JVM; see ``sources/avro.py``); feed it through
  ``plans.avro_job.organize_avro_records`` into ``start_service`` (Hive
  layout) or ``start_template_service`` (the reference's rendered tree),
  with ``trigger(processingTime=...)`` (service loop) or ``availableNow``
  (one shot that drains the backlog then stops).  ``maxFilesPerTrigger``
  reproduces ``maxFilesPerTopic``.  The stream's checkpoint gives the
  exactly-once file tracking the reference built by hand with Redis
  offsets (O16-O18) — in streaming mode the engine's own commit log is
  the offset store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from restructure_hdfs_topic_spark.plans.avro_job import PARTITION_COLS


def start_service(
    organized: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    fmt: str = "json",
    interval_s: int | None = None,
) -> StreamingQuery:
    """writeStream partitioned sink; ``interval_s`` (reference default
    300 s) → processingTime trigger; None → availableNow (drain & stop)."""
    writer = (
        organized.writeStream.format(fmt)
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*PARTITION_COLS)
        .outputMode("append")
    )
    if interval_s:
        writer = writer.trigger(processingTime=f"{interval_s} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_template_service(
    organized: DataFrame,
    config,
    topic: str,
    checkpoint_dir: str,
    interval_s: int | None = None,
) -> StreamingQuery:
    """Streaming form of the TEMPLATE physical layout (O11 physical half,
    path/FormattedPathFactory.kt:111): each micro-batch runs the same
    two-phase sink as the batch job — distributed staging write, then the
    metadata-only finalize that places files at the rendered
    ``${projectId}/${userId}/${topic}/<bin><ext>`` tree, merging into bins
    earlier batches already wrote (the reference's append path).

    ``foreachBatch`` is the Structured Streaming composition point for
    custom sinks; the engine's checkpoint makes each batch replay-once.
    Replay after a crash *inside* a batch is handled at both phases:

    - staging leftovers of the failed attempt are deleted before the
      batch's write (the staging dir exists only within one batch), so
      partial stage-outs never double rows;
    - a crash after finalize but before the checkpoint commit replays a
      fully-finalized batch → at-least-once into final bins, the same
      window the reference's commit-after-store has
      (worker/RestructureWorker.kt).  Upstream
      ``streaming_seen_record_filter`` (stateful exactly-once) closes it
      when exact delivery matters.
    """
    if getattr(config.paths, "layout", None) != "template":
        # _write_topic branches on the config layout; silently producing a
        # Hive partition-column tree from a function that promises the
        # rendered template tree would be a data-layout surprise.
        raise ValueError(
            "start_template_service requires config.paths.layout='template' "
            f"(got {getattr(config.paths, 'layout', None)!r}); use "
            "start_service for the Hive layout"
        )
    cfg = config

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        staging = f"{cfg.target_dir.rstrip('/')}/_staging_{topic}"
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(staging)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            fs.delete(hpath, True)
        from restructure_hdfs_topic_spark.plans.avro_job import _write_tasks, _write_topic

        # The kernel's rows carry the Avro schema's own nullability.  A
        # micro-batch's input size is not known here: one task per core.
        _write_topic(batch_df, cfg, topic, batch_df.schema, _write_tasks(spark, 0))

    writer = (
        organized.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if interval_s:
        writer = writer.trigger(processingTime=f"{interval_s} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_avro_stream(
    spark: SparkSession,
    topic_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured Streaming Avro source for one topic directory — the
    streaming form of the reference's polling service over its REAL input
    format: a ``binaryFile`` file stream decoded by the pure-Python
    container kernel (each file's embedded writer schema, per-record Kafka
    offsets) into the rows the batch reader's JVM scan returns.  The stream's checkpoint is the
    seen-file ledger (engine-managed exactly-once; the batch path's offset
    state is the replayable equivalent)."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from restructure_hdfs_topic_spark.sources.avro import (
        make_avro_decoder,
        union_avro_schemas,
        walk_topics,
        writer_schemas,
    )

    topics = walk_topics(topic_dir, spark=spark)
    if not topics:
        raise ValueError(f"no Avro topics under {topic_dir}")
    # Union the headers of every existing file so a topic that evolved
    # before the stream started loses no fields (files arriving later with
    # NEW fields still project onto this fixed stream schema — restart the
    # stream to pick them up; Structured Streaming schemas are static).
    paths = [f.path for files in topics.values() for f in files]
    decode, out_schema = make_avro_decoder(union_avro_schemas(writer_schemas(spark, paths)[1]))
    bin_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    binary = reader.load(topic_dir).select("path", "modificationTime", "content")
    return binary.mapInPandas(decode, schema=out_schema)


def run_service(
    spark: SparkSession,
    input_root: str,
    config,
    max_iterations: int | None = None,
    sleep_fn=None,
    clock=None,
    restructure: bool = True,
) -> list[dict]:
    """O27 batch-job scheduler (Application.kt:100-119, worker/Job.kt:12-46):
    run the Avro restructure job every ``service.interval_s`` and — when
    enabled — the cleaner every ``cleaner.interval_s``, until interrupted
    (or ``max_iterations`` restructure runs, for tests/one-shot).

    ``sleep_fn``/``clock`` are injectable for tests; the defaults are real
    time.  This is the driver-loop analogue of the reference's scheduled
    executor — the streaming functions above are the Structured Streaming
    form for a continuously-arriving source.
    """
    import time as _time

    from restructure_hdfs_topic_spark.plans.avro_job import (
        run_avro_cleaner_job,
        run_avro_restructure_job,
    )

    sleep_fn = sleep_fn or _time.sleep
    clock = clock or _time.time
    results: list[dict] = []
    last_clean = clock()
    iteration = 0
    while max_iterations is None or iteration < max_iterations:
        iteration += 1
        if restructure:
            out = run_avro_restructure_job(spark, input_root, config, now_s=clock())
            out["job"] = "restructure"
            results.append(out)
        if config.cleaner.enable and clock() - last_clean >= config.cleaner.interval_s:
            cleaned = run_avro_cleaner_job(spark, input_root, config, now_s=clock())
            cleaned["job"] = "clean"
            results.append(cleaned)
            last_clean = clock()
        if max_iterations is not None and iteration >= max_iterations:
            break
        sleep_fn(config.service.interval_s)
    return results
