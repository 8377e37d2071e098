"""Service mode (SURVEY O27, M5).

Reference (Application.kt:100-119, worker/Job.kt:12-46): a scheduled
executor polls the source every ``service.interval`` seconds (default
300 s) and runs the restructure pipeline; ``minimumFileAge`` (60 s) is a
crude late-data guard.

Two forms here:

- ``run_service``: the driver-loop scheduler over the batch Avro job and
  the cleaner, the reference's own shape.
- ``start_service``: Structured Streaming.  A ``binaryFile`` stream lists
  the new ``*.avro`` files under a source dir (path and length only: no
  file content is read by the stream), and each micro-batch runs the
  batch job's own per-topic body on its files
  (``plans.avro_job.restructure_files``): Spark's Avro source, the
  config's layout, format, compression, keep-last dedup and sidecar.
  The reader schema is built per micro-batch, so a file with new fields
  that lands while the stream runs keeps them.  ``trigger(processingTime=...)``
  is the service loop, ``availableNow`` drains the backlog and stops, and
  ``maxFilesPerTrigger`` reproduces ``maxFilesPerTopic``.  The stream's
  checkpoint is the seen-file ledger the reference built by hand with
  Redis offsets (O16-O18): in streaming mode the engine's own commit log
  is the offset store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from restructure_hdfs_topic_spark.plans.avro_job import restructure_files
from restructure_hdfs_topic_spark.sources.avro import parse_filename


def start_service(
    spark: SparkSession,
    topic_dir: str,
    config,
    checkpoint_dir: str,
    interval_s: int | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream the Avro files that land under ``topic_dir`` into
    ``config.target_dir`` as ``run_avro_restructure_job`` writes them.
    ``interval_s`` (reference default 300 s) gives a processingTime
    trigger; None drains what is there (availableNow) and stops.

    Each micro-batch follows the walk's rules (``sources.avro.walk_topics``):
    it skips ``+tmp`` dirs, empty files, names that are not Kafka-Connect
    names and excluded topics, groups the files by topic (their
    grandparent dir) and orders them by (partition, offset).

    Exactly once per micro-batch: once a batch's output is complete its
    id is recorded under ``checkpoint_dir/finalized``, and the engine's
    replay of a recorded batch (a crash before the engine committed it)
    writes nothing.  A template-layout batch that crashed before its
    finalize reruns from an empty staging dir, so no staged part lands
    twice.  A crash after some of a batch's output is in place and
    before the record can still write that output twice.
    """
    reader = (
        spark.readStream.format("binaryFile")
        # A file stream must be given its source's schema, here binaryFile's.
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.avro")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    listing = reader.load(topic_dir).select("path", "length")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()
    marker_dir = Path(checkpoint_dir, "finalized")
    fs = marker_dir.getFileSystem(hconf)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= _last_finalized(fs, marker_dir):
            return
        for topic, paths, input_bytes in _batch_topics(batch.collect(), config):
            if config.paths.layout == "template":
                # Staged parts of an attempt that crashed before its
                # finalize would be finalized along with this one's.
                staging = Path(f"{config.target_dir.rstrip('/')}/_staging_{topic}")
                staging.getFileSystem(hconf).delete(staging, True)
            restructure_files(spark, topic, paths, input_bytes, config)
        fs.create(Path(marker_dir, str(batch_id)), True).close()
        for st in fs.listStatus(marker_dir):
            name = st.getPath().getName()
            if name.isdigit() and int(name) < batch_id:
                fs.delete(st.getPath(), False)

    writer = listing.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
    if interval_s:
        writer = writer.trigger(processingTime=f"{interval_s} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_topics(rows, config) -> list[tuple[str, list[str], int]]:
    """(topic, its paths in (partition, offset, path) order, their total
    bytes) for each topic of a micro-batch's (path, length) rows."""
    excluded = {t for t, tc in config.topics.items() if tc.exclude}
    by_topic: dict[str, list[tuple[int, int, str, int]]] = {}
    for path, length in rows:
        parsed = parse_filename(path.rsplit("/", 1)[-1])
        parts = path.rsplit("/", 3)
        topic = parts[-3] if len(parts) >= 3 else ""
        if "/+tmp/" in path or not length or parsed is None or topic in excluded:
            continue
        by_topic.setdefault(topic, []).append((parsed[1], parsed[2], path, length))
    return [
        (topic, [f[2] for f in sorted(files)], sum(f[3] for f in files))
        for topic, files in sorted(by_topic.items())
    ]


def _last_finalized(fs, marker_dir) -> int:
    """The newest batch id recorded in ``marker_dir`` (one empty file per
    id: a crash between recording one and deleting the older leaves
    both); -1 if none."""
    if not fs.exists(marker_dir):
        return -1
    names = [st.getPath().getName() for st in fs.listStatus(marker_dir)]
    return max((int(n) for n in names if n.isdigit()), default=-1)


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
    executor — ``start_service`` is the Structured Streaming form for a
    continuously-arriving source.
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
