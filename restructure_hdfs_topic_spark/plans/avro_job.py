"""End-to-end Avro restructure job (SURVEY §3.1 over the REAL input model):
walk topics → prune committed files → decode Avro records → organize
(event time / bin / sanitized ids) → partitioned CSV/JSON write → commit
per-file offset ranges.

This is the north star's literal first clause — "reads Avro from HDFS,
outputs JSON per topic/user" — wired against the reference's actual
Kafka-Connect file layout and validated by tests against the reference's
own integration fixtures
(src/integrationTest/resources/*/partition=*/*.avro, golden output in
RestructureS3IntegrationTest.kt).

Scale shape: the driver holds the file listing (same as the reference's
TopicFileList), the committed offset intervals (merged, so metadata-scale;
the reference keeps its whole OffsetRangeSet in memory too) and the
distinct header shapes of the records being written (bounded by schema
variance).  Committed files are pruned on the driver, from the listing and
a bisect index over the intervals, before any byte of data is read (the
reference's scan-pruning, worker/RadarKafkaRestructure.kt:118-122) — no
Spark job.  A topic's records are shuffled once: hashed on the output
partition columns (project, user, bin), by the keep-last dedup's
repartition when its key holds them, else by the write's own.  The dedup
orders records by ``file_order`` rather than by the exact offset, whose
per-file window would be a second shuffle.  For CSV, decode + organize +
dedup is persisted once for attempt routing, whose one aggregation yields
both the attempts and each attempt's header; each attempt (JSON: the
whole topic) is then written in one plan over that partitioning.
The offset ledger stays on the driver: the seen filter, the commit and
the cleaner's rollback read and write plain ledger rows
(``operators/offsets.py``), so no Spark job or Python worker serves them.
"""

from __future__ import annotations

import json
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from restructure_hdfs_topic_spark.config import RestructureConfig
from restructure_hdfs_topic_spark.functions.paths import sanitize_id
from restructure_hdfs_topic_spark.functions.time import event_time, time_bin
from restructure_hdfs_topic_spark.operators.dedup import keep_last_dedup
from restructure_hdfs_topic_spark.operators.flatten import flatten_for_csv
from restructure_hdfs_topic_spark.operators.offsets import (
    commit_offsets,
    committed_range_index,
    file_micros,
    read_intervals,
    # Not called here any more (the seen filter works on ledger rows), but
    # perfbench/layers.py wraps these names in this module.
    filter_unseen_files,
    read_offsets,
)
from restructure_hdfs_topic_spark.sources.avro import (
    FILE_ORDER,
    SourceFile,
    manifest_df,  # not called here; perfbench/layers.py wraps it in this module
    read_avro,
    record_struct,
    union_avro_schemas,
    walk_topics,
    writer_schemas,
)

# Write partition columns of the reference's output layout
# ``projectId/userId/topic/yyyyMMdd_HH00`` (path/FormattedPathFactory.kt:111).
PARTITION_COLS = ["projectId", "userId", "topic", "bin"]
# The columns a topic's records are hashed on before the write: ``topic``
# is a literal within one topic's write, so it adds nothing to the hash,
# and a window partitioned by a key holding a literal drops the literal,
# so hashing on it would no longer satisfy the dedup's window.
_HASH_COLS = ["projectId", "userId", "bin"]

# Event-time candidate fields in reference priority order
# (util/TimeUtil.kt:21-50), with their physical interpretation.
_TIME_CANDIDATES = [
    ("value", "time", "s"),
    ("key", "timeStart", "s"),
    ("key", "start", "ms"),
    ("value", "dateTime", "iso"),
    ("value", "date", "date"),
    ("value", "timeReceived", "s"),
    ("value", "timeCompleted", "s"),
]


def record_event_time(df: DataFrame) -> F.Column:
    """O9 over real key/value records: build the coalesce from whichever
    candidate fields the topic's schema actually has."""
    kwargs: dict[str, F.Column] = {}
    arg_for = {
        ("value", "time"): "time_s",
        ("key", "timeStart"): "time_start_s",
        ("key", "start"): "start_ms",
        ("value", "dateTime"): "date_time_iso",
        ("value", "date"): "date_str",
        ("value", "timeReceived"): "time_received_s",
        ("value", "timeCompleted"): "time_completed_s",
    }
    fields = {f.name: f.dataType for f in df.schema.fields}
    for parent, child, _kind in _TIME_CANDIDATES:
        dtype = fields.get(parent)
        if isinstance(dtype, StructType) and child in dtype.fieldNames():
            kwargs[arg_for[(parent, child)]] = F.col(f"{parent}.{child}")
    if not kwargs:
        return F.lit(None).cast("timestamp")
    return event_time(**kwargs)


def organize_avro_records(records: DataFrame, bin_format: str) -> DataFrame:
    """O9+O10+O11 over decoded records: event time, hour bin, sanitized
    project/user ids from the ObservationKey (path/ObservationKeyPathFactory.kt:25-38)."""
    has_key = "key" in records.columns
    project = (
        sanitize_id(F.col("key.projectId"), "unknown-project")
        if has_key and "projectId" in records.schema["key"].dataType.fieldNames()
        else F.lit("unknown-project")
    )
    user = (
        sanitize_id(F.col("key.userId"), "unknown-user")
        if has_key and "userId" in records.schema["key"].dataType.fieldNames()
        else F.lit("unknown-user")
    )
    return (
        records.withColumn("time", record_event_time(records))
        .withColumn("bin", time_bin(F.col("time"), bin_format))
        .withColumn("projectId", project)
        .withColumn("userId", user)
    )


def _write_topic(
    organized: DataFrame,
    config: RestructureConfig,
    topic: str,
    record_type: StructType,
    n_tasks: int | None,
) -> None:
    """O13 partitioned sink for one topic, CSV (flattened, dynamic header)
    or JSON (nested), written by ``n_tasks`` tasks (``_write_tasks``)
    after a repartition on the partition columns; ``n_tasks=None`` when
    ``organized`` is already hash-partitioned on ``_HASH_COLS``, which
    puts every output directory in one task, so each gets one part file.
    A ``FILE_ORDER`` column orders the CSV attempt routing's first
    occurrences.  ``record_type`` types the record columns in the
    ``schema-<topic>.json`` sidecar (``sources.avro.record_struct``).

    Two physical layouts (``config.paths.layout``):

    - ``hive`` (default): projectId=<p>/userId=<u>/topic=<t>/bin=<b>/part-*
      — partition columns stay pushdown-able for downstream Spark readers.
    - ``template``: the reference's exact tree — files land at the rendered
      ``config.paths.template`` path (default ``<p>/<u>/<t>/<bin><ext>``,
      path/FormattedPathFactory.kt:111) via the distributed staging write +
      metadata-only finalize in ``plans.layout``.
    """
    from restructure_hdfs_topic_spark.compression import (
        repack_to_zip,
        writer_compression,
    )

    template_mode = config.paths.layout == "template"
    extra_names: list[str] = []
    if template_mode:
        from restructure_hdfs_topic_spark.plans.layout import (
            check_physical_template,
            extra_staging_cols,
        )

        check_physical_template(config.paths.template)
        dest = f"{config.target_dir.rstrip('/')}/_staging_{topic}"
        # Params beyond (projectId, userId, topic, bin) — ${sourceId} and
        # ${time:pattern} renderings — become extra staging partition
        # columns so the finalize step can place any reference template
        # (FormattedPathFactory.kt:35-46).  Computed here, while the raw
        # key struct and event time are still present.
        src_col = (
            F.col("key.sourceId")
            if "key" in organized.columns
            and isinstance(organized.schema["key"].dataType, StructType)
            and "sourceId" in organized.schema["key"].dataType.fieldNames()
            else F.lit(None).cast("string")
        )
        # Event time is organize_avro_records' "time"; a NULL one renders
        # ${time:...} as unknown-time (FormattedPathFactory.kt:94-98).
        extras = extra_staging_cols(config.paths.template, F.col("time"), src_col)
        for name, col in extras.items():
            organized = organized.withColumn(name, col)
        extra_names = list(extras)
    else:
        dest = config.target_dir
    codec = writer_compression(config.compression)
    # The reference's output rows carry ONLY the record payload (flattened
    # key.*/value.* for CSV, nested for JSON) — accounting columns served
    # their purpose (pruning, dedup order, commit) and are dropped here;
    # CSV attempt routing still reads the file order.
    ordered = organized.drop("time", "filename", "mtime", "partition", "offset")
    payload = ordered.drop(FILE_ORDER)

    def clustered(frame: DataFrame, part_cols: list[str]) -> DataFrame:
        if n_tasks is None:
            return frame
        return frame.repartition(n_tasks, *[F.col(f"`{c}`") for c in part_cols])

    if config.format == "csv":
        # Attempt routing (§1.3, worker/RestructureWorker.kt:148-163) runs
        # on the struct-flattened payload BEFORE the CSV null→"" coalesce
        # (afterwards the null-pattern fingerprint would be constant):
        # records whose populated-column pattern differs get an ``_N``
        # suffix on their bin, mirroring the reference's suffixed filenames.
        from restructure_hdfs_topic_spark.operators.flatten import (
            flatten_struct_columns,
            route_by_schema_attempt,
        )

        order = FILE_ORDER if FILE_ORDER in ordered.columns else None
        routed, persisted, headers = route_by_schema_attempt(
            flatten_struct_columns(ordered, keep=(FILE_ORDER,)), order
        )
        try:
            # One write PER ATTEMPT, each with its own dynamic columns (map
            # keys / array lengths of that attempt's records), or every
            # attempt's files would carry the identical union header and
            # the schema split would be pointless — the reference writes
            # each attempt file with ITS OWN header
            # (RecordPathFactory.kt:56-75).  Routing already collected both
            # the attempts and their headers.  Attempt count is bounded by
            # schema variance (almost always 1).
            for a in sorted(headers):
                sub = routed.filter(F.col("attempt") == a)
                if template_mode:
                    # Keep ``attempt`` as its own staging partition column:
                    # the finalize step renders it either folded into
                    # ${filename} or standalone as ${attempt}
                    # (FormattedPathFactory.kt:83-91).
                    part_cols = PARTITION_COLS + ["attempt"] + extra_names
                else:
                    sub = sub.withColumn(
                        "bin",
                        F.when(F.col("attempt") == 0, F.col("bin")).otherwise(
                            F.concat(F.col("bin"), F.lit("_"), F.col("attempt").cast("string"))
                        ),
                    ).drop("attempt")
                    part_cols = PARTITION_COLS
                flat = flatten_for_csv(sub, dynamic=headers[a])
                writer = (
                    clustered(flat, part_cols)
                    .write.mode("append")
                    .partitionBy(*part_cols)
                    .option("header", "true")
                    # The reference's CSV writer leaves empty fields
                    # unquoted (golden fixtures show `...,CONNECTED,` for a
                    # null ipAddress); Spark's default emptyValue would
                    # emit `""`.
                    .option("emptyValue", "")
                )
                if codec:
                    writer = writer.option("compression", codec)
                writer.csv(dest)
        finally:
            # A failed sink must not leak one cached lineage per topic
            # iteration in a long-running service.
            persisted.unpersist()
    else:
        if template_mode:
            # JSON records never split by header shape (nested output always
            # matches its schema) — constant attempt 0 for the finalize.
            payload = payload.withColumn("attempt", F.lit(0))
            part_cols = PARTITION_COLS + ["attempt"] + extra_names
        else:
            part_cols = PARTITION_COLS
        writer = (
            clustered(payload, part_cols)
            .write.mode("append")
            .partitionBy(*part_cols)
        )
        if codec:
            writer = writer.option("compression", codec)
        writer.json(dest)
    if config.compression == "zip":
        repack_to_zip(dest, spark=organized.sparkSession)
    if template_mode:
        from restructure_hdfs_topic_spark.plans.layout import finalize_template_layout

        schema_json = _sidecar_json(
            payload.drop(*PARTITION_COLS, "attempt", *extra_names).schema, record_type
        )
        finalize_template_layout(
            organized.sparkSession,
            dest,
            config.target_dir,
            topic,
            config.paths.template,
            schema_json=schema_json,
            # Store-time POSIX parity (LocalTargetStorage.kt:58-75) —
            # applied per file right after its checked rename; the
            # mtime-bounded post-pass below remains the backstop for
            # the hive layout and zip repacks.
            apply_local_attrs=config.target.apply_local_attrs,
            local_user_id=config.target.local_user_id,
            local_group_id=config.target.local_group_id,
        )
    else:
        _write_schema_sidecar(
            organized.sparkSession,
            _sidecar_json(payload.drop(*PARTITION_COLS).schema, record_type),
            config.target_dir,
            topic,
        )


# Input bytes per write task beyond one task per core: AQE's default
# advisory partition size.
_WRITE_TASK_BYTES = 64 << 20


def _write_tasks(spark: SparkSession, input_bytes: int) -> int:
    """Task count of a topic write's one shuffle: one per core, and one per
    ``_WRITE_TASK_BYTES`` of input where that is more (a large batch is not
    held to the cores registered when it starts, as under dynamic
    allocation), capped by ``spark.sql.shuffle.partitions``.  The count is
    fixed because AQE would coalesce a by-column repartition of a small
    batch into ONE write task.  It is no larger because each non-empty
    task sorts its rows for the partitioned write into at least one
    memory page (about 64 MiB with an 8 GiB driver on 4 cores), garbage
    that grows the heap.  Hashing on the partition columns, or on
    ``_HASH_COLS`` (a subset of them), keeps each output directory in one
    task, so each bin gets one part file."""
    by_size = -(-input_bytes // _WRITE_TASK_BYTES)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, max(spark.sparkContext.defaultParallelism, by_size)))


def _sidecar_json(schema: StructType, record_type: StructType) -> str:
    """The sidecar text for the written columns ``schema``, each record
    column typed as ``record_type`` types it: a Spark file scan reads every
    column as nullable, the Avro schema does not."""
    declared = {f.name: f for f in record_type.fields}
    fields = [declared.get(f.name, f) for f in schema.fields]
    return json.dumps(StructType(fields).jsonValue(), indent=2)


def _write_schema_sidecar(spark: SparkSession, schema_json: str, output_dir: str, topic: str) -> None:
    """``schema-<topic>.json`` once per topic dir (worker/FileCacheStore.kt:100-116),
    written through the Hadoop FileSystem API so the sidecar lands on
    whatever store the output does (file://, s3a://, …)."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    out_path = jvm.org.apache.hadoop.fs.Path(output_dir)
    fs = out_path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(out_path)
    path = jvm.org.apache.hadoop.fs.Path(output_dir, f"schema-{topic}.json")
    if fs.exists(path):
        return
    try:
        stream = fs.create(path, False)
    except Py4JJavaError:
        # Exists-then-create is a TOCTOU window: a concurrent instance
        # winning the sidecar create is benign — the data write already
        # succeeded and the sidecar content is identical.
        return
    try:
        stream.write(bytearray(schema_json, "utf-8"))
    finally:
        stream.close()


def extract_time_seconds(df: DataFrame, flattened: bool) -> F.Column:
    """O21 (cleaner/TimestampExtractionCheck.kt:22-78 +
    format/CsvAvroConverterFactory.kt:74-105): per-record event time in
    epoch SECONDS (double), from either the nested source schema or the
    flattened string columns read back from CSV output.  Same priority
    order as O9; the CSV round-trip is exact because Java's shortest-repr
    double strings parse back to the identical double."""
    def col_for(parent: str, child: str):
        if flattened:
            name = f"{parent}.{child}"
            if name in df.columns:
                return F.col("`" + name + "`")
            return None
        fields = {f.name: f.dataType for f in df.schema.fields}
        dtype = fields.get(parent)
        if isinstance(dtype, StructType) and child in dtype.fieldNames():
            return F.col(f"{parent}.{child}")
        return None

    candidates = []
    for parent, child, kind in _TIME_CANDIDATES:
        c = col_for(parent, child)
        if c is None:
            continue
        if kind == "s":
            candidates.append(c.cast("double"))
        elif kind == "ms":
            candidates.append(c.cast("double") / 1000.0)
        elif kind == "iso":
            candidates.append(F.unix_micros(F.to_timestamp(c)).cast("double") / 1e6)
        elif kind == "date":
            candidates.append(
                F.unix_micros(F.to_timestamp(F.to_date(c))).cast("double") / 1e6
            )
    if not candidates:
        return F.lit(None).cast("double")
    return F.coalesce(*candidates)


def read_target_times(spark: SparkSession, config: RestructureConfig, topic: str) -> DataFrame:
    """O21 target timestamp index: re-read the written output for a topic
    and project (projectId, userId, bin, t_seconds) — the membership side
    of the cleaner's verification join."""
    base = config.target_dir
    if config.compression == "zip":
        return _read_zip_target_times(spark, config, topic)
    if config.paths.layout == "template":
        # Template tree carries project/user as PATH SEGMENTS, not partition
        # columns — recover them from input_file_name with the regex derived
        # from the same template that placed the files.
        from restructure_hdfs_topic_spark.plans.layout import template_read_pattern

        glob, rx, gi_proj, gi_user = template_read_pattern(
            config.paths.template, topic, config.format
        )
        # Glob the directories and filter the file names: a glob down to
        # the files hands Spark one root path per file, and past 32 roots
        # it lists them in a Spark job.
        dir_glob, _, name_glob = glob.rpartition("/")
        path = f"{base.rstrip('/')}/{dir_glob}" if dir_glob else base
        reader = spark.read.option("pathGlobFilter", name_glob)
        if config.format == "csv":
            df = reader.option("header", "true").csv(path)
            flattened = True
        else:
            df = reader.json(path)
            flattened = False
        fname = F.input_file_name()
        return df.select(
            F.regexp_extract(fname, rx, gi_proj).alias("t_project"),
            F.regexp_extract(fname, rx, gi_user).alias("t_user"),
            extract_time_seconds(df, flattened).alias("t_seconds"),
        ).distinct()
    path = f"{base}/projectId=*/userId=*/topic={topic}"
    if config.format == "csv":
        df = (
            spark.read.option("header", "true")
            .option("basePath", base)
            .csv(path)
        )
        flattened = True
    else:
        df = spark.read.option("basePath", base).json(path)
        flattened = False
    return df.select(
        F.col("projectId").cast("string").alias("t_project"),
        F.col("userId").cast("string").alias("t_user"),
        extract_time_seconds(df, flattened).alias("t_seconds"),
    ).distinct()


def _read_zip_target_times(
    spark: SparkSession, config: RestructureConfig, topic: str
) -> DataFrame:
    """Zip targets are not a Spark reader codec — decompress the
    single-entry ``.zip`` data files in executors (binaryFile +
    mapInPandas, the reference's decompress-on-read,
    compression/ZipCompression.kt:24-29) and apply the same positional
    time-candidate coalesce as ``extract_time_seconds``."""
    fmt = config.format
    if config.paths.layout == "template":
        from restructure_hdfs_topic_spark.plans.layout import template_read_pattern

        glob, rx_str, gi_proj, gi_user = template_read_pattern(
            config.paths.template, topic, fmt
        )
        pattern = f"{config.target_dir.rstrip('/')}/{glob.replace(f'*.{fmt}*', f'*.{fmt}.zip')}"
    else:
        pattern = f"{config.target_dir}/projectId=*/userId=*/topic={topic}/*/*.{fmt}.zip"
        rx_str, gi_proj, gi_user = r"projectId=([^/]+)/userId=([^/]+)", 1, 2
    bf = spark.read.format("binaryFile").load(pattern).select("path", "content")
    candidates = [(f"{p}.{c}", kind) for p, c, kind in _TIME_CANDIDATES]
    nested = list(_TIME_CANDIDATES)

    def extract(batches):
        import io
        import json as _json
        import re
        import zipfile

        import pandas as pd

        rx = re.compile(rx_str)

        def flat_seconds(df: "pd.DataFrame") -> "pd.Series":
            out = pd.Series([float("nan")] * len(df))
            for name, kind in candidates:
                if name not in df.columns:
                    continue
                if kind == "s":
                    vals = pd.to_numeric(df[name], errors="coerce")
                elif kind == "ms":
                    vals = pd.to_numeric(df[name], errors="coerce") / 1000.0
                else:  # iso / date strings
                    ts = pd.to_datetime(df[name], errors="coerce", utc=True)
                    mask = ts.notna()
                    if not mask.any():
                        continue
                    vals = pd.Series([float("nan")] * len(df))
                    vals[mask] = ts[mask].astype("int64") / 1e9
                out = out.fillna(vals)
            return out

        def json_seconds(rec: dict):
            for parent, child, kind in nested:
                v = (rec.get(parent) or {}).get(child)
                if v is None:
                    continue
                if kind == "s":
                    return float(v)
                if kind == "ms":
                    return float(v) / 1000.0
                # iso / date strings — same coalesce as the CSV twin
                # (flat_seconds); skipping them left t_seconds NULL for
                # topics whose only time field is ISO, so the cleaner's
                # verification could never match.
                ts = pd.to_datetime(v, errors="coerce", utc=True)
                if not pd.isna(ts):
                    return ts.timestamp()
            return None

        for pdf in batches:
            proj, user, secs = [], [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = rx.search(str(path))
                if not m:
                    continue
                with zipfile.ZipFile(io.BytesIO(bytes(content))) as zf:
                    text = zf.read(zf.namelist()[0]).decode()
                if fmt == "csv":
                    df = pd.read_csv(io.StringIO(text), dtype=str)
                    ss = list(flat_seconds(df))
                else:
                    ss = [
                        json_seconds(_json.loads(line))
                        for line in text.splitlines()
                        if line.strip()
                    ]
                proj.extend([m.group(gi_proj)] * len(ss))
                user.extend([m.group(gi_user)] * len(ss))
                secs.extend(ss)
            yield pd.DataFrame(
                {"t_project": proj, "t_user": user, "t_seconds": secs}
            )

    return bf.mapInPandas(
        extract, schema="t_project string, t_user string, t_seconds double"
    ).distinct()


def run_avro_cleaner_job(
    spark: SparkSession,
    input_root: str,
    config: RestructureConfig,
    now_s: float | None = None,
) -> dict:
    """Cleaner over the real Avro pipeline (O20/O21,
    cleaner/SourceDataCleaner.kt:76-109): for committed source files older
    than ``age_days`` (with the +1 never-delete-the-max-offset trick),
    re-read every record, verify its event time appears in the written
    output for the same (project, user); fully-extracted files are DELETED
    from source storage, partially-extracted files are rolled back
    (accountant.remove) so the next restructure reprocesses them.
    """
    # Looked up at call time, so a wrapped or patched ledger function is
    # the one that runs.
    from restructure_hdfs_topic_spark.operators import offsets

    now = now_s if now_s is not None else _time.time()
    age_s = config.cleaner.age_days * 86400
    # excludeFromDelete (RestructureConfig.kt topic override): the cleaner
    # never touches excluded topics' source files; plain `exclude` topics
    # are skipped by every job.
    excluded = {
        t
        for t, tc in config.topics.items()
        if tc.exclude or tc.exclude_from_delete
    }
    topics = walk_topics(input_root, exclude=excluded, spark=spark)
    counters: dict = {"deleted": [], "rolled_back": [], "kept": [], "locked": []}
    contains = committed_range_index(read_intervals(spark, config.state_dir))

    def committed(f: SourceFile) -> bool:
        # +1 trick (SourceDataCleaner.kt:86-91).
        return contains(f.topic, f.partition, f.offset_from, f.offset_to + 1)

    lock_manager = None
    if config.lock_enable:
        from restructure_hdfs_topic_spark.locks import StorageLockManager

        lock_manager = StorageLockManager(spark, config.state_dir)
    rollback_ranges = []
    for topic, files in sorted(topics.items()):
        candidates = [f for f in files if now - f.mtime >= age_s and committed(f)]
        if not candidates:
            continue
        # O19: skip topics another engine instance currently holds (the
        # cleaner deletes source files — racing a concurrent restructure
        # of the same topic is exactly what the reference's lock prevents,
        # cleaner/SourceDataCleaner.kt:62-66).
        if lock_manager is not None:
            lock = lock_manager.acquire(topic)
            if lock is None:
                counters["locked"].append(topic)
                continue
        else:
            lock = None
        try:
            target_times = read_target_times(spark, config, topic)
            records = read_avro(spark, [f.path for f in candidates])
            organized = organize_avro_records(records, config.paths.bin_format)
            src = organized.select(
                "filename",
                F.col("projectId").alias("s_project"),
                F.col("userId").alias("s_user"),
                extract_time_seconds(organized, flattened=False).alias("s_seconds"),
            )
            verdict = (
                src.join(
                    target_times,
                    (F.col("s_project") == F.col("t_project"))
                    & (F.col("s_user") == F.col("t_user"))
                    & (F.col("s_seconds") == F.col("t_seconds")),
                    "left",
                )
                .groupBy("filename")
                .agg(
                    F.count("*").alias("n_records"),
                    F.sum(F.when(F.col("t_user").isNotNull(), 1).otherwise(0)).alias(
                        "n_extracted"
                    ),
                )
                .collect()
            )
            extracted = {r["filename"]: r["n_records"] == r["n_extracted"] for r in verdict}
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            for f in candidates:
                fname = f.path.rsplit("/", 1)[-1]
                if extracted.get(fname):
                    p = jvm.org.apache.hadoop.fs.Path(f.path)
                    p.getFileSystem(hconf).delete(p, False)
                    counters["deleted"].append(f.path)
                else:
                    rollback_ranges.append(
                        (f.topic, f.partition, f.offset_from, f.offset_to)
                    )
                    counters["rolled_back"].append(f.path)
        finally:
            if lock is not None:
                lock.close()
    if rollback_ranges:
        # Subtract the rollbacks inside the commit, from the snapshot it
        # claims against: a concurrent restructure app (the two-apps
        # deployment lock_enable serves) may commit new intervals while
        # this cleaner verifies topics, and a remove built outside the
        # commit would swap a stale state over them.
        offsets.replace_offsets(
            spark, config.state_dir, lambda s: offsets.remove_intervals(s, rollback_ranges)
        )
    return counters


def run_avro_restructure_job(
    spark: SparkSession,
    input_root: str,
    config: RestructureConfig,
    now_s: float | None = None,
) -> dict:
    """One restructure iteration over an Avro source tree.  Returns O26-style
    counters per topic plus totals."""
    job_start = _time.time()
    excluded = {t for t, tc in config.topics.items() if tc.exclude}
    topics = walk_topics(input_root, exclude=excluded, spark=spark)
    now = now_s if now_s is not None else _time.time()
    min_age = config.worker.minimum_file_age_s
    counters: dict = {
        "topics": {},
        "records_written": 0,
        "files_processed": 0,
        "files_pending": 0,  # remaining after the maxFilesPerTopic cap
        "topics_locked": 0,
    }
    lock_manager = None
    if config.lock_enable:
        from restructure_hdfs_topic_spark.locks import StorageLockManager

        lock_manager = StorageLockManager(spark, config.state_dir)
    # Per-topic progress + phase timings (reference util/ProgressBar.kt /
    # util/Timer.kt): the bar tracks the topic loop; the process-wide
    # timer (off unless the caller enabled it) attributes driver time to
    # walk/filter/decode-write/commit phases via _process_topic.
    from restructure_hdfs_topic_spark.progress import ProgressBar, timer

    bar = ProgressBar(f"restructure {input_root}", len(topics), spark=spark)
    for topic_ix, (topic, files) in enumerate(sorted(topics.items())):
        # Late-file guard (O4, config minimumFileAge): skip files younger
        # than min_age — they may still be written to.
        aged = [f for f in files if now - f.mtime >= min_age]
        if not aged:
            bar.update(topic_ix + 1, force=topic_ix + 1 == len(topics))
            continue
        # O19: another engine instance holding this topic's lease → skip it
        # this iteration (the reference processes whatever it can lock,
        # worker/RadarKafkaRestructure.kt via RemoteLockManager).
        lock = lock_manager.acquire(topic) if lock_manager else None
        if lock_manager is not None and lock is None:
            counters["topics_locked"] += 1
            bar.update(topic_ix + 1, force=topic_ix + 1 == len(topics))
            continue
        try:
            with timer.time("restructure.topic"):
                _process_topic(spark, topic, aged, config, counters)
        finally:
            if lock is not None:
                lock.close()
        bar.update(topic_ix + 1, force=topic_ix + 1 == len(topics))
    if config.target.apply_local_attrs:
        from restructure_hdfs_topic_spark.target_attrs import apply_local_target_attrs

        # Bounded to this run's output (st_mtime >= job start, minus clock
        # slack) — the reference applies attributes per store, not over the
        # whole historical tree each iteration.
        apply_local_target_attrs(
            config.target_dir,
            config.target.local_user_id,
            config.target.local_group_id,
            since_s=job_start - 60,
        )
    return counters


def _process_topic(spark, topic, aged, config, counters) -> None:
    """Body of one topic iteration (extracted so the O19 lock wraps it in
    a try/finally)."""
    from restructure_hdfs_topic_spark.progress import timer

    # O4 on the driver: the walked listing is already here, and the
    # committed intervals are metadata-scale, so the seen filter is a
    # bisect probe per file — no manifest frame, no Spark job for it.
    with timer.time("restructure.readOffsets"):
        committed = committed_range_index(read_intervals(spark, config.state_dir))
    # Sort NUMERICALLY by (partition, offset) so the maxFilesPerTopic cap
    # always takes the EARLIEST pending files, like the reference's ordered
    # walk + take (lexicographic path order would put `+10000.avro` before
    # `+9000.avro`, inverting keep-last-by-offset across iterations).
    all_pending = sorted(
        (
            f
            for f in aged
            if not committed(
                f.topic, f.partition, f.offset_from, f.offset_to, file_micros(f.mtime)
            )
        ),
        key=lambda f: (f.partition, f.offset_from, f.path),
    )
    pending = all_pending
    if config.worker.max_files_per_topic:
        pending = all_pending[: config.worker.max_files_per_topic]
    remaining = len(all_pending) - len(pending)
    if not pending:
        counters["topics"][topic] = {
            "records_written": 0,
            "files_processed": 0,
            "files_pending": 0,
        }
        return
    n_records = restructure_files(
        spark, topic, [f.path for f in pending], sum(f.size for f in pending), config
    )
    new_ranges = [
        (f.topic, f.partition, f.offset_from, f.offset_to, file_micros(f.mtime))
        for f in pending
    ]
    with timer.time("restructure.commitOffsets"):
        commit_offsets(spark, config.state_dir, new_ranges)
    counters["topics"][topic] = {
        "records_written": n_records,
        "files_processed": len(pending),
        "files_pending": remaining,
    }
    counters["records_written"] += n_records
    counters["files_processed"] += len(pending)
    counters["files_pending"] += remaining


def restructure_files(
    spark: SparkSession, topic: str, paths: list[str], input_bytes: int, config: RestructureConfig
) -> int:
    """Write one topic's source files to the target: decode, organize,
    keep-last dedup and the partitioned write, the body of
    ``_process_topic`` between the seen filter and the offset commit.
    ``paths`` come in (partition, offset) order, the order the reader
    schema unions the headers in; ``input_bytes`` sizes the write
    (``_write_tasks``).  Returns the records written.
    Empty files are skipped, and when every file is empty nothing is
    written."""
    from restructure_hdfs_topic_spark.progress import timer

    with timer.time("restructure.readAvro"):
        # The headers once: the reader schema, and the sidecar's types.
        paths, schemas = writer_schemas(spark, paths)
        if not paths:
            return 0
        records = read_avro(spark, paths, schemas, file_order=True)
    organized = organize_avro_records(records, config.paths.bin_format)
    organized = organized.withColumn("topic", F.lit(topic))
    # Dedup keys are the WRITTEN row's columns (the reference dedups the
    # output file, format/CsvAvroConverterFactory.kt:22-56): flattened
    # record leaves (key.sourceId, value.time, …), never the accounting
    # columns — offset/filename/file_order are unique per record and would
    # make full-row dedup a no-op.
    accounting = {"offset", "filename", "mtime", "partition", "time"}
    leaves = []
    for f in organized.drop(FILE_ORDER).schema.fields:
        if isinstance(f.dataType, StructType):
            leaves.extend(f"{f.name}.{c}" for c in f.dataType.fieldNames())
        else:
            leaves.append(f.name)
    # Accounting columns are excluded only from the DEFAULT full-row key;
    # explicitly configured distinct fields are honored verbatim.
    dedup_key = config.dedup_key_for(topic, leaves, default_exclude=accounting)
    n_tasks = _write_tasks(spark, input_bytes)
    if dedup_key is not None:
        if set(_HASH_COLS) <= set(dedup_key):
            # Hash once, on columns of both the dedup key and the write's
            # partitioning: the keep-last window needs no shuffle of its
            # own, and the write none either.  The default full-row key
            # holds them.
            organized = organized.repartition(n_tasks, *_HASH_COLS)
            n_tasks = None
        # Keep-last in file processing order (SURVEY O14): the record of
        # the later file in (partition, offset_from, path) order wins, and
        # within a file the later record.  That is the exact-offset order
        # unless two files' offset ranges overlap (the later-starting file
        # wins) or a key spans Kafka partitions (the higher partition
        # wins), where offsets of different files are not comparable.
        organized = keep_last_dedup(organized, dedup_key, FILE_ORDER)
    from pyspark.sql import Observation

    obs = Observation()
    organized = organized.observe(obs, F.count(F.lit(1)).alias("n"))
    with timer.time("restructure.write"):
        _write_topic(
            organized,
            config,
            topic,
            record_struct(union_avro_schemas(schemas)),
            n_tasks,
        )
    n_records = int(obs.get["n"])
    return n_records
