"""Avro ingestion (SURVEY O1/O2/O3): topic discovery, Avro object-container
record source, and filename→offset parsing — the reference's entire input
side (source/GeneralSourceStorageWalker.kt:18-33, worker/RestructureWorker.kt:178-191,
accounting/TopicPartitionOffsetRange.kt:50-61).

Batch decode (``read_avro``) is Spark's own Avro file source, read by its
class name ``org.apache.spark.sql.avro.AvroFileFormat``: Spark's spark-sql
jar ships the class but does not register the short name ``avro``.
Records decode in JVM tasks, so neither the restructure job nor its
cleaner starts a Python worker.  Every file resolves against one reader
schema, the by-name union of the files' embedded writer schemas
(``avro_reader_schema``), so a topic whose schema evolved mid-stream
loses no field, enum symbol or union branch, whichever file came first.
The accounting columns come from the scan's ``_metadata`` (file path,
modification time) and ``FILENAME_RE``.  Spark's file scans read every
column as nullable; ``record_struct`` gives the Avro schema's own
nullability (the ``schema-<topic>.json`` sidecars use it).

Per-record offsets (O12): ``offset = offset_from + index-in-file``, the
index being the row number in a window over the file ordered by split
start, then by read order within the split.  This stays exact when Spark
splits one large file across tasks at sync markers.  The window costs one
shuffle, and Catalyst prunes it from any plan that never reads ``offset``
(the cleaner's, and the restructure job's, whose keep-last dedup orders
records by ``file_order`` instead).

Storage: the walk lists and the driver reads container headers through
``storage``, so a local root takes ``os.walk`` and OS reads and any other
store its Hadoop FileSystem; listed paths keep the root's form, and a
file's mtime is whole milliseconds on every store, the value Spark's
``_metadata.file_modification_time`` gives its records.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    StringType,
    StructField,
    StructType,
)

from restructure_hdfs_topic_spark import storage

MAGIC = b"Obj\x01"

# Kafka Connect S3 sink filename: <topic>+<partition>+<offsetFrom>[+<offsetTo>].avro
# (accounting/TopicPartitionOffsetRange.kt:50-61)
from restructure_hdfs_topic_spark.functions.paths import FILENAME_RE as _FILENAME_RE_STR

FILENAME_RE = re.compile(_FILENAME_RE_STR)

# The column ``read_avro(..., file_order=True)`` appends.
FILE_ORDER = "file_order"


# ---------------------------------------------------------------------------
# Container header (public Avro spec).
# ---------------------------------------------------------------------------


class _Decoder:
    """Sequential binary decoder over an in-memory buffer."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise EOFError("truncated Avro data")
        self.pos += n
        return b

    def read_long(self) -> int:
        """Zigzag varint (spec: primitive types, int/long encoding)."""
        shift = 0
        accum = 0
        while True:
            byte = self.buf[self.pos]
            self.pos += 1
            accum |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (accum >> 1) ^ -(accum & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())

    def read_utf8(self) -> str:
        return self.read_bytes().decode("utf-8")


def _resolve_named_types(schema: Any, registry: dict[str, Any] | None = None) -> Any:
    """Inline previously-defined named types (record/enum/fixed references)."""
    registry = registry if registry is not None else {}
    if isinstance(schema, str):
        return registry.get(schema, schema)
    if isinstance(schema, list):
        return [_resolve_named_types(s, registry) for s in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "record":
            resolved = dict(schema)
            fields = []
            # Register the (possibly namespaced) name before fields: Avro
            # permits recursive references.
            for name_key in _names_of(schema):
                registry[name_key] = resolved
            for f in schema["fields"]:
                fields.append({**f, "type": _resolve_named_types(f["type"], registry)})
            resolved["fields"] = fields
            return resolved
        if t in ("enum", "fixed"):
            for name_key in _names_of(schema):
                registry[name_key] = schema
            return schema
        if t == "array":
            return {**schema, "items": _resolve_named_types(schema["items"], registry)}
        if t == "map":
            return {**schema, "values": _resolve_named_types(schema["values"], registry)}
        return _resolve_named_types(t, registry)
    raise ValueError(f"bad Avro schema node: {schema!r}")


def _names_of(schema: dict) -> list[str]:
    name = schema.get("name", "")
    ns = schema.get("namespace")
    return [name, f"{ns}.{name}"] if ns else [name]


@dataclass
class AvroContainer:
    """The header of an Avro object-container file."""

    schema: Any
    codec: str
    sync: bytes

    @classmethod
    def parse(cls, data: bytes) -> "AvroContainer":
        dec = _Decoder(data)
        if dec.read(4) != MAGIC:
            raise ValueError("not an Avro object container file")
        meta: dict[str, bytes] = {}
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.read_long()
            for _ in range(n):
                k = dec.read_utf8()
                meta[k] = dec.read_bytes()
        sync = dec.read(16)
        schema = _resolve_named_types(json.loads(meta["avro.schema"].decode("utf-8")))
        codec = meta.get("avro.codec", b"null").decode("utf-8")
        return cls(schema=schema, codec=codec, sync=sync)


# ---------------------------------------------------------------------------
# Avro schema → Spark schema.
# ---------------------------------------------------------------------------


def avro_type_to_spark(schema: Any) -> tuple[DataType, bool]:
    """Map an Avro schema node to (Spark type, nullable) — the same mapping
    the spark-avro module documents (SURVEY §1.2 table)."""
    if isinstance(schema, str):
        return {
            "null": (NullType(), True),
            "boolean": (BooleanType(), False),
            "int": (IntegerType(), False),
            "long": (LongType(), False),
            "float": (FloatType(), False),
            "double": (DoubleType(), False),
            "bytes": (BinaryType(), False),
            "string": (StringType(), False),
        }[schema]
    if isinstance(schema, list):
        non_null = [s for s in schema if s != "null"]
        nullable = len(non_null) < len(schema)
        if len(non_null) == 1:
            t, _ = avro_type_to_spark(non_null[0])
            return t, nullable
        # Multi-branch union → struct of memberN fields (spark-avro's shape).
        fields = [
            StructField(f"member{i}", avro_type_to_spark(s)[0], True)
            for i, s in enumerate(non_null)
        ]
        return StructType(fields), nullable
    t = schema["type"]
    if t == "record":
        return (
            StructType(
                [
                    StructField(f["name"], *avro_type_to_spark(f["type"]))
                    for f in schema["fields"]
                ]
            ),
            False,
        )
    if t == "enum":
        return StringType(), False
    if t == "fixed":
        return BinaryType(), False
    if t == "array":
        it, nullable = avro_type_to_spark(schema["items"])
        return ArrayType(it, containsNull=nullable), False
    if t == "map":
        vt, nullable = avro_type_to_spark(schema["values"])
        return MapType(StringType(), vt, valueContainsNull=nullable), False
    return avro_type_to_spark(t)


# ---------------------------------------------------------------------------
# Source walk (O1) + manifest (O3).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SourceFile:
    path: str
    topic: str
    partition: int
    offset_from: int
    offset_to: int  # == offset_from for single-offset names
    mtime: float
    size: int


def parse_filename(path: str) -> tuple[str, int, int, int | None] | None:
    """``topic+partition+from[+to].avro`` → (topic, partition, from, to);
    ``to`` is None when the name carries only a start offset (Kafka Connect
    writes those when a file holds an unknown span — the reference resolves
    the true end from S3 object tags / Azure metadata,
    source/S3SourceStorage.kt:40-59)."""
    m = FILENAME_RE.match(path)
    if not m:
        return None
    topic, partition, ofrom, oto = m.groups()
    return topic, int(partition), int(ofrom), int(oto) if oto else None


def _read_long_stream(fh) -> int | None:
    """Zigzag varint from a file object; None at clean EOF."""
    first = fh.read(1)
    if not first:
        return None
    acc, shift, byte = 0, 0, first[0]
    while True:
        acc |= (byte & 0x7F) << shift
        if not (byte & 0x80):
            break
        shift += 7
        nxt = fh.read(1)
        if not nxt:
            raise EOFError("truncated varint")
        byte = nxt[0]
    return (acc >> 1) ^ -(acc & 1)


def count_container_records(fh) -> int:
    """Record count of the Avro container open as ``fh`` (seekable) from
    BLOCK HEADERS only: each block prefixes (record count, byte size) —
    sum the counts, seek past the data.  No block is decompressed or
    decoded, so this is O(#blocks) metadata I/O — the storage-agnostic
    analogue of the endOffset object tag the reference reads for
    single-offset filenames (source/S3SourceStorage.kt:40-59,
    source/AzureSourceStorage.kt:28-46)."""
    if fh.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    while True:  # header metadata map (skip values)
        n = _read_long_stream(fh)
        if n is None:
            raise EOFError("truncated header")
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_long_stream(fh)  # byte-size prefix of the map block
        for _ in range(n):
            fh.seek(_read_long_stream(fh), 1)  # key
            fh.seek(_read_long_stream(fh), 1)  # value
    fh.seek(16, 1)  # sync marker
    total = 0
    while True:
        n_records = _read_long_stream(fh)
        if n_records is None:
            return total
        total += n_records
        fh.seek(_read_long_stream(fh), 1)  # block payload
        fh.seek(16, 1)  # sync marker


def s3_tag_end_offset_reader(s3_client, bucket: str):
    """End-offset reader from S3 object tags, the reference's
    ``readEndOffset`` path (source/S3SourceStorage.kt:40-66: GetObjectTags,
    ``endOffset`` key, any failure silently skipped).  ``s3_client`` is a
    boto3-style client (``get_object_tagging``) — constructed by the
    caller, so this module needs no boto3 import."""

    def read(path: str) -> int | None:
        try:
            resp = s3_client.get_object_tagging(Bucket=bucket, Key=storage.object_key(path))
            tags = {t["Key"]: t["Value"] for t in resp.get("TagSet", [])}
            return int(tags["endOffset"])
        except Exception:
            return None  # skip reading end offset (S3SourceStorage.kt:52-54)

    return read


def azure_metadata_end_offset_reader(blob_service, container: str):
    """End-offset reader from Azure blob metadata
    (source/AzureSourceStorage.kt:28-46: blob properties metadata,
    ``endOffset`` key).  ``blob_service`` is an azure-storage-blob-style
    ``BlobServiceClient`` — constructed by the caller."""

    def read(path: str) -> int | None:
        try:
            props = blob_service.get_blob_client(
                container, storage.object_key(path)
            ).get_blob_properties()
            return int((props.metadata or {})["endOffset"])
        except Exception:
            return None

    return read


def walk_topics(
    root: str,
    exclude: set[str] | None = None,
    end_offset_reader=None,
    spark=None,
) -> dict[str, list[SourceFile]]:
    """O1 (source/GeneralSourceStorageWalker.kt:18-33): recursive walk; a
    topic is the grandparent directory of any ``*.avro`` file; ``+tmp``
    dirs are skipped; optional exclude set
    (worker/RadarKafkaRestructure.kt:56-59).

    ``root`` is listed through ``storage`` (the reference's storage
    drivers, source/*SourceStorage.kt): a local root with ``os.walk``, any
    other store (hdfs://, s3a://, ...; pass ``spark``) through its Hadoop
    FileSystem.  Single-offset end-offset resolution reads block headers
    through the same store.

    ``end_offset_reader`` resolves single-offset filenames' true end offset
    from storage metadata — pass ``s3_tag_end_offset_reader(...)`` /
    ``azure_metadata_end_offset_reader(...)`` for the reference's cloud-tag
    path (source/S3SourceStorage.kt:40-59); when absent or returning None,
    the Avro block-header count is the storage-agnostic fallback.

    Driver-side listing — the same O(#files) metadata the reference's
    walker sequences; on object stores this becomes a LIST call per prefix.
    """
    exclude = exclude or set()
    st = storage.store(root, spark)
    under = len(root.rstrip("/"))
    listing = [f for f in st.list_files(root) if "/+tmp/" not in f[0][under:]]
    topics: dict[str, list[SourceFile]] = {}
    for full, mtime, size in listing:
        fname = full.rsplit("/", 1)[-1]
        if not fname.endswith(".avro"):
            continue
        parsed = parse_filename(fname)
        if parsed is None:
            continue
        parts = full.rsplit("/", 3)
        topic = parts[-3] if len(parts) >= 3 else ""
        if topic in exclude:
            continue
        if size == 0:  # zero-length guard (RestructureWorker.kt:118-124)
            continue
        t, partition, ofrom, oto = parsed
        if oto is None and end_offset_reader is not None:
            # O3 cloud-tag path: storage metadata carries the end
            # offset directly (S3 object tag / Azure blob metadata).
            oto = end_offset_reader(full)
        if oto is None:
            # O3 tail: single-offset name — resolve the true end offset
            # from the container's block headers (record count), the
            # analogue of the reference's object-tag lookup.  A file we
            # cannot parse keeps the 1-record assumption; the decoder
            # will surface the corruption downstream.
            try:
                with st.open(full) as fh:
                    oto = ofrom + max(count_container_records(fh), 1) - 1
            except Exception:
                oto = ofrom
        topics.setdefault(topic, []).append(
            SourceFile(full, t, partition, ofrom, oto, mtime, size)
        )
    for files in topics.values():
        files.sort(key=lambda f: (f.partition, f.offset_from))
    return topics


# ---------------------------------------------------------------------------
# Record source (O2) — distributed decode.
# ---------------------------------------------------------------------------

def read_schema(fh) -> Any:
    """The writer schema in the container header of ``fh`` (seekable,
    positioned at the start; driver-side, a few KB); None for an empty
    file."""
    head = fh.read(65536)
    if not head:
        return None
    try:
        return AvroContainer.parse(head).schema
    except (EOFError, IndexError):
        # IndexError: the 64KB cut can land mid-varint inside a large
        # header (big evolved schema JSON) — the decoder indexes past the
        # buffer instead of raising EOFError; both mean "need more bytes".
        fh.seek(0)
        return AvroContainer.parse(fh.read()).schema


def union_avro_schemas(schemas: list) -> Any:
    """Union-by-name merge of Avro record schemas (SURVEY §1.3: schema
    evolution across files within a topic), such that Avro schema
    resolution reads every file against the result.  Fields present in any
    file survive; same-named record fields merge recursively; enums keep
    every symbol in first-seen order; unions keep every branch, merging
    branches of the same type; a numeric type widens (int -> long -> float
    -> double).  On any other type conflict the FIRST file's type wins.
    A field that some schema lacks becomes nullable with a null default
    (``_optional_where_missing``)."""

    def merge(a, b):
        if isinstance(a, list) or isinstance(b, list):
            out = list(a) if isinstance(a, list) else [a]
            for branch in b if isinstance(b, list) else [b]:
                i = _related_branch(out, branch)
                if i is None:
                    out.append(branch)
                else:
                    out[i] = merge(out[i], branch)
            return out if len(out) > 1 else out[0]
        if isinstance(a, dict) and isinstance(b, dict) and a["type"] == b["type"]:
            kind = a["type"]
            if kind == "record":
                out = [dict(f) for f in a["fields"]]
                names = {f["name"]: i for i, f in enumerate(out)}
                for f in b["fields"]:
                    if f["name"] in names:
                        i = names[f["name"]]
                        out[i] = {**out[i], "type": merge(out[i]["type"], f["type"])}
                    else:
                        out.append(dict(f))
                return {**a, "fields": out}
            if kind == "enum":
                return {**a, "symbols": a["symbols"] + [x for x in b["symbols"] if x not in a["symbols"]]}
            if kind == "array":
                return {**a, "items": merge(a["items"], b["items"])}
            if kind == "map":
                return {**a, "values": merge(a["values"], b["values"])}
        rank_a = _NUMERIC_RANK.get(_type_name(a))
        rank_b = _NUMERIC_RANK.get(_type_name(b))
        if rank_a is not None and rank_b is not None and rank_b > rank_a:
            return b
        return a

    merged = schemas[0]
    for s in schemas[1:]:
        merged = merge(merged, s)
    for s in schemas:
        merged = _optional_where_missing(merged, s)
    return merged


# Avro's numeric promotions: a wider type reads every narrower one.
_NUMERIC_RANK = {"int": 0, "long": 1, "float": 2, "double": 3}


def _type_name(node: Any) -> str:
    """What Avro matches union branches by: a named type's name, else its
    type."""
    if isinstance(node, str):
        return node
    return node["name"] if node["type"] in ("record", "enum", "fixed") else node["type"]


def _related_branch(branches: list, node: Any) -> int | None:
    """Index of the branch in ``branches`` of ``node``'s type, else of the
    first numeric branch when ``node`` is numeric; None if neither."""
    names = [_type_name(b) for b in branches]
    if _type_name(node) in names:
        return names.index(_type_name(node))
    if _type_name(node) not in _NUMERIC_RANK:
        return None
    return next((i for i, n in enumerate(names) if n in _NUMERIC_RANK), None)


def _nullable(t: Any) -> list:
    """``t`` as a union whose FIRST branch is null, so ``default: null``
    is a legal default for it."""
    return ["null"] + [b for b in t if b != "null"] if isinstance(t, list) else ["null", t]


def _optional_where_missing(reader: Any, writer: Any) -> Any:
    """``reader`` with every record field that ``writer`` lacks (at any
    depth) typed ``["null", T]`` with ``default: null``: Avro schema
    resolution fills a missing field from its default and fails without
    one, and a missing field reads as null."""
    if isinstance(reader, dict) and isinstance(writer, dict):
        kind = reader.get("type")
        if kind != writer.get("type"):
            return reader
        if kind == "record":
            have = {f["name"]: f["type"] for f in writer["fields"]}
            return {
                **reader,
                "fields": [
                    {**f, "type": _optional_where_missing(f["type"], have[f["name"]])}
                    if f["name"] in have
                    else {**f, "type": _nullable(f["type"]), "default": None}
                    for f in reader["fields"]
                ],
            }
        if kind == "array":
            return {**reader, "items": _optional_where_missing(reader["items"], writer["items"])}
        if kind == "map":
            return {**reader, "values": _optional_where_missing(reader["values"], writer["values"])}
        return reader
    if not (isinstance(reader, list) or isinstance(writer, list)):
        return reader
    # A union on either side: pair each reader branch with the writer's
    # branch of the same type.
    w_branches = writer if isinstance(writer, list) else [writer]
    out = []
    for r in reader if isinstance(reader, list) else [reader]:
        i = _related_branch(w_branches, r)
        out.append(r if i is None else _optional_where_missing(r, w_branches[i]))
    return out if isinstance(reader, list) else out[0]


def _reader_node(node: Any, namespace: str, defined: set[str]) -> Any:
    """One node of the reader schema: ``logicalType`` annotations dropped
    (a ``timestamp-millis`` long reads as a long, as ``avro_type_to_spark``
    types it) and every named type that the header parse inlined more than
    once emitted again as a reference by its full name (Avro forbids
    redefining a name)."""
    if isinstance(node, list):
        return [_reader_node(b, namespace, defined) for b in node]
    if isinstance(node, str):
        return node
    node = {k: v for k, v in node.items() if k != "logicalType"}
    kind = node["type"]
    if kind in ("record", "enum", "fixed"):
        name = node["name"]
        if "." in name:
            full, namespace = name, name.rsplit(".", 1)[0]
        else:
            namespace = node.get("namespace", namespace)
            full = f"{namespace}.{name}" if namespace else name
        if full in defined:
            return full
        defined.add(full)
        if kind == "record":
            node["fields"] = [
                {**f, "type": _reader_node(f["type"], namespace, defined)} for f in node["fields"]
            ]
    elif kind == "array":
        node["items"] = _reader_node(node["items"], namespace, defined)
    elif kind == "map":
        node["values"] = _reader_node(node["values"], namespace, defined)
    return node


def avro_reader_schema(schemas: list) -> dict:
    """The reader schema that Spark's Avro source resolves every file
    against: ``union_avro_schemas`` with logical types dropped, so its
    Spark types equal ``avro_type_to_spark``'s."""
    return _reader_node(union_avro_schemas(schemas), "", set())


# Spark's own Avro file source.  The spark-sql jar ships this class but
# does not register its short name ``avro``, so it is addressed by class.
AVRO_SOURCE = "org.apache.spark.sql.avro.AvroFileFormat"


def read_avro(
    spark: SparkSession, paths: list[str], schemas: list | None = None, file_order: bool = False
) -> DataFrame:
    """O2: DataFrame of Avro records with accounting columns
    (filename, topic, partition, offset, mtime) appended, decoded by
    Spark's Avro source in JVM tasks.  Offsets are exact per-record Kafka
    offsets (offset_from + index-in-file, worker/RestructureWorker.kt:116-131;
    see the module docstring).  Files whose name is not a Kafka-Connect
    name yield no rows; empty files are skipped.  A caller that already
    holds ``writer_schemas(spark, paths)`` passes its two parts as
    ``paths`` and ``schemas``, so no header is read twice.

    ``file_order=True`` appends ``FILE_ORDER``, a struct that orders
    records as files are processed: (partition, offset_from from the file
    name, file path, split start, read position within the split).  It
    needs no window, so a plan that orders by it instead of ``offset``
    shuffles nothing for it.  It equals the order of ``offset`` unless two
    files' offset ranges overlap or records of different Kafka
    partitions are compared.
    """
    if not paths:
        raise ValueError("read_avro: empty path list")
    if schemas is None:
        paths, schemas = writer_schemas(spark, paths)
    if not paths:
        raise ValueError("read_avro: every file is empty")
    reader = json.dumps(avro_reader_schema(schemas))
    raw = spark.read.format(AVRO_SOURCE).option("avroSchema", reader).load(paths)
    fields = [F.col(f"`{c}`") for c in raw.columns]
    name_rx = FILENAME_RE.pattern
    named = raw.select(
        *fields,
        F.regexp_extract("_metadata.file_path", "[^/]*$", 0).alias("filename"),
        F.col("_metadata.file_modification_time").alias("mtime"),
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.file_block_start").alias("__split"),
    ).where(F.col("filename").rlike(name_rx))
    partition = F.regexp_extract("filename", name_rx, 2).cast("int")
    offset_from = F.regexp_extract("filename", name_rx, 3).cast("long")
    in_file = Window.partitionBy("__file").orderBy("__split", "__read")
    cols = [
        *fields,
        "filename",
        F.regexp_extract("filename", name_rx, 1).alias("topic"),
        partition.alias("partition"),
        (offset_from + F.row_number().over(in_file) - 1).alias("offset"),
        "mtime",
    ]
    if file_order:
        cols.append(
            F.struct(
                partition.alias("partition"),
                offset_from.alias("offset_from"),
                F.col("__file").alias("path"),
                F.col("__split").alias("split"),
                F.col("__read").alias("read"),
            ).alias(FILE_ORDER)
        )
    return named.withColumn("__read", F.monotonically_increasing_id()).select(*cols)


def writer_schemas(spark: SparkSession, paths: list[str]) -> tuple[list[str], list]:
    """(the non-empty container files, their distinct embedded writer
    schemas in first-seen order).

    Per-file header reads are a few KB each (driver-side, path count is
    bounded by maxFilesPerTopic), through the store of the first path:
    the paths come from one walk."""
    kept, distinct = [], {}
    st = storage.store(paths[0], spark) if paths else None
    for p in paths:
        with st.open(p) as fh:
            schema = read_schema(fh)
        if schema is not None:
            kept.append(p)
            distinct.setdefault(json.dumps(schema, sort_keys=True), schema)
    return kept, list(distinct.values())


def record_struct(avro_schema: Any) -> StructType:
    """Spark type of the record columns ``read_avro`` returns for the
    reader schema ``avro_schema``: the top-level record's fields, or one
    ``value`` column for a non-record schema.  Unlike the columns of a
    Spark file scan, which are all nullable, its fields are nullable only
    where the Avro type is a union with null."""
    record_type, _ = avro_type_to_spark(avro_schema)
    if not isinstance(record_type, StructType):
        record_type = StructType([StructField("value", record_type, True)])
    return record_type


def manifest_df(spark: SparkSession, files: list[SourceFile]) -> DataFrame:
    """O3/O4 manifest DataFrame from a walked file list — a local relation
    (no Python RDD).  ``mtime`` is built in Spark as
    ``timestamp_seconds(mtime_s)``, whose unix micros equal
    ``offsets.file_micros(f.mtime)``, the ``last_processed_us`` the ledger
    commits, exactly."""
    from restructure_hdfs_topic_spark.session import local_frame

    rows = [
        (f.path, f.topic, f.partition, f.offset_from, f.offset_to, f.mtime)
        for f in files
    ]
    df = local_frame(
        spark,
        rows,
        "path string, topic string, partition int, offset_from long, offset_to long, mtime_s double",
    )
    return df.withColumn("mtime", F.timestamp_seconds(F.col("mtime_s"))).drop("mtime_s")
