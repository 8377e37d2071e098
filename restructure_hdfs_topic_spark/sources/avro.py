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
"""

from __future__ import annotations

import json
import os
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


def count_container_records(path: str, opener=open) -> int:
    """Record count of an Avro container from BLOCK HEADERS only: each block
    prefixes (record count, byte size) — sum the counts, seek past the data.
    No block is decompressed or decoded, so this is O(#blocks) metadata I/O —
    the local-filesystem analogue of the endOffset object tag the reference
    reads for single-offset filenames (source/S3SourceStorage.kt:40-59,
    source/AzureSourceStorage.kt:28-46).  ``opener`` abstracts the byte
    source (the Hadoop-FS walk passes a remote reader)."""
    with opener(path, "rb") as fh:
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


def _object_key(path: str) -> str:
    """Storage object key from a walk path: the walk hands readers paths
    VERBATIM, which for URI roots are full ``s3a://bucket/key`` URIs — the
    scheme and authority (bucket/container) must be stripped or every tag
    lookup 404s and the code silently falls back to block-header reads
    (ADVICE r4: the cloud-tag fast path was dead for exactly the URI roots
    it was built for)."""
    if _URI_RE.match(path):
        from urllib.parse import urlparse

        return urlparse(path).path.lstrip("/")
    return path.lstrip("/")


def s3_tag_end_offset_reader(s3_client, bucket: str):
    """End-offset reader from S3 object tags, the reference's
    ``readEndOffset`` path (source/S3SourceStorage.kt:40-66: GetObjectTags,
    ``endOffset`` key, any failure silently skipped).  ``s3_client`` is a
    boto3-style client (``get_object_tagging``) — constructed by the
    caller, so this module needs no boto3 import."""

    def read(path: str) -> int | None:
        try:
            resp = s3_client.get_object_tagging(Bucket=bucket, Key=_object_key(path))
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
                container, _object_key(path)
            ).get_blob_properties()
            return int((props.metadata or {})["endOffset"])
        except Exception:
            return None

    return read


# Hadoop normalizes file:///x to file:/x, so match any scheme prefix, not
# just the "://" form.
_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:/")


def _hadoop_listing(spark, root: str) -> list[tuple[str, float, int]]:
    """(path, mtime_s, size) for every file under a Hadoop-FS URI —
    the cluster-storage form of the walk (hdfs://, s3a://, file://...).
    One recursive LIST, same O(#files) metadata as the local walk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: list[tuple[str, float, int]] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), st.getModificationTime() / 1000.0, st.getLen()))
    return out


def _hadoop_opener(spark, chunk_bytes: int = 1 << 16):
    """``opener(path, mode)`` over Hadoop FS: a SEEKABLE buffered reader
    over ``FSDataInputStream`` positioned reads — the block-header scan
    touches O(#blocks × chunk) ranged bytes instead of downloading the
    whole object (ADVICE r4: ``readAllBytes`` turned the single-offset
    fallback into a full-object read per file), and seeks past block
    payloads without fetching them.  Chunked buffering keeps py4j
    round-trips to one per ``chunk_bytes``, not one per byte."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    class _Reader:
        def __init__(self, path: str):
            hp = jvm.org.apache.hadoop.fs.Path(path)
            fs = hp.getFileSystem(hconf)
            self._size = fs.getFileStatus(hp).getLen()
            self._stream = fs.open(hp)
            self._pos = 0
            self._buf = b""
            self._buf_start = 0

        def _fill(self, pos: int) -> None:
            n = int(min(chunk_bytes, self._size - pos))
            if n <= 0:
                self._buf, self._buf_start = b"", pos
                return
            # Seek + bounded read; commons-io (shipped with Hadoop) returns
            # a byte[], which py4j converts to Python bytes — one JVM
            # round-trip per chunk.
            self._stream.seek(pos)
            self._buf = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(self._stream, n)
            )
            self._buf_start = pos

        def read(self, n: int = -1) -> bytes:
            if n < 0:
                n = self._size - self._pos
            out = bytearray()
            while n > 0 and self._pos < self._size:
                off = self._pos - self._buf_start
                if not (0 <= off < len(self._buf)):
                    self._fill(self._pos)
                    if not self._buf:
                        break
                    off = 0
                take = min(n, len(self._buf) - off)
                out += self._buf[off : off + take]
                self._pos += take
                n -= take
            return bytes(out)

        def seek(self, offset: int, whence: int = 0) -> int:
            if whence == 0:
                self._pos = offset
            elif whence == 1:
                self._pos += offset
            else:
                self._pos = self._size + offset
            return self._pos

        def tell(self) -> int:
            return self._pos

        def close(self) -> None:
            self._stream.close()

        def __enter__(self):
            return self

        def __exit__(self, *exc) -> None:
            self.close()

    def opener(path: str, mode: str = "rb"):
        return _Reader(path)

    return opener


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

    ``root`` may be a plain local path (os.walk) or, when ``spark`` is
    given, any Hadoop-FS URI — hdfs://, s3a://, file:// — listed through
    the cluster's FileSystem (the reference's storage drivers,
    source/*SourceStorage.kt); single-offset end-offset resolution then
    reads block headers through the same FS.

    ``end_offset_reader`` resolves single-offset filenames' true end offset
    from storage metadata — pass ``s3_tag_end_offset_reader(...)`` /
    ``azure_metadata_end_offset_reader(...)`` for the reference's cloud-tag
    path (source/S3SourceStorage.kt:40-59); when absent or returning None,
    the Avro block-header count is the storage-agnostic fallback.

    Driver-side listing — the same O(#files) metadata the reference's
    walker sequences; on object stores this becomes a LIST call per prefix.
    """
    exclude = exclude or set()
    remote = _URI_RE.match(root) is not None and spark is not None
    if remote:
        listing = [
            (p, m, s)
            for p, m, s in _hadoop_listing(spark, root)
            if "/+tmp/" not in p
        ]
        opener = _hadoop_opener(spark)
    else:
        listing = []
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if d != "+tmp"]
            for fname in filenames:
                full = os.path.join(dirpath, fname)
                st = os.stat(full)
                listing.append((full, st.st_mtime, st.st_size))
        opener = open
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
                oto = ofrom + max(count_container_records(full, opener), 1) - 1
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

def read_schema(path: str, opener=open) -> Any:
    """Read just the container header of one file (driver-side, a few KB);
    None for an empty file.  ``opener`` abstracts the byte source for
    Hadoop-FS URIs."""
    with opener(path, "rb") as fh:
        head = fh.read(65536)
    if not head:
        return None
    try:
        return AvroContainer.parse(head).schema
    except (EOFError, IndexError):
        # IndexError: the 64KB cut can land mid-varint inside a large
        # header (big evolved schema JSON) — the decoder indexes past the
        # buffer instead of raising EOFError; both mean "need more bytes".
        with opener(path, "rb") as fh:
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
    bounded by maxFilesPerTopic).  URI paths (hdfs://, s3a://, file://)
    read through the cluster FileSystem."""
    kept, distinct = [], {}
    for p in paths:
        opener = _hadoop_opener(spark) if _URI_RE.match(p) else open
        schema = read_schema(p, opener)
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
    ``timestamp_seconds(mtime_s)``, so a committed ``last_processed`` taken
    from it equals ``offsets.file_micros(f.mtime)`` exactly."""
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
