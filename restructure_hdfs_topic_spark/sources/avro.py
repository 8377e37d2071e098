"""Avro ingestion (SURVEY O1/O2/O3): topic discovery, Avro object-container
record source, and filename→offset parsing — the reference's entire input
side (source/GeneralSourceStorageWalker.kt:18-33, worker/RestructureWorker.kt:178-191,
accounting/TopicPartitionOffsetRange.kt:50-61).

Spark-first design:
- When the ``spark-avro`` datasource module is on the classpath,
  ``spark.read.format("avro")`` is used directly (mode="spark-avro" or
  "auto").
- Otherwise (this container ships pyspark without the external avro
  module) records are decoded by a pure-Python implementation of the
  PUBLIC Avro 1.x object-container spec
  (https://avro.apache.org/docs/1.11.1/specification/) running INSIDE
  executors: ``spark.read.format("binaryFile")`` distributes the files,
  ``mapInPandas`` decodes each file to Arrow record batches.  Kafka
  Connect S3 sink files are bounded (one offset range each), so
  whole-file bytes per task is the natural unit — the reference does
  exactly the same download-then-read (source/S3SourceStorage.kt:76-100).

Per-record offsets (O12) are assigned AT THE SOURCE: the decoder knows
each record's index within its file, so ``offset = offset_from + index``
costs nothing — where the generic column-expression form
(row_number over a per-file window, operators/offsets.py:assign_record_offsets)
would shuffle the whole corpus.

Scale: one task per source file (binaryFile splits at file granularity);
1000 executors chew a million files without driver involvement beyond the
listing, which is the same O(#files) metadata the reference's walker holds.
"""

from __future__ import annotations

import io
import json
import logging
import os
import re
import struct
import zlib
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
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
    TimestampType,
)

MAGIC = b"Obj\x01"

_log = logging.getLogger(__name__)

# Kafka Connect S3 sink filename: <topic>+<partition>+<offsetFrom>[+<offsetTo>].avro
# (accounting/TopicPartitionOffsetRange.kt:50-61)
from restructure_hdfs_topic_spark.functions.paths import FILENAME_RE as _FILENAME_RE_STR

FILENAME_RE = re.compile(_FILENAME_RE_STR)


# ---------------------------------------------------------------------------
# Binary decoder (public Avro spec).
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

    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


def _snappy_decompress(data: bytes) -> bytes:
    """Pure-Python snappy raw-format decompressor (public format spec:
    google/snappy format_description.txt).  Used only when the optional
    python-snappy package is absent; Kafka Connect's Avro blocks are small,
    so Python-speed decode is acceptable in the fallback path."""
    pos = 0
    # Preamble: uncompressed length, little-endian varint.
    length = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        length |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            n = tag >> 2
            if n >= 60:
                extra = n - 59
                n = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            n += 1
            out += data[pos : pos + n]
            pos += n
            continue
        if kind == 1:  # copy, 1-byte offset
            n = ((tag >> 2) & 0x07) + 4
            offset = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            n = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            n = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        start = len(out) - offset
        if start < 0:
            raise ValueError("snappy copy before stream start")
        for i in range(n):  # overlapping copies are byte-sequential
            out.append(out[start + i])
    if len(out) != length:
        raise ValueError("snappy length mismatch")
    return bytes(out)


def _decode_value(dec: _Decoder, schema: Any) -> Any:
    """Decode one value against a (parsed-JSON) Avro schema node."""
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return dec.read(1) != b"\x00"
        if t in ("int", "long"):
            return dec.read_long()
        if t == "float":
            return struct.unpack("<f", dec.read(4))[0]
        if t == "double":
            return struct.unpack("<d", dec.read(8))[0]
        if t == "bytes":
            return dec.read_bytes()
        if t == "string":
            return dec.read_utf8()
        raise ValueError(f"unknown Avro primitive {t!r}")
    if isinstance(schema, list):  # union: branch index then value
        idx = dec.read_long()
        branch = schema[idx]
        val = _decode_value(dec, branch)
        non_null = [s for s in schema if s != "null"]
        if len(non_null) <= 1 or branch == "null":
            return val
        # Multi-branch union: the Spark schema is a memberN struct
        # (avro_type_to_spark, spark-avro's shape), so the decoded value must
        # be wrapped as {memberJ: value} keyed by the branch's index among
        # the non-null members — pyarrow fills the absent members with null.
        return {f"member{non_null.index(branch)}": val}
    t = schema["type"]
    if t == "record":
        return {f["name"]: _decode_value(dec, f["type"]) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][dec.read_long()]
    if t == "fixed":
        return dec.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                n = -n
                dec.read_long()
            for _ in range(n):
                out.append(_decode_value(dec, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.read_long()
            for _ in range(n):
                k = dec.read_utf8()
                out[k] = _decode_value(dec, schema["values"])
        return out
    # named-type reference or wrapped primitive {"type": "string", ...}
    return _decode_value(dec, t)


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
    """Parsed Avro object-container file (header + lazily-decoded blocks)."""

    schema: Any
    codec: str
    sync: bytes
    _dec: _Decoder

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
        return cls(schema=schema, codec=codec, sync=sync, _dec=dec)

    def records(self) -> Iterator[Any]:
        dec = self._dec
        while not dec.at_end():
            n_records = dec.read_long()
            block = dec.read(dec.read_long())
            if dec.read(16) != self.sync:
                raise ValueError("Avro sync marker mismatch")
            if self.codec == "deflate":
                block = zlib.decompress(block, -15)
            elif self.codec == "snappy":
                # Avro frames snappy blocks with a trailing 4-byte CRC32 of
                # the uncompressed data (spec: object container files).
                payload, crc = block[:-4], block[-4:]
                try:
                    import snappy

                    block = snappy.decompress(payload)
                except ImportError:
                    block = _snappy_decompress(payload)
                if struct.pack(">I", zlib.crc32(block) & 0xFFFFFFFF) != crc:
                    raise ValueError("Avro snappy block CRC mismatch")
            elif self.codec == "bzip2":
                import bz2

                block = bz2.decompress(block)
            elif self.codec == "xz":
                import lzma

                block = lzma.decompress(block)
            elif self.codec != "null":
                raise ValueError(f"unsupported Avro codec {self.codec!r}")
            bdec = _Decoder(block)
            for _ in range(n_records):
                yield _decode_value(bdec, self.schema)


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

ACCOUNTING_FIELDS = [
    StructField("filename", StringType(), False),
    StructField("topic", StringType(), False),
    StructField("partition", IntegerType(), False),
    StructField("offset", LongType(), False),
    StructField("mtime", TimestampType(), False),
]


def read_schema(path: str, opener=open) -> Any:
    """Read just the container header of one file (driver-side, a few KB).
    ``opener`` abstracts the byte source for Hadoop-FS URIs."""
    with opener(path, "rb") as fh:
        head = fh.read(65536)
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
    evolution across files within a topic).  Fields present in any file
    survive; same-named record fields merge recursively; on a genuine type
    conflict the FIRST file's type wins (older readers' behavior).
    Nullable unions ``["null", T]`` merge element-wise."""

    def merge(a, b):
        if (
            isinstance(a, dict)
            and a.get("type") == "record"
            and isinstance(b, dict)
            and b.get("type") == "record"
        ):
            out = [dict(f) for f in a["fields"]]
            names = {f["name"]: i for i, f in enumerate(out)}
            for f in b["fields"]:
                if f["name"] in names:
                    i = names[f["name"]]
                    out[i] = {**out[i], "type": merge(out[i]["type"], f["type"])}
                else:
                    out.append(dict(f))
            return {**a, "fields": out}
        if isinstance(a, list) and isinstance(b, list) and len(a) == len(b):
            return [merge(x, y) for x, y in zip(a, b)]
        return a

    merged = schemas[0]
    for s in schemas[1:]:
        merged = merge(merged, s)
    return merged


# session_epoch -> whether the session resolves the ``avro`` data source.
_SPARK_AVRO: dict[str, bool] = {}


def spark_avro_available(spark: SparkSession) -> bool:
    """Whether ``spark.read.format("avro")`` resolves, asked once per
    session (keyed by ``session_epoch``); a miss logs one WARN.  The probe
    is Spark's own data-source lookup, not a class lookup: Spark 4.1 ships
    ``org.apache.spark.sql.avro.AvroFileFormat`` inside spark-sql, while
    only the external spark-avro module registers the ``avro`` source."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from restructure_hdfs_topic_spark.session import session_epoch

    key = session_epoch(spark)
    if key not in _SPARK_AVRO:
        try:
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", spark._jsparkSession.sessionState().conf()
            )
            _SPARK_AVRO[key] = True
        except (AnalysisException, Py4JJavaError):
            _SPARK_AVRO[key] = False
            _log.warning(
                "spark-avro data source not found; read_avro(mode='auto') "
                "decodes with the pure-Python reader in this session"
            )
    return _SPARK_AVRO[key]


def read_avro(
    spark: SparkSession,
    paths: list[str],
    mode: str = "auto",
) -> DataFrame:
    """O2: DataFrame of Avro records with accounting columns
    (filename, topic, partition, offset, mtime) appended.

    mode="spark-avro" requires the external datasource module; "python"
    forces the pure-Python decoder; "auto" uses spark-avro when the
    session resolves it (``spark_avro_available``) and otherwise falls
    back, with a WARN, to the pure-Python decoder.  Offsets are exact
    per-record Kafka offsets (offset_from + index-in-file,
    worker/RestructureWorker.kt:116-131).
    """
    if not paths:
        raise ValueError("read_avro: empty path list")
    if mode == "spark-avro" or (mode == "auto" and spark_avro_available(spark)):
        try:
            df = spark.read.format("avro").load(paths)
            fname = F.input_file_name()
            from restructure_hdfs_topic_spark.functions.paths import (
                parse_source_filename,
            )

            # Expose the BASENAME, matching the pure-Python decode mode —
            # a full input URI here would silently break every
            # filename-keyed consumer (offset assignment, cleaner verdict
            # maps, persisted state) whenever `auto` flips modes between
            # runs.  The window still partitions on the full path.
            base = F.element_at(F.split(fname, "/"), -1)
            parsed = parse_source_filename(base)
            from pyspark.sql import Window

            w = Window.partitionBy(fname).orderBy(F.monotonically_increasing_id())
            from restructure_hdfs_topic_spark.session import local_frame

            mtimes = local_frame(
                spark, _path_mtimes(spark, paths), "filename string, __mtime_ms long"
            )
            return (
                df.withColumn("filename", base)
                .select("*", *parsed)
                .withColumn("offset", F.col("offset_from") + F.row_number().over(w) - 1)
                .drop("offset_from", "offset_to")
                # Real file mtimes (driver-side stat, path count bounded by
                # maxFilesPerTopic): a NULL mtime would leave the O5
                # seen-record filter's mtime dimension inoperative in this
                # mode (NULL comparison ⇒ never seen ⇒ duplicates on rerun).
                .join(F.broadcast(mtimes), "filename", "left")
                .withColumn("mtime", F.timestamp_millis(F.col("__mtime_ms")))
                .drop("__mtime_ms")
            )
        except Exception:
            if mode == "spark-avro":
                raise
            _log.warning(
                "read_avro: spark-avro read failed; decoding with the pure-Python reader",
                exc_info=True,
            )
    # --- pure-Python distributed decode -----------------------------------
    schema = union_schema_for_paths(spark, paths)
    decode, out_schema = make_avro_decoder(schema)
    binary = (
        spark.read.format("binaryFile")
        .load(paths)
        .select("path", "modificationTime", "content")
    )
    return binary.mapInPandas(decode, schema=out_schema)


def _path_mtimes(spark: SparkSession, paths: list[str]) -> list[tuple[str, int]]:
    """(basename, mtime-millis) per input file — driver-side stat, URI
    paths through the cluster FileSystem.

    The result joins records on BASENAME (the filename column the decode
    modes agree on), so basenames must be unique within one read_avro
    call: a duplicate key would fan out every record of that file through
    the broadcast join, silently duplicating data.  Two distinct paths
    sharing a basename (the same Kafka file mirrored under two roots)
    raise instead."""
    seen: dict[str, tuple[str, int]] = {}
    for p in dict.fromkeys(paths):
        if _URI_RE.match(p):
            jvm = spark._jvm
            hp = jvm.org.apache.hadoop.fs.Path(p)
            fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
            ms = int(fs.getFileStatus(hp).getModificationTime())
        else:
            ms = int(os.path.getmtime(p) * 1000)
        base = p.rsplit("/", 1)[-1]
        if base in seen and seen[base][0] != p:
            raise ValueError(
                f"read_avro: duplicate basename {base!r} across input roots "
                f"({seen[base][0]!r} vs {p!r}) — records would duplicate "
                "through the basename-keyed mtime join; pass each mirrored "
                "root in its own read_avro call"
            )
        seen[base] = (p, ms)
    return [(b, ms) for b, (_p, ms) in seen.items()]


def union_schema_for_paths(spark: SparkSession, paths: list[str]):
    """Union the embedded writer schemas of the given container files.

    Per-file header reads are a few KB each (driver-side, path count is
    bounded by maxFilesPerTopic); distinct headers union by name so a
    topic whose schema evolved mid-stream loses no fields.  URI paths
    (hdfs://, s3a://, file://) read through the cluster FileSystem.
    Shared by the batch reader (``read_avro``) and the Structured
    Streaming source (``streaming.service.read_avro_stream``)."""
    headers = {}
    for p in paths:
        opener = _hadoop_opener(spark) if _URI_RE.match(p) else open
        headers.setdefault(json.dumps(read_schema(p, opener), sort_keys=True), p)
    schemas = [json.loads(s) for s in headers]
    return schemas[0] if len(schemas) == 1 else union_avro_schemas(schemas)


def make_avro_decoder(avro_schema):
    """Build the (mapInPandas kernel, output StructType) pair that decodes
    ``binaryFile`` rows (path, modificationTime, content) into records with
    accounting columns.  Shared by the batch reader above and the
    Structured Streaming source (``streaming.service.read_avro_stream``) —
    each container file is parsed with its OWN embedded writer schema and
    projected onto the sample schema's top-level fields."""
    record_type, _ = avro_type_to_spark(avro_schema)
    if not isinstance(record_type, StructType):
        record_type = StructType([StructField("value", record_type, True)])
    out_schema = StructType(list(record_type.fields) + ACCOUNTING_FIELDS)
    field_names = [f.name for f in record_type.fields]

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for path, mtime, content in zip(
                pdf["path"], pdf["modificationTime"], pdf["content"]
            ):
                if not content:
                    continue
                container = AvroContainer.parse(bytes(content))
                parsed = parse_filename(path)
                if parsed is None:
                    continue
                topic, partition, ofrom, _ = parsed
                rows = []
                for i, rec in enumerate(container.records()):
                    if not isinstance(rec, dict):
                        rec = {"value": rec}
                    row = {name: rec.get(name) for name in field_names}
                    row["filename"] = os.path.basename(path)
                    row["topic"] = topic
                    row["partition"] = partition
                    row["offset"] = ofrom + i
                    row["mtime"] = mtime
                    rows.append(row)
                if rows:
                    yield pd.DataFrame(rows)

    return decode, out_schema


def read_topic(
    spark: SparkSession,
    root: str,
    topic: str,
    files: list[SourceFile] | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Read every record of one topic under ``root`` (or only ``files``)."""
    if files is None:
        # Forward the session so Hadoop-FS URI roots (hdfs://, s3a://) walk
        # through the cluster FileSystem — os.walk finds nothing there.
        files = walk_topics(root, spark=spark).get(topic, [])
    return read_avro(spark, [f.path for f in files], mode=mode)


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
