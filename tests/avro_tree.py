"""Kafka-Connect Avro source trees for tests, with no external fixtures:
an Avro object-container writer (null, deflate, bzip2, xz or snappy
blocks), a datum encoder for every Avro type but float, and a writer of
``<topic>/partition=<p>/<topic>+<p>+<from>+<to>.avro`` files."""

from __future__ import annotations

import bz2
import json
import lzma
import os
import struct
import zlib

# ObservationKey + a small measurement value: a double event time, a
# nullable field, a map and an array (the data-dependent CSV columns).
KEY_SCHEMA = {
    "type": "record",
    "name": "ObservationKey",
    "fields": [
        {"name": "projectId", "type": ["null", "string"]},
        {"name": "userId", "type": "string"},
        {"name": "sourceId", "type": "string"},
    ],
}
VALUE_SCHEMA = {
    "type": "record",
    "name": "Reading",
    "fields": [
        {"name": "time", "type": "double"},
        {"name": "timeReceived", "type": "double"},
        {"name": "level", "type": ["null", "long"]},
        {"name": "tags", "type": {"type": "map", "values": "string"}},
        {"name": "samples", "type": {"type": "array", "items": "double"}},
    ],
}
RECORD_SCHEMA = {
    "type": "record",
    "name": "KafkaRecord",
    "fields": [{"name": "key", "type": KEY_SCHEMA}, {"name": "value", "type": VALUE_SCHEMA}],
}


def zz(v: int) -> bytes:
    """Avro long: zigzag varint."""
    v = (v << 1) ^ (v >> 63)
    out = b""
    while True:
        b7 = v & 0x7F
        v >>= 7
        if v:
            out += bytes([b7 | 0x80])
        else:
            return out + bytes([b7])


def _string(s: str) -> bytes:
    raw = s.encode()
    return zz(len(raw)) + raw


_PY_TYPES = {
    "null": type(None),
    "boolean": bool,
    "int": int,
    "long": int,
    "double": (int, float),
    "bytes": bytes,
    "string": str,
    "enum": str,
    "fixed": bytes,
    "record": dict,
    "map": dict,
    "array": list,
}


def _fits(schema, value, named: dict) -> bool:
    schema = named.get(schema, schema)
    kind = schema if isinstance(schema, str) else schema["type"]
    if isinstance(value, bool) and kind != "boolean":
        return False
    return isinstance(value, _PY_TYPES[kind])


def encode(schema, value, named: dict | None = None) -> bytes:
    """Binary encoding of ``value`` under ``schema``: records, enums,
    fixed, references to them by (unqualified) name, unions (the first
    branch whose Python type fits), maps, arrays and every primitive but
    float.  ``named`` collects the named types defined so far."""
    named = {} if named is None else named
    schema = named.get(schema, schema) if isinstance(schema, str) else schema
    if isinstance(schema, list):
        branch = next(i for i, s in enumerate(schema) if _fits(s, value, named))
        return zz(branch) + encode(schema[branch], value, named)
    if isinstance(schema, dict):
        kind = schema["type"]
        if "name" in schema:
            named[schema["name"]] = schema
        if kind == "record":
            return b"".join(encode(f["type"], value[f["name"]], named) for f in schema["fields"])
        if kind == "enum":
            return zz(schema["symbols"].index(value))
        if kind == "fixed":
            assert len(value) == schema["size"]
            return value
        if kind == "map":
            body = b"".join(_string(k) + encode(schema["values"], v, named) for k, v in value.items())
            return (zz(len(value)) + body if value else b"") + zz(0)
        if kind == "array":
            body = b"".join(encode(schema["items"], v, named) for v in value)
            return (zz(len(value)) + body if value else b"") + zz(0)
        return encode(kind, value, named)
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if value else b"\x00"
    if schema in ("int", "long"):
        return zz(value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema == "bytes":
        return zz(len(value)) + value
    if schema == "string":
        return _string(value)
    raise ValueError(f"unsupported schema {schema!r}")


def _compress(block: bytes, codec: str, snappy) -> bytes:
    if codec == "deflate":
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        return co.compress(block) + co.flush()
    if codec == "bzip2":
        return bz2.compress(block)
    if codec == "xz":
        return lzma.compress(block)
    if codec == "snappy":  # raw snappy + big-endian CRC32 of the input
        return snappy(block) + struct.pack(">I", zlib.crc32(block) & 0xFFFFFFFF)
    assert codec == "null", codec
    return block


SYNC = bytes(range(16))


def _header(schema: dict, codec: str) -> bytes:
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    hdr = b"Obj\x01" + zz(len(meta))
    for k, v in meta.items():
        hdr += zz(len(k.encode())) + k.encode() + zz(len(v)) + v
    return hdr + zz(0) + SYNC


def container(schema: dict, records: list, codec: str = "null", block_records: int | None = None, snappy=None) -> bytes:
    """Avro object container of ``records`` in blocks of ``block_records``
    (default: one block), each compressed with ``codec``.  ``snappy``
    compresses raw bytes for the ``snappy`` codec."""
    out = _header(schema, codec)
    step = block_records or max(len(records), 1)
    for i in range(0, len(records), step):
        chunk = records[i : i + step]
        data = _compress(b"".join(encode(schema, r) for r in chunk), codec, snappy)
        out += zz(len(chunk)) + zz(len(data)) + data + SYNC
    return out


def build_container(schema: dict, encoded_datums: bytes, n: int) -> bytes:
    """One-block Avro object container (null codec) holding ``n`` datums."""
    return _header(schema, "null") + zz(n) + zz(len(encoded_datums)) + encoded_datums + SYNC


def reading(project, user: str, t: float, level=None, tags=None, samples=None) -> dict:
    """One ``RECORD_SCHEMA`` datum."""
    return {
        "key": {"projectId": project, "userId": user, "sourceId": "s1"},
        "value": {
            "time": t,
            "timeReceived": t + 0.5,
            "level": level,
            "tags": tags or {},
            "samples": samples or [],
        },
    }


def write_topic_file(
    root: str,
    topic: str,
    partition: int,
    offset_from: int,
    records: list[dict],
    mtime_s: float | None = None,
    schema: dict = RECORD_SCHEMA,
    single_offset: bool = False,
    **container_kw,
) -> str:
    """Write ``records`` (``schema`` datums) as the Kafka-Connect file
    covering offsets ``offset_from .. offset_from + len(records) - 1``;
    returns its path.  ``single_offset`` names the file by its first
    offset only (``<topic>+<p>+<from>.avro``).  ``container_kw`` goes to
    ``container``."""
    part_dir = os.path.join(root, topic, f"partition={partition}")
    os.makedirs(part_dir, exist_ok=True)
    offset_to = offset_from + len(records) - 1
    last = "" if single_offset else f"+{offset_to:010d}"
    path = os.path.join(part_dir, f"{topic}+{partition}+{offset_from:010d}{last}.avro")
    with open(path, "wb") as fh:
        fh.write(container(schema, records, **container_kw))
    if mtime_s is not None:
        os.utime(path, ns=(int(mtime_s * 1e9), int(mtime_s * 1e9)))
    return path


# A tree shaped like the reference's integration fixtures
# (src/integrationTest/resources): topic ``application_server_status``,
# partition 1, a file of offsets 18-20 and a single-offset file from 21,
# three records each; topic ``android_phone_acceleration``, partition 0,
# one single-offset file.  The status records of bin 20200128_1300 are the
# two identical rows of the reference's golden CSV
# (RestructureS3IntegrationTest.kt).
STATUS_TOPIC = "application_server_status"
ACCEL_TOPIC = "android_phone_acceleration"
STATUS_KEY = ("STAGING_PROJECT", "1543bc93-3c17-4381-89a5-c5d6272b827c", "99caf236-bbe6-4eed-9c63-fba77349821d")
ACCEL_KEY = ("radar-test-root", "4ab9b985-6eec-4e51-9a29-f4c571c89f99", "6d4b9f3c-3b4b-4e7f-8f5a-0c1f0e2d8a11")
STATUS_SCHEMA = {
    "type": "record",
    "name": "KafkaRecord",
    "fields": [
        {"name": "key", "type": KEY_SCHEMA},
        {
            "name": "value",
            "type": {
                "type": "record",
                "name": "ApplicationServerStatus",
                "fields": [
                    {"name": "time", "type": "double"},
                    {
                        "name": "serverStatus",
                        "type": {"type": "enum", "name": "ServerStatus", "symbols": ["CONNECTED", "DISCONNECTED", "UNKNOWN"]},
                    },
                    {"name": "ipAddress", "type": ["null", "string"]},
                ],
            },
        },
    ],
}
ACCEL_SCHEMA = {
    "type": "record",
    "name": "KafkaRecord",
    "fields": [
        {"name": "key", "type": KEY_SCHEMA},
        {
            "name": "value",
            "type": {
                "type": "record",
                "name": "PhoneAcceleration",
                "fields": [
                    {"name": n, "type": "double"} for n in ("time", "timeReceived", "x", "y", "z")
                ],
            },
        },
    ],
}


def _status(t: float, status: str) -> dict:
    p, u, s = STATUS_KEY
    return {"key": {"projectId": p, "userId": u, "sourceId": s}, "value": {"time": t, "serverStatus": status, "ipAddress": None}}


def reference_shaped_tree(root: str, accel_records: int = 40) -> str:
    """Write the fixture-shaped tree under ``root`` and return ``root``.
    Its status files hold six records, three of them distinct payloads:
    two (1580219820.03, CONNECTED) in bin 20200128_1300, then in bin
    20200128_1400 (1580220600.5, CONNECTED) twice, once per file, and
    (1580221800.25, DISCONNECTED) twice.  The acceleration file holds
    ``accel_records`` records in bin 20200528_1000."""
    t13, t14, t14b = 1580219820.03, 1580220600.5, 1580221800.25
    write_topic_file(
        root, STATUS_TOPIC, 1, 18,
        [_status(t13, "CONNECTED"), _status(t13, "CONNECTED"), _status(t14, "CONNECTED")],
        schema=STATUS_SCHEMA, codec="deflate",
    )
    write_topic_file(
        root, STATUS_TOPIC, 1, 21,
        [_status(t14, "CONNECTED"), _status(t14b, "DISCONNECTED"), _status(t14b, "DISCONNECTED")],
        schema=STATUS_SCHEMA, codec="deflate", single_offset=True,
    )
    p, u, s = ACCEL_KEY
    t0 = 1590660000.0  # 2020-05-28 10:00 UTC
    accel = [
        {
            "key": {"projectId": p, "userId": u, "sourceId": s},
            "value": {"time": t0 + i, "timeReceived": t0 + i + 0.5, "x": i * 0.25, "y": -1.0, "z": 9.81},
        }
        for i in range(accel_records)
    ]
    write_topic_file(root, ACCEL_TOPIC, 0, 3018784, accel, schema=ACCEL_SCHEMA, single_offset=True)
    return root
