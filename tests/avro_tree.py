"""Kafka-Connect Avro source trees for tests, with no external fixtures:
an Avro object-container writer (null codec), a datum encoder for the
schema subset RADAR topics use, and a writer of
``<topic>/partition=<p>/<topic>+<p>+<from>+<to>.avro`` files."""

from __future__ import annotations

import json
import os
import struct

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


def encode(schema, value) -> bytes:
    """Binary encoding of ``value`` under ``schema`` (records, unions,
    maps, arrays and the primitive types the schemas above use)."""
    if isinstance(schema, list):  # union: first branch that fits
        branch = next(
            i
            for i, s in enumerate(schema)
            if (s == "null") == (value is None)
        )
        return zz(branch) + encode(schema[branch], value)
    if isinstance(schema, dict):
        kind = schema["type"]
        if kind == "record":
            return b"".join(encode(f["type"], value[f["name"]]) for f in schema["fields"])
        if kind == "map":
            body = b"".join(_string(k) + encode(schema["values"], v) for k, v in value.items())
            return (zz(len(value)) + body if value else b"") + zz(0)
        if kind == "array":
            body = b"".join(encode(schema["items"], v) for v in value)
            return (zz(len(value)) + body if value else b"") + zz(0)
        return encode(kind, value)
    if schema == "null":
        return b""
    if schema in ("int", "long"):
        return zz(value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema == "string":
        return _string(value)
    raise ValueError(f"unsupported schema {schema!r}")


def build_container(schema: dict, encoded_datums: bytes, n: int) -> bytes:
    """One-block Avro object container (null codec) holding ``n`` datums."""
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"null"}
    hdr = b"Obj\x01" + zz(len(meta))
    for k, v in meta.items():
        hdr += zz(len(k.encode())) + k.encode() + zz(len(v)) + v
    hdr += zz(0)
    sync = bytes(range(16))
    return hdr + sync + zz(n) + zz(len(encoded_datums)) + encoded_datums + sync


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
) -> str:
    """Write ``records`` as the Kafka-Connect file covering offsets
    ``offset_from .. offset_from + len(records) - 1``; returns its path."""
    part_dir = os.path.join(root, topic, f"partition={partition}")
    os.makedirs(part_dir, exist_ok=True)
    offset_to = offset_from + len(records) - 1
    path = os.path.join(part_dir, f"{topic}+{partition}+{offset_from:010d}+{offset_to:010d}.avro")
    datums = b"".join(encode(RECORD_SCHEMA, r) for r in records)
    with open(path, "wb") as fh:
        fh.write(build_container(RECORD_SCHEMA, datums, len(records)))
    if mtime_s is not None:
        os.utime(path, ns=(int(mtime_s * 1e9), int(mtime_s * 1e9)))
    return path
