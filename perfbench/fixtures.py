"""Seeded input generators for the benchmark: a Kafka-Connect Avro topic
tree (with the expected restructure output derived alongside it) and a
document / embedding corpus for the LLM-data pipelines.

Everything is derived from the seed with ``random.Random`` / NumPy's
``default_rng``; the same seed writes byte-identical files.  The Avro
containers follow the public object-container spec; snappy blocks are
compressed by the JVM's ``org.xerial.snappy`` (shipped with Spark), so the
decoder sees real literal *and* copy elements.
"""

from __future__ import annotations

import calendar
import json
import os
import random
import struct
import zlib
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone

# Virtual "now" of the restructure scenario (2026-01-15T00:00:00Z).  File
# mtimes are set relative to it and the jobs get it as ``now_s``.
NOW_S = calendar.timegm((2026, 1, 15, 0, 0, 0))
HOUR_S = 3600
DAY_S = 86400
MIN_FILE_AGE_S = 60
CLEANER_AGE_DAYS = 7

FILES_PER_PARTITION = 6
PARTITIONS = 2
FILE_SPAN_H = 2
# Base data starts so that exactly the first file of every partition is
# older than the cleaner age at NOW_S.
BASE_START_S = NOW_S - CLEANER_AGE_DAYS * DAY_S - 3 * FILE_SPAN_H * HOUR_S // 2
DUP_SHARE = 0.03
CODECS = ("null", "deflate", "snappy")

# (raw projectId, raw userId); sanitized like functions/paths.sanitize_id.
USERS = [
    ("radar-test", "u-0001"),
    ("radar-test", "u-0002"),
    ("radar-pilot", "p_0001"),
    ("radar-pilot", "p_0002"),
    (None, "u-orphan"),
    ("radar.test!", "Usr#7 (x)"),
]

TOPIC = "questionnaire_app_event"
# ``key.start`` (epoch ms) is set for app-scheduled sessions only, and
# ``value.time`` only by newer app versions: per record, event time comes
# from value.time (s), else key.start (ms), else the ISO value.dateTime.
_KEY = {
    "type": "record",
    "name": "SessionKey",
    "namespace": "org.radarcns.kafka",
    "fields": [
        {"name": "projectId", "type": ["null", "string"], "default": None},
        {"name": "userId", "type": "string"},
        {"name": "sourceId", "type": "string"},
        {"name": "start", "type": ["null", "long"], "default": None},
    ],
}
_FIELDS = [
    {"name": "time", "type": ["null", "double"], "default": None},
    {"name": "dateTime", "type": "string"},
    {
        "name": "eventType",
        "type": {
            "type": "enum",
            "name": "QuestionnaireEventType",
            "symbols": ["STARTED", "COMPLETED", "CLOSED"],
        },
    },
    {"name": "questionnaireName", "type": "string"},
    {"name": "score", "type": "double"},
    {"name": "tags", "type": {"type": "map", "values": "string"}},
    {"name": "itemScores", "type": {"type": "array", "items": "double"}},
]
_VALUE_V1 = {
    "type": "record",
    "name": "QuestionnaireEvent",
    "namespace": "org.radarcns.active",
    "fields": _FIELDS,
}
# Mid-stream evolution: a nullable field appended to the value record.
_VALUE_V2 = {**_VALUE_V1, "fields": _FIELDS + [{"name": "note", "type": ["null", "string"], "default": None}]}
# Files at or past this index in a partition carry the evolved schema.
EVOLVE_AT_FILE = 3


def _schema(evolved: bool) -> dict:
    return {
        "type": "record",
        "name": "KafkaRecord",
        "namespace": "org.radarcns.bench",
        "fields": [
            {"name": "key", "type": _KEY},
            {"name": "value", "type": _VALUE_V2 if evolved else _VALUE_V1},
        ],
    }


# ---------------------------------------------------------------------------
# Avro binary encoding (public spec).
# ---------------------------------------------------------------------------


def _zz(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63)
    out = bytearray()
    while True:
        b7 = v & 0x7F
        v >>= 7
        if v:
            out.append(b7 | 0x80)
        else:
            out.append(b7)
            return bytes(out)


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zz(len(b)) + b


def _encode(value, schema) -> bytes:
    if isinstance(schema, str):
        if schema == "null":
            return b""
        if schema in ("int", "long"):
            return _zz(value)
        if schema == "double":
            return struct.pack("<d", value)
        if schema == "string":
            return _enc_str(value)
        raise ValueError(schema)
    if isinstance(schema, list):  # ["null", T] unions only
        if value is None:
            return _zz(schema.index("null"))
        idx = next(i for i, s in enumerate(schema) if s != "null")
        return _zz(idx) + _encode(value, schema[idx])
    t = schema["type"]
    if t == "record":
        return b"".join(_encode(value.get(f["name"]), f["type"]) for f in schema["fields"])
    if t == "enum":
        return _zz(schema["symbols"].index(value))
    if t == "map":
        if not value:
            return _zz(0)
        body = b"".join(_enc_str(k) + _encode(v, schema["values"]) for k, v in value.items())
        return _zz(len(value)) + body + _zz(0)
    if t == "array":
        if not value:
            return _zz(0)
        return _zz(len(value)) + b"".join(_encode(v, schema["items"]) for v in value) + _zz(0)
    raise ValueError(t)


def _container(schema: dict, records: list[dict], codec: str, sync: bytes, snappy) -> bytes:
    """Object-container bytes: header, then blocks of up to 200 records."""
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    out = bytearray(b"Obj\x01" + _zz(len(meta)))
    for k, v in meta.items():
        out += _enc_str(k) + _zz(len(v)) + v
    out += _zz(0) + sync
    for i in range(0, len(records), 200):
        chunk = records[i : i + 200]
        raw = b"".join(_encode(r, schema) for r in chunk)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(raw) + co.flush()
        elif codec == "snappy":
            data = snappy(raw) + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF)
        else:
            data = raw
        out += _zz(len(chunk)) + _zz(len(data)) + data + sync
    return bytes(out)


# ---------------------------------------------------------------------------
# Kafka-Connect tree + expected output.
# ---------------------------------------------------------------------------


def sanitize(raw: str | None, default: str) -> str:
    """Python twin of functions/paths.sanitize_id."""
    import re

    cleaned = re.sub(r"[^a-zA-Z0-9_-]+", "", raw or "")
    return cleaned or default


def time_bin(t_s: float) -> str:
    return datetime.fromtimestamp(t_s, tz=timezone.utc).strftime("%Y%m%d_%H00")


@dataclass
class SourceFileSpec:
    topic: str
    partition: int
    offset_from: int
    records: list[dict]
    codec: str
    evolved: bool
    mtime: float
    landing: str  # "base" | "new" | "young"

    @property
    def offset_to(self) -> int:
        return self.offset_from + len(self.records) - 1

    @property
    def name(self) -> str:
        return f"{self.topic}+{self.partition}+{self.offset_from:010d}+{self.offset_to:010d}.avro"

    @property
    def relpath(self) -> str:
        return f"{self.topic}/partition={self.partition}/{self.name}"


@dataclass
class KafkaTree:
    """Every generated file with its landing group; the expectations below
    are pure functions of it."""

    files: list[SourceFileSpec] = field(default_factory=list)

    def landed(self, *landings: str) -> list[SourceFileSpec]:
        return [f for f in self.files if f.landing in landings]

    def n_records(self, *landings: str) -> int:
        return sum(len(f.records) for f in self.landed(*landings))

    def expected_rows(self, landing: str) -> Counter:
        """Multiset of output rows one restructure batch over ``landing``
        writes: keep-last dedup collapses identical payloads."""
        return Counter({expected_row(rec) for f in self.landed(landing) for rec in f.records})

    def expected_intervals(self, *landings: str) -> dict[tuple[str, int], list[tuple[int, int]]]:
        """Committed offset state after processing ``landings``: adjacent
        file ranges merged per (topic, partition)."""
        by_tp: dict[tuple[str, int], list[tuple[int, int]]] = {}
        for f in sorted(self.landed(*landings), key=lambda f: (f.topic, f.partition, f.offset_from)):
            ivs = by_tp.setdefault((f.topic, f.partition), [])
            if ivs and f.offset_from <= ivs[-1][1] + 1:
                ivs[-1] = (ivs[-1][0], max(ivs[-1][1], f.offset_to))
            else:
                ivs.append((f.offset_from, f.offset_to))
        return by_tp

    def cleaner_deletes(self) -> list[str]:
        """Relative paths the cleaner must delete at NOW_S: committed,
        older than the cleaner age, and followed by a committed offset."""
        age = CLEANER_AGE_DAYS * DAY_S
        return sorted(
            f.relpath for f in self.landed("base") if NOW_S - f.mtime >= age
        )


def _event_time_s(rec: dict) -> float:
    if rec["value"].get("time") is not None:
        return rec["value"]["time"]
    if rec["key"].get("start") is not None:
        return rec["key"]["start"] / 1000.0
    dt = datetime.strptime(rec["value"]["dateTime"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _fmt_double(v: float | None) -> str:
    return "" if v is None else repr(float(v))


def expected_row(rec: dict) -> tuple:
    """(project, user, topic, bin, payload) as the output tree must hold
    it; payload is the flattened CSV record with doubles canonicalized."""
    key, value = rec["key"], rec["value"]
    start = key.get("start")
    cells = [
        ("key.projectId", key.get("projectId") or ""),
        ("key.userId", key["userId"]),
        ("key.sourceId", key["sourceId"]),
        ("key.start", "" if start is None else str(start)),
        ("value.time", _fmt_double(value.get("time"))),
        ("value.dateTime", value["dateTime"]),
        ("value.eventType", value["eventType"]),
        ("value.questionnaireName", value["questionnaireName"]),
        ("value.score", _fmt_double(value["score"])),
        ("value.note", value.get("note") or ""),
    ]
    cells += [(f"value.tags.{k}", v) for k, v in sorted(value["tags"].items())]
    cells += [(f"value.itemScores.{i}", _fmt_double(v)) for i, v in enumerate(value["itemScores"])]
    return (
        sanitize(key.get("projectId"), "unknown-project"),
        sanitize(key["userId"], "unknown-user"),
        TOPIC,
        time_bin(_event_time_s(rec)),
        tuple(sorted(cells)),
    )


def canonical_cell(name: str, text: str) -> str:
    """Output-side twin of the payload canonicalization: numeric CSV cells
    of double-typed columns re-rendered with Python's shortest repr."""
    if text and (name in ("value.time", "value.score") or name.startswith("value.itemScores.")):
        return repr(float(text))
    return text


def _record(rng: random.Random, user: tuple, t_ms: int, evolved: bool) -> dict:
    project, uid = user
    ts = datetime.fromtimestamp(t_ms / 1000.0, tz=timezone.utc)
    value = {
        "time": t_ms / 1000.0 if rng.random() < 0.4 else None,
        "dateTime": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t_ms % 1000:03d}Z",
        "eventType": rng.choice(["STARTED", "COMPLETED", "CLOSED"]),
        "questionnaireName": rng.choice(["PHQ8", "GAD7", "RSES", "ESM"]),
        "score": round(rng.uniform(0.0, 27.0), 4),
        "tags": {"app": rng.choice(["aRMT", "pRMT"]), "lang": rng.choice(["en", "nl", "it"])},
        "itemScores": [float(rng.randint(0, 3)) for _ in range(4)],
    }
    if evolved:
        value["note"] = rng.choice([None, None, "late", "skipped item 3"])
    key = {
        "projectId": project,
        "userId": uid,
        "sourceId": f"src-{sanitize(uid, 'x')[-4:]}",
        "start": t_ms if rng.random() < 0.5 else None,
    }
    return {"key": key, "value": value}


def _file_records(rng: random.Random, n: int, t0_s: float, span_s: float, evolved: bool) -> list[dict]:
    """``n`` records in time order over [t0, t0 + span), then ~3%
    redelivered copies of earlier records of the same file spliced in
    after their original (a consumer re-reading after a rebalance)."""
    times = sorted(int((t0_s + rng.random() * span_s) * 1000) for _ in range(n))
    recs = [_record(rng, rng.choice(USERS), t, evolved) for t in times]
    for _ in range(int(n * DUP_SHARE)):
        i = rng.randrange(len(recs))
        j = rng.randint(i + 1, min(len(recs), i + 50))
        recs.insert(j, recs[i])
    return recs


def build_kafka_tree(seed: int, records_per_file: int) -> KafkaTree:
    """Base landing (2 partitions x 6 files), a "new" landing of two files
    (one continuation, one new partition; their first half overlaps bins
    that already have output) and two "young" files still inside the
    minimum file age."""
    rng = random.Random(seed)
    tree = KafkaTree()
    next_offset: dict[int, int] = {}

    def add(partition, index, t0, span, landing, mtime, n=records_per_file):
        evolved = landing != "base" or index >= EVOLVE_AT_FILE
        recs = _file_records(rng, n, t0, span, evolved)
        codec = CODECS[len(tree.files) % len(CODECS)]
        f = SourceFileSpec(TOPIC, partition, next_offset.get(partition, 0), recs, codec, evolved, mtime, landing)
        next_offset[partition] = f.offset_to + 1
        tree.files.append(f)

    span = FILE_SPAN_H * HOUR_S
    for p in range(PARTITIONS):
        for i in range(FILES_PER_PARTITION):
            t0 = BASE_START_S + i * span
            add(p, i, t0, span, "base", t0 + span + 600)
    base_end = BASE_START_S + FILES_PER_PARTITION * span
    new_mtime = NOW_S - 30 * 60
    add(0, FILES_PER_PARTITION, base_end - span / 2, span, "new", new_mtime)
    add(PARTITIONS, 0, base_end - span / 2, span, "new", new_mtime)
    # Still being written: must be deferred by the minimum file age.
    for p in range(PARTITIONS):
        add(p, FILES_PER_PARTITION + 1, base_end + span / 2, span / 4, "young", NOW_S - 10, max(records_per_file // 4, 1))
    return tree


def write_kafka_files(tree: KafkaTree, root: str, landing: str, snappy, seed: int) -> int:
    """Write one landing's containers under ``root`` with their mtimes;
    returns bytes written."""
    rng = random.Random(seed * 7919 + 17)
    total = 0
    for f in tree.landed(landing):
        path = os.path.join(root, f.relpath)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = _container(_schema(f.evolved), f.records, f.codec, rng.randbytes(16), snappy)
        with open(path, "wb") as fh:
            fh.write(data)
        os.utime(path, (f.mtime, f.mtime))
        total += len(data)
    return total


# ---------------------------------------------------------------------------
# Document / embedding corpus.
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def build_documents(seed: int, n_docs: int):
    """``doc_id, text, lang, source, n_chars`` rows: random-vocabulary texts
    (8-95 words), ~4% near-duplicates of an earlier document (1-3 words
    substituted) and ~0.2% exact copies."""
    import pandas as pd

    rng = random.Random(seed * 31 + 5)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.04:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            texts.append(" ".join(words))
        elif i > 10 and r < 0.042:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(8, 95))))
    return pd.DataFrame(
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )


def build_embeddings(seed: int, n_vecs: int, dim: int = 64, n_clusters: int = 10):
    """Unit vectors around ``n_clusters`` random centres: ``vec_id,
    embedding, label``."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed * 13 + 3)
    centres = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, size=n_vecs)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": [v.astype("float32").tolist() for v in vecs],
            "label": labels.astype("int32"),
        }
    )
