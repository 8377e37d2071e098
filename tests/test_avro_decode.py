"""Differential decode tests: ``read_avro`` (Spark's JVM Avro source)
against the records ``tests/avro_tree.py`` encoded, so no decoder acts as
the oracle.  The tree covers every block codec (deflate, bzip2 and xz
from the stdlib, snappy through the JVM's ``org.xerial.snappy``), a field
added mid-stream with a default, a field only older files carry, enum,
bytes, fixed (also by reference), map, array, a multi-branch union and a
``timestamp-millis`` long.  The schema evolves the way Avro resolution
allows: an enum gains a symbol, a union gains a branch, an int field
becomes a long and another a double.
"""

import base64
import os

import pytest
from pyspark.sql import Row

from restructure_hdfs_topic_spark.sources.avro import AVRO_SOURCE, read_avro
from tests.avro_tree import KEY_SCHEMA, write_topic_file

TOPIC = "decode_topic"
KINDS = ["START", "STOP", "PAUSE"]
NEW_KINDS = KINDS + ["RESUME"]  # the newer files' enum gains a symbol
BLOCK = 9  # records per block: every file has several sync markers
SPLIT_FILE_RECORDS = 150


def _value_schema(new: bool) -> dict:
    fields = [
        {"name": "time", "type": "double"},
        {"name": "kind", "type": {"type": "enum", "name": "Kind", "symbols": NEW_KINDS if new else KINDS}},
        {"name": "payload", "type": "bytes"},
        {"name": "digest", "type": {"type": "fixed", "name": "Digest", "size": 4}},
        {"name": "prev", "type": "Digest"},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "samples", "type": {"type": "array", "items": "int"}},
        # The union gains its long branch, in a new position.
        {"name": "choice", "type": ["null", "long", "string"] if new else ["null", "string"]},
        {"name": "recordedAt", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        # Promoted: int -> long and int -> double.
        {"name": "count", "type": "long" if new else "int"},
        {"name": "ratio", "type": ["null", "double" if new else "int"]},
    ]
    if new:
        fields.append({"name": "note", "type": ["null", "string"], "default": None})
    else:
        fields.append({"name": "legacy", "type": "string"})
    return {"type": "record", "name": "Event", "namespace": "org.test", "fields": fields}


def _schema(new: bool) -> dict:
    return {
        "type": "record",
        "name": "KafkaRecord",
        "fields": [{"name": "key", "type": KEY_SCHEMA}, {"name": "value", "type": _value_schema(new)}],
    }


def _record(i: int, new: bool) -> dict:
    value = {
        "time": 1_600_000_000.25 + 60 * i,
        "kind": NEW_KINDS[i % 4] if new else KINDS[i % 3],
        "payload": bytes([i % 256, 255 - i % 256, 0]) * (i % 3),  # includes b""
        "digest": i.to_bytes(4, "big"),
        "prev": (i + 1).to_bytes(4, "big"),
        "attrs": {f"a{i % 4}": i, "b": -i} if i % 5 else {},
        "samples": list(range(i % 4)),
        "choice": [None, f"s{i}", i * 1000][i % 3] if new else [None, f"s{i}"][i % 2],
        "recordedAt": 1_600_000_000_000 + i,
        "count": i * 10_000_000_000 if new else i,
        "ratio": None if i % 4 == 0 else (i + 0.5 if new else i),
    }
    if new:
        value["note"] = None if i % 2 else f"n{i}"
    else:
        value["legacy"] = f"old{i}"
    project = None if i % 7 == 0 else "p"
    return {"key": {"projectId": project, "userId": f"u{i % 3}", "sourceId": "s1"}, "value": value}


def _expected(rec: dict) -> dict:
    """The row ``read_avro`` must return for ``rec``: a multi-branch union
    is a member struct (the branches in first-seen order: string, long), a
    field the file lacks reads as null, and a promoted int is a double."""
    value = dict(rec["value"])
    value.setdefault("note", None)
    value.setdefault("legacy", None)
    c = value["choice"]
    value["choice"] = None if c is None else {"member0": c if isinstance(c, str) else None,
                                              "member1": c if isinstance(c, int) else None}
    value["ratio"] = None if value["ratio"] is None else float(value["ratio"])
    return {"key": rec["key"], "value": value}


def _plain(x):
    if isinstance(x, Row):
        return {k: _plain(v) for k, v in x.asDict().items()}
    if isinstance(x, dict):
        return {k: _plain(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_plain(v) for v in x]
    if isinstance(x, bytearray):
        return bytes(x)
    return x


@pytest.fixture(scope="module")
def tree(spark, tmp_path_factory):
    """Partition 0: five files, one per codec, the schema evolving at the
    third.  Partition 1: one larger null-codec file (split by the split
    test).  Returns (topic dir, paths, {(filename, offset): expected row})."""
    jvm = spark._jvm

    def snappy(raw: bytes) -> bytes:
        return bytes(jvm.org.xerial.snappy.Snappy.compress(bytearray(raw)))

    root = str(tmp_path_factory.mktemp("decode"))
    expected, paths, i = {}, [], 0
    layout = [(0, codec, 23) for codec in ("null", "deflate", "bzip2", "xz", "snappy")]
    layout.append((1, "null", SPLIT_FILE_RECORDS))
    offsets = {0: 0, 1: 1000}
    for n_file, (partition, codec, n) in enumerate(layout):
        new = partition == 0 and n_file >= 2
        recs = [_record(i + k, new) for k in range(n)]
        i += n
        path = write_topic_file(
            root, TOPIC, partition, offsets[partition], recs,
            mtime_s=1_700_000_000 + n_file, schema=_schema(new),
            codec=codec, block_records=BLOCK, snappy=snappy,
        )
        paths.append(path)
        name = os.path.basename(path)
        for k, rec in enumerate(recs):
            expected[(name, offsets[partition] + k)] = (partition, _expected(rec))
        offsets[partition] += n
    return os.path.join(root, TOPIC), paths, expected


def _check_rows(rows, paths, expected):
    mtimes = {os.path.basename(p): int(os.stat(p).st_mtime) for p in paths}
    got = {}
    for r in rows:
        assert r["topic"] == TOPIC
        assert int(r["mtime"].timestamp()) == mtimes[r["filename"]]
        got[(r["filename"], r["offset"])] = (r["partition"], {"key": _plain(r["key"]), "value": _plain(r["value"])})
    assert len(rows) == len(got)
    assert got == expected


def test_read_avro_equals_encoded_records(spark, tree):
    """Every record, in every codec and schema version, with its exact
    offset: the newer enum symbol, the gained union branch and the promoted
    values included, whichever file came first; Spark types as
    ``avro_type_to_spark`` gives them (a ``timestamp-millis`` long stays a
    long); bytes and fixed flatten to unpadded base64 CSV cells."""
    from restructure_hdfs_topic_spark.operators.flatten import flatten_for_csv

    _topic_dir, paths, expected = tree
    df = read_avro(spark, paths)
    assert df.columns == ["key", "value", "filename", "topic", "partition", "offset", "mtime"]
    assert df.schema["value"].dataType.simpleString() == (
        "struct<time:double,kind:string,payload:binary,digest:binary,prev:binary,"
        "attrs:map<string,bigint>,samples:array<int>,choice:struct<member0:string,member1:bigint>,"
        "recordedAt:bigint,count:bigint,ratio:double,legacy:string,note:string>"
    )
    rows = df.collect()
    _check_rows(rows, paths, expected)
    assert "RESUME" in {r["value"]["kind"] for r in rows}
    # The newest files first: the same values, the union's branches in
    # the newer schema's order.
    newest_first = read_avro(spark, paths[2:5] + paths[:2] + paths[5:])
    choice = newest_first.schema["value"].dataType["choice"].dataType
    assert choice.simpleString() == "struct<member0:bigint,member1:string>"
    got = {(r["filename"], r["offset"]): _plain(r["value"]) for r in newest_first.collect()}
    assert len(got) == len(expected)
    for key, (_partition, want) in expected.items():
        value = dict(got[key])
        c = value.pop("choice")
        assert (None if c is None else {"member0": c["member1"], "member1": c["member0"]}) == want["value"]["choice"]
        assert value == {k: v for k, v in want["value"].items() if k != "choice"}

    cells = flatten_for_csv(df.select("value.payload", "value.digest", "offset")).collect()
    want = {
        off: (rec["value"]["payload"], rec["value"]["digest"]) for (_n, off), (_p, rec) in expected.items()
    }
    b64 = lambda b: base64.b64encode(b).decode().rstrip("=")  # noqa: E731
    for c in cells:
        payload, digest = want[int(c["offset"])]
        assert (c["payload"], c["digest"]) == (b64(payload), b64(digest))


def test_read_avro_offsets_exact_on_split_files(spark, tree):
    """With a tiny ``spark.sql.files.maxPartitionBytes`` Spark splits each
    file across several read tasks at sync markers; offsets stay
    ``offset_from + index-in-file``."""
    _topic_dir, paths, expected = tree
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        splits = (
            spark.read.format(AVRO_SOURCE).load(paths[-1])
            .select("_metadata.file_block_start").distinct().count()
        )
        rows = read_avro(spark, paths).collect()
    finally:
        spark.conf.set(key, before)
    assert splits > 3
    _check_rows(rows, paths, expected)
