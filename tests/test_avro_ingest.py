"""Avro ingestion tests (SURVEY O1/O2/O3) against the reference's OWN
integration fixtures (src/integrationTest/resources/*/partition=*/*.avro)
and the golden output pinned in RestructureS3IntegrationTest.kt:
- exact record counts and decoded values (incl. the snappy-coded files);
- filename → (topic, partition, offset range) parsing;
- per-record offset assignment at the source;
- full end-to-end restructure: expected project/user/topic/bin layout and
  the EXACT golden CSV rows for 20200128_1300;
- idempotent rerun (exactly-once).
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.config import PathConfig, RestructureConfig, WorkerConfig
from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job
from restructure_hdfs_topic_spark.sources.avro import (
    AvroContainer,
    read_avro,
    walk_topics,
)
from tests.avro_tree import build_container as _build_container

FIXTURES = "/root/reference/src/integrationTest/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures unavailable"
)


def test_container_decode_counts_and_values():
    # android file: null codec, 1000 records; status files: snappy, 3 each.
    by_name = {
        os.path.basename(p): p
        for p in glob.glob(f"{FIXTURES}/*/partition=*/*.avro")
    }
    acc = AvroContainer.parse(
        open(by_name["android_phone_acceleration+0+0003018784.avro"], "rb").read()
    )
    recs = list(acc.records())
    assert acc.codec == "null" and len(recs) == 1000
    assert recs[0]["key"]["projectId"] == "radar-test-root"
    status = AvroContainer.parse(
        open(by_name["application_server_status+1+0000000018+0000000020.avro"], "rb").read()
    )
    srecs = list(status.records())
    assert status.codec == "snappy" and len(srecs) == 3
    assert srecs[0]["value"] == {
        "time": 1580219820.03,
        "serverStatus": "CONNECTED",
        "ipAddress": None,
    }


def test_walk_topics_and_filename_parse():
    topics = walk_topics(FIXTURES)
    assert set(topics) == {"application_server_status", "android_phone_acceleration"}
    status_files = topics["application_server_status"]
    # The +21 file has no `+to` in its name: walk resolves the true end
    # offset (21+3 records-1 = 23) from the container block headers — the
    # analogue of the reference's S3 endOffset tag (S3SourceStorage.kt:40-59).
    assert [(f.partition, f.offset_from, f.offset_to) for f in status_files] == [
        (1, 18, 20),
        (1, 21, 23),
    ]


def test_single_offset_filename_commits_true_range(spark, tmp_path):
    """O3 tail: processing the single-offset fixture must commit [21, 23]
    (record-count end offset), so the cleaner's `offset_to + 1 <= hi` check
    can ever succeed and a partially-committed prefix is not mistaken for
    full coverage."""
    import shutil

    from restructure_hdfs_topic_spark.config import RestructureConfig, WorkerConfig
    from restructure_hdfs_topic_spark.operators.offsets import read_offsets
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job

    src = tmp_path / "in" / "application_server_status" / "partition=1"
    src.mkdir(parents=True)
    shutil.copy(
        f"{FIXTURES}/application_server_status/partition=1/"
        "application_server_status+1+0000000021.avro",
        src,
    )
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    result = run_avro_restructure_job(spark, str(tmp_path / "in"), cfg, mode="python")
    assert result["records_written"] == 3
    state = read_offsets(spark, cfg.state_dir).collect()
    assert [(r["topic"], r["partition"], r["offset_from"], r["offset_to"]) for r in state] == [
        ("application_server_status", 1, 21, 23)
    ]


def test_read_avro_distributed_offsets(spark):
    topics = walk_topics(FIXTURES)
    df = read_avro(spark, [f.path for f in topics["application_server_status"]])
    rows = df.select("topic", "partition", "offset", "key.userId").orderBy("offset").collect()
    # Offsets: file 18..20 has 3 records → 18,19,20; file 21 has 3 records
    # → 21,22,23 (single-offset filename still streams all its records).
    assert [r["offset"] for r in rows] == [18, 19, 20, 21, 22, 23]
    assert all(r["topic"] == "application_server_status" for r in rows)
    assert all(r["partition"] == 1 for r in rows)


def test_avro_restructure_end_to_end_golden(spark, tmp_path):
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    result = run_avro_restructure_job(spark, FIXTURES, cfg, mode="python")
    assert result["records_written"] == 1006
    # Golden layout (RestructureS3IntegrationTest.kt): two participants,
    # bins 20200128_1300 + 20200128_1400 for server status, 20200528_1000
    # for acceleration.
    # Topics have different CSV headers — read each topic's subtree
    # separately (basePath keeps the partition columns).
    def read_topic_csv(topic):
        return (
            spark.read.option("header", "true")
            .option("basePath", cfg.target_dir)
            .csv(f"{cfg.target_dir}/projectId=*/userId=*/topic={topic}")
        )

    status_all = read_topic_csv("application_server_status")
    accel = read_topic_csv("android_phone_acceleration")
    status = status_all.filter(F.col("bin") == "20200128_1300")
    rows = status.collect()
    assert len(rows) == 2
    for r in rows:
        assert r["key.projectId"] == "STAGING_PROJECT"
        assert r["key.userId"] == "1543bc93-3c17-4381-89a5-c5d6272b827c"
        assert r["key.sourceId"] == "99caf236-bbe6-4eed-9c63-fba77349821d"
        # Golden CSV renders the double in Java toString form.
        assert r["value.time"] == "1.58021982003E9"
        assert r["value.serverStatus"] == "CONNECTED"
        assert r["value.ipAddress"] is None  # written as "" (null→empty)
    bins = {
        (r["topic"], r["bin"])
        for df in (status_all, accel)
        for r in df.select("topic", "bin").distinct().collect()
    }
    assert bins == {
        ("application_server_status", "20200128_1300"),
        ("application_server_status", "20200128_1400"),
        ("android_phone_acceleration", "20200528_1000"),
    }
    # Projects/users match the golden paths.
    projs = {
        r["projectId"]
        for df in (status_all, accel)
        for r in df.select("projectId").distinct().collect()
    }
    assert projs == {"STAGING_PROJECT", "radar-test-root"}
    # Schema sidecars written once per topic.
    assert os.path.exists(os.path.join(cfg.target_dir, "schema-application_server_status.json"))
    assert os.path.exists(os.path.join(cfg.target_dir, "schema-android_phone_acceleration.json"))
    # Idempotent rerun: nothing new written.
    result2 = run_avro_restructure_job(spark, FIXTURES, cfg, mode="python")
    assert result2["records_written"] == 0
    assert (
        read_topic_csv("application_server_status").count()
        + read_topic_csv("android_phone_acceleration").count()
        == 1006
    )


def test_avro_restructure_gzip_and_dedup(spark, tmp_path):
    """CSV sink parity (VERDICT #10): gzip-compressed partitioned CSV write
    plus keep-last dedup on the configured key, over the real Avro input."""
    import glob as _glob

    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        compression="gzip",
        dedup_enable=True,
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    run_avro_restructure_job(spark, FIXTURES, cfg, mode="python")
    gz = _glob.glob(f"{cfg.target_dir}/**/*.csv.gz", recursive=True)
    assert gz, "expected gzip csv part files"
    status = (
        spark.read.option("header", "true")
        .option("basePath", cfg.target_dir)
        .csv(f"{cfg.target_dir}/projectId=*/userId=*/topic=application_server_status")
    )
    rows = status.collect()
    # The 6 status records collapse under full-row dedup: the two files hold
    # a repeated (time, serverStatus) payload — keep-last retains one row
    # per distinct flattened record.
    texts = {(r["value.time"], r["value.serverStatus"], r["bin"]) for r in rows}
    assert len(rows) == len(texts)


def test_avro_cleaner_delete_and_rollback(spark, tmp_path):
    """O20/O21 over the real pipeline: the cleaner re-reads source Avro,
    verifies event times against the written CSV output (re-read with the
    positional O21 parse), DELETES fully-extracted committed files, rolls
    back partially-extracted ones, and never touches a partition's
    max-offset file (+1 trick)."""
    import shutil

    from restructure_hdfs_topic_spark.config import CleanerConfig
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_cleaner_job

    src = str(tmp_path / "in")
    shutil.copytree(FIXTURES, src)
    cfg = RestructureConfig(
        source_dir=src,
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        cleaner=CleanerConfig(enable=True, age_days=0),
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    run_avro_restructure_job(spark, src, cfg, mode="python")

    # Everything extracted: the status file [18,20] is committed-with-+1
    # (state merged to [18,21]) and fully extracted → deleted; the
    # single-offset status file and the acceleration file hold their
    # partitions' max offsets → kept.
    result = run_avro_cleaner_job(spark, src, cfg)
    deleted = [p.rsplit("/", 1)[-1] for p in result["deleted"]]
    assert deleted == ["application_server_status+1+0000000018+0000000020.avro"]
    assert result["rolled_back"] == []
    remaining = [f for fs in walk_topics(src).values() for f in fs]
    assert len(remaining) == 2

    # Partial extraction: restore the deleted file, wipe one status bin
    # from the target → cleaner rolls the file's range back instead of
    # deleting, and the next restructure reprocesses exactly that file.
    shutil.copy(
        os.path.join(
            FIXTURES,
            "application_server_status/partition=1/application_server_status+1+0000000018+0000000020.avro",
        ),
        os.path.join(src, "application_server_status/partition=1/"),
    )
    for root, dirs, files in os.walk(cfg.target_dir):
        if root.endswith("bin=20200128_1300"):
            shutil.rmtree(root)
    result2 = run_avro_cleaner_job(spark, src, cfg)
    rolled = [p.rsplit("/", 1)[-1] for p in result2["rolled_back"]]
    assert rolled == ["application_server_status+1+0000000018+0000000020.avro"]
    r = run_avro_restructure_job(spark, src, cfg, mode="python")
    assert r["records_written"] == 3


def test_zip_compression_output(spark, tmp_path):
    """O23 zip: single-entry deflate .zip per output file, readable back to
    the identical CSV bytes (compression/ZipCompression.kt:16-29)."""
    import glob as _glob

    from restructure_hdfs_topic_spark.compression import read_zip_entry

    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        compression="zip",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    run_avro_restructure_job(spark, FIXTURES, cfg, mode="python")
    zips = _glob.glob(f"{cfg.target_dir}/**/*.csv.zip", recursive=True)
    plains = _glob.glob(f"{cfg.target_dir}/**/*.csv", recursive=True)
    assert zips and not plains
    status_zip = [p for p in zips if "application_server_status" in p and "20200128_1300" in p]
    text = read_zip_entry(status_zip[0]).decode()
    header = text.splitlines()[0]
    assert header == "key.projectId,key.userId,key.sourceId,value.time,value.serverStatus,value.ipAddress"
    assert "1.58021982003E9,CONNECTED," in text


def test_service_loop_schedules_jobs(spark, tmp_path):
    """O27: the service loop runs restructure each interval and the cleaner
    on its own (longer) interval, with injected clock/sleep."""
    import shutil

    from restructure_hdfs_topic_spark.config import CleanerConfig, ServiceConfig
    from restructure_hdfs_topic_spark.streaming.service import run_service

    src = str(tmp_path / "in")
    shutil.copytree(FIXTURES, src)
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        cleaner=CleanerConfig(enable=True, interval_s=500, age_days=0),
        service=ServiceConfig(enable=True, interval_s=300),
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    import time as _time

    t = {"now": _time.time()}
    sleeps = []

    def fake_sleep(s):
        sleeps.append(s)
        t["now"] += s

    results = run_service(
        spark, src, cfg, max_iterations=3, sleep_fn=fake_sleep, clock=lambda: t["now"]
    )
    jobs = [r["job"] for r in results]
    # 3 restructure runs; cleaner fires after the 500s threshold passes
    # (i.e. after the second 300s sleep), exactly once here.
    assert jobs.count("restructure") == 3
    assert jobs.count("clean") == 1
    assert sleeps == [300, 300]
    # First run ingests everything; later runs are no-ops; the cleaner
    # deleted the fully-extracted committed file.
    assert results[0]["records_written"] == 1006
    assert all(r["records_written"] == 0 for r in results if r["job"] == "restructure" and r is not results[0])
    cleans = [r for r in results if r["job"] == "clean"]
    assert [p.rsplit("/", 1)[-1] for p in cleans[0]["deleted"]] == [
        "application_server_status+1+0000000018+0000000020.avro"
    ]


def test_avro_deflate_codec_decode():
    """Deflate-coded container built from the public Avro 1.x spec (magic,
    metadata map, sync-framed raw-deflate block) decodes to the exact
    datums — the codec path the reference fixtures (null/snappy) miss."""
    import json
    import zlib

    def zz(n: int) -> bytes:  # zig-zag varint (Avro long)
        n = (n << 1) ^ (n >> 63)
        out = b""
        while True:
            b7 = n & 0x7F
            n >>= 7
            if n:
                out += bytes([b7 | 0x80])
            else:
                out += bytes([b7])
                return out

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    datums = b""
    for a, s in [(1, "x"), (-3, "hello")]:
        datums += zz(a) + zz(len(s.encode())) + s.encode()
    comp = zlib.compressobj(7, zlib.DEFLATED, -15)
    block = comp.compress(datums) + comp.flush()
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"deflate"}
    hdr = b"Obj\x01" + zz(len(meta))
    for k, v in meta.items():
        hdr += zz(len(k.encode())) + k.encode() + zz(len(v)) + v
    hdr += zz(0)
    sync = bytes(range(16))
    data = hdr + sync + zz(2) + zz(len(block)) + block + sync
    c = AvroContainer.parse(data)
    assert c.codec == "deflate"
    assert list(c.records()) == [{"a": 1, "b": "x"}, {"a": -3, "b": "hello"}]


def test_avro_bzip2_and_xz_codec_decode():
    """bzip2 and xz coded blocks (Avro spec codecs) decode via stdlib."""
    import bz2
    import json
    import lzma

    def zz(n: int) -> bytes:
        n = (n << 1) ^ (n >> 63)
        out = b""
        while True:
            b7 = n & 0x7F
            n >>= 7
            if n:
                out += bytes([b7 | 0x80])
            else:
                out += bytes([b7])
                return out

    schema = {"type": "record", "name": "r", "fields": [{"name": "a", "type": "long"}]}
    datums = zz(7) + zz(42)
    for codec, compress in [("bzip2", bz2.compress), ("xz", lzma.compress)]:
        block = compress(datums)
        meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
        hdr = b"Obj\x01" + zz(len(meta))
        for k, v in meta.items():
            hdr += zz(len(k.encode())) + k.encode() + zz(len(v)) + v
        hdr += zz(0)
        sync = bytes(range(16))
        data = hdr + sync + zz(2) + zz(len(block)) + block + sync
        c = AvroContainer.parse(data)
        assert c.codec == codec
        assert list(c.records()) == [{"a": 7}, {"a": 42}]


def test_avro_cleaner_over_zip_output(spark, tmp_path):
    """O20 × O23 interaction: the cleaner must verify against .zip targets
    (decompress-on-read in executors) — same delete decision as over plain
    CSV output."""
    import shutil

    from restructure_hdfs_topic_spark.config import CleanerConfig
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_cleaner_job

    src = str(tmp_path / "in")
    shutil.copytree(FIXTURES, src)
    cfg = RestructureConfig(
        source_dir=src,
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        compression="zip",
        cleaner=CleanerConfig(enable=True, age_days=0),
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    run_avro_restructure_job(spark, src, cfg, mode="python")
    result = run_avro_cleaner_job(spark, src, cfg)
    deleted = [p.rsplit("/", 1)[-1] for p in result["deleted"]]
    assert deleted == ["application_server_status+1+0000000018+0000000020.avro"]
    assert result["rolled_back"] == []


def test_streaming_avro_restructure(spark, tmp_path):
    """M5 over the REAL input: a binaryFile stream of reference .avro
    fixtures decodes, organizes, and writes the partitioned layout; a
    second availableNow run over the same checkpoint ingests nothing new."""
    import shutil

    from restructure_hdfs_topic_spark.plans.avro_job import organize_avro_records
    from restructure_hdfs_topic_spark.streaming.service import read_avro_stream

    src = str(tmp_path / "in")
    shutil.copytree(os.path.join(FIXTURES, "application_server_status"), src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        records = read_avro_stream(spark, src, max_files_per_trigger=1)
        organized = organize_avro_records(records, "yyyyMMdd_HH'00'")
        q = (
            organized.select(
                "projectId", "userId", "topic", "bin", F.col("value.time").alias("t")
            )
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .partitionBy("projectId", "userId", "topic", "bin")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    got = spark.read.option("basePath", out).json(f"{out}/projectId=*")
    assert got.count() == 6
    bins = {r["bin"] for r in got.select("bin").distinct().collect()}
    assert bins == {"20200128_1300", "20200128_1400"}
    drain()  # checkpoint: nothing re-ingested
    assert spark.read.option("basePath", out).json(f"{out}/projectId=*").count() == 6


def test_read_avro_schema_evolution_union(spark, tmp_path):
    """SURVEY §1.3: a topic whose schema gains a field mid-stream loses
    nothing — the reader unions headers by name; older files surface null
    for the new field."""
    import os as _os

    def zz(v: int) -> bytes:
        v = (v << 1) ^ (v >> 63)
        out = b""
        while True:
            b7 = v & 0x7F
            v >>= 7
            if v:
                out += bytes([b7 | 0x80])
            else:
                out += bytes([b7])
                return out

    s1 = {"type": "record", "name": "r", "fields": [{"name": "a", "type": "long"}]}
    s2 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None},
        ],
    }
    d1 = zz(1) + zz(2)  # two records: a=1, a=2
    # two records: (a=3, b="x"), (a=4, b=null); union branch index prefixes b
    d2 = zz(3) + zz(1) + zz(1) + b"x" + zz(4) + zz(0)
    top = tmp_path / "evolve_topic" / "partition=0"
    _os.makedirs(top)
    (top / "evolve_topic+0+0000000000+0000000001.avro").write_bytes(
        _build_container(s1, d1, 2)
    )
    (top / "evolve_topic+0+0000000002+0000000003.avro").write_bytes(
        _build_container(s2, d2, 2)
    )
    df = read_avro(
        spark,
        [str(top / f) for f in sorted(_os.listdir(top))],
        mode="python",
    )
    rows = {r["offset"]: (r["a"], r["b"]) for r in df.collect()}
    assert rows == {0: (1, None), 1: (2, None), 2: (3, "x"), 3: (4, None)}


def test_cleaner_respects_exclude_from_delete(spark, tmp_path):
    """excludeFromDelete (RestructureConfig.kt per-topic override): the
    cleaner must not delete files of an excluded topic even when fully
    extracted and committed."""
    import shutil

    from restructure_hdfs_topic_spark.config import CleanerConfig, TopicConfig
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_cleaner_job

    src = str(tmp_path / "in")
    shutil.copytree(FIXTURES, src)
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        cleaner=CleanerConfig(enable=True, age_days=0),
        worker=WorkerConfig(minimum_file_age_s=0),
        topics={"application_server_status": TopicConfig(exclude_from_delete=True)},
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    run_avro_restructure_job(spark, src, cfg, mode="python")
    result = run_avro_cleaner_job(spark, src, cfg)
    assert result["deleted"] == []  # the deletable status file is protected
    assert len([f for fs in walk_topics(src).values() for f in fs]) == 3


def test_max_files_per_topic_takes_earliest(spark, tmp_path):
    """maxFilesPerTopic caps the EARLIEST pending files deterministically
    (offset order), so repeated capped runs drain a backlog in order."""
    import shutil

    src = str(tmp_path / "in")
    shutil.copytree(FIXTURES, src)
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0, max_files_per_topic=1),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    # Run 1: one file per topic → status offsets 18-20 (3 records) + the
    # 1000-record acceleration file.
    r1 = run_avro_restructure_job(spark, src, cfg, mode="python")
    assert r1["records_written"] == 1003  # earliest status file (3) + accel (1000)
    # Run 2 drains the backlog (offsets 21+).
    r2 = run_avro_restructure_job(spark, src, cfg, mode="python")
    assert r2["records_written"] == 3
    # Run 3: nothing left.
    assert run_avro_restructure_job(spark, src, cfg, mode="python")["records_written"] == 0


def test_cloud_tag_end_offset_readers(tmp_path):
    """O3 cloud-tag parity (S3SourceStorage.kt:40-66, AzureSourceStorage
    .kt:28-46): a configured tag reader resolves single-offset filenames'
    end offsets from storage metadata, with the block-header count as the
    fallback when the reader yields nothing."""
    import shutil

    from restructure_hdfs_topic_spark.sources.avro import (
        azure_metadata_end_offset_reader,
        s3_tag_end_offset_reader,
        walk_topics,
    )

    src = tmp_path / "in" / "application_server_status" / "partition=1"
    src.mkdir(parents=True)
    shutil.copy(
        f"{FIXTURES}/application_server_status/partition=1/"
        "application_server_status+1+0000000021.avro",
        src,
    )

    class StubS3:
        def __init__(self, tags):
            self.tags = tags
            self.requests = []

        def get_object_tagging(self, Bucket, Key):
            self.requests.append((Bucket, Key))
            return {"TagSet": [{"Key": k, "Value": v} for k, v in self.tags.items()]}

    # Tag present → its value wins (even over the block-header count).
    s3 = StubS3({"endOffset": "99"})
    topics = walk_topics(
        str(tmp_path / "in"), end_offset_reader=s3_tag_end_offset_reader(s3, "bkt")
    )
    (f,) = topics["application_server_status"]
    assert (f.offset_from, f.offset_to) == (21, 99)
    assert s3.requests and s3.requests[0][0] == "bkt"

    # No endOffset tag → reader returns None → block-header fallback (23).
    topics = walk_topics(
        str(tmp_path / "in"),
        end_offset_reader=s3_tag_end_offset_reader(StubS3({"other": "1"}), "bkt"),
    )
    (f,) = topics["application_server_status"]
    assert (f.offset_from, f.offset_to) == (21, 23)

    class StubBlobProps:
        metadata = {"endOffset": "55"}

    class StubBlobClient:
        def get_blob_properties(self):
            return StubBlobProps()

    class StubBlobService:
        def get_blob_client(self, container, path):
            return StubBlobClient()

    topics = walk_topics(
        str(tmp_path / "in"),
        end_offset_reader=azure_metadata_end_offset_reader(StubBlobService(), "c"),
    )
    (f,) = topics["application_server_status"]
    assert (f.offset_from, f.offset_to) == (21, 55)


def test_walk_topics_hadoop_fs_uri(spark, tmp_path):
    """O1 over a Hadoop-FS URI (file:// here; hdfs://, s3a:// share the
    FileSystem API): listing, +tmp skip, zero-length guard, and the
    single-offset block-header end-offset resolution through the remote
    opener must all match the local walk."""
    import shutil

    src = tmp_path / "in" / "application_server_status" / "partition=1"
    src.mkdir(parents=True)
    for f in (
        "application_server_status+1+0000000018+0000000020.avro",
        "application_server_status+1+0000000021.avro",
    ):
        shutil.copy(f"{FIXTURES}/application_server_status/partition=1/{f}", src)
    tmpdir = tmp_path / "in" / "application_server_status" / "+tmp"
    tmpdir.mkdir()
    shutil.copy(
        f"{FIXTURES}/application_server_status/partition=1/"
        "application_server_status+1+0000000018+0000000020.avro",
        tmpdir / "application_server_status+1+0000000099.avro",
    )
    (src / "application_server_status+1+0000000050.avro").write_bytes(b"")

    local = walk_topics(str(tmp_path / "in"))
    via_uri = walk_topics(f"file://{tmp_path}/in", spark=spark)
    key = lambda f: (f.partition, f.offset_from, f.offset_to, f.size)  # noqa: E731
    assert sorted(map(key, via_uri["application_server_status"])) == sorted(
        map(key, local["application_server_status"])
    )
    # Single-offset file resolved through the Hadoop opener: [21, 23].
    offs = {(f.offset_from, f.offset_to) for f in via_uri["application_server_status"]}
    assert (21, 23) in offs and (18, 20) in offs
    assert all(f.path.startswith("file:/") for f in via_uri["application_server_status"])


def test_restructure_job_over_hadoop_fs_uri(spark, tmp_path):
    """The whole restructure job runs against a Hadoop-FS URI input root
    (file:// here; hdfs://, s3a:// share the FileSystem API): walk, header
    read, binaryFile decode, write, commit — and the rerun is idempotent."""
    from restructure_hdfs_topic_spark.config import RestructureConfig, WorkerConfig
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job

    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    r = run_avro_restructure_job(spark, f"file://{FIXTURES}", cfg, mode="python")
    assert r["records_written"] == 1006
    r2 = run_avro_restructure_job(spark, f"file://{FIXTURES}", cfg, mode="python")
    assert r2["records_written"] == 0


def test_object_key_strips_uri_scheme_and_bucket(spark, tmp_path):
    """ADVICE r4: for URI roots the walk hands full URIs to the end-offset
    readers; the S3 key / blob name must strip the scheme + authority or
    every tag lookup fails and the fast path silently dies."""
    import shutil

    from restructure_hdfs_topic_spark.sources.avro import (
        _object_key,
        s3_tag_end_offset_reader,
        walk_topics,
    )

    assert _object_key("s3a://bkt/in/topic/partition=1/f.avro") == "in/topic/partition=1/f.avro"
    assert _object_key("abfss://cont@acct.dfs.core.windows.net/in/f.avro") == "in/f.avro"
    assert _object_key("/plain/local/f.avro") == "plain/local/f.avro"
    assert _object_key("relative/f.avro") == "relative/f.avro"

    # Integration: URI-rooted walk → the stub sees a clean relative key.
    src = tmp_path / "in" / "application_server_status" / "partition=1"
    src.mkdir(parents=True)
    shutil.copy(
        f"{FIXTURES}/application_server_status/partition=1/"
        "application_server_status+1+0000000021.avro",
        src,
    )

    class StubS3:
        def __init__(self):
            self.requests = []

        def get_object_tagging(self, Bucket, Key):
            self.requests.append((Bucket, Key))
            return {"TagSet": [{"Key": "endOffset", "Value": "77"}]}

    s3 = StubS3()
    topics = walk_topics(
        f"file://{tmp_path}/in",
        end_offset_reader=s3_tag_end_offset_reader(s3, "bkt"),
        spark=spark,
    )
    (f,) = topics["application_server_status"]
    assert (f.offset_from, f.offset_to) == (21, 77)
    (bucket, key), = s3.requests
    assert bucket == "bkt"
    assert "://" not in key and not key.startswith("file:")
    assert key.endswith("application_server_status+1+0000000021.avro")
    assert not key.startswith("/")
