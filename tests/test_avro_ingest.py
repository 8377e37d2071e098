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
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.config import PathConfig, RestructureConfig, WorkerConfig
from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job
from restructure_hdfs_topic_spark.sources.avro import (
    AvroContainer,
    read_avro,
    walk_topics,
)
from tests.avro_tree import STATUS_KEY, STATUS_SCHEMA, STATUS_TOPIC, reference_shaped_tree, write_topic_file
from tests.avro_tree import build_container as _build_container

FIXTURES = "/root/reference/src/integrationTest/resources"

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures unavailable"
)


@needs_fixtures
def test_container_decode_counts_and_values(spark):
    # android file: null codec, 1000 records; status files: snappy, 3 each.
    by_name = {
        os.path.basename(p): p
        for p in glob.glob(f"{FIXTURES}/*/partition=*/*.avro")
    }
    android = by_name["android_phone_acceleration+0+0003018784.avro"]
    status = by_name["application_server_status+1+0000000018+0000000020.avro"]
    assert AvroContainer.parse(open(android, "rb").read()).codec == "null"
    assert AvroContainer.parse(open(status, "rb").read()).codec == "snappy"
    recs = read_avro(spark, [android]).orderBy("offset").collect()
    assert len(recs) == 1000
    assert recs[0]["key"]["projectId"] == "radar-test-root"
    srecs = read_avro(spark, [status]).orderBy("offset").collect()
    assert len(srecs) == 3
    assert srecs[0]["value"].asDict() == {
        "time": 1580219820.03,
        "serverStatus": "CONNECTED",
        "ipAddress": None,
    }


@needs_fixtures
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
    """O3 tail: processing a single-offset file must commit [21, 23]
    (record-count end offset), so the cleaner's `offset_to + 1 <= hi` check
    can ever succeed and a partially-committed prefix is not mistaken for
    full coverage — on a generated file and, when present, the reference's
    fixture."""
    import shutil

    from restructure_hdfs_topic_spark.operators.offsets import read_intervals

    def committed(src: str, out) -> tuple[int, list]:
        cfg = RestructureConfig(
            target_dir=str(out / "out"),
            state_dir=str(out / "state"),
            format="csv",
            worker=WorkerConfig(minimum_file_age_s=0),
        )
        os.makedirs(cfg.state_dir, exist_ok=True)
        result = run_avro_restructure_job(spark, src, cfg)
        return result["records_written"], [r[:4] for r in read_intervals(spark, cfg.state_dir)]

    project, user, source = STATUS_KEY
    records = [
        {
            "key": {"projectId": project, "userId": user, "sourceId": source},
            "value": {"time": 1580220600.5 + i, "serverStatus": "CONNECTED", "ipAddress": None},
        }
        for i in range(3)
    ]
    src = str(tmp_path / "in")
    write_topic_file(
        src, STATUS_TOPIC, 1, 21, records, schema=STATUS_SCHEMA, codec="deflate", single_offset=True
    )
    want = (3, [(STATUS_TOPIC, 1, 21, 23)])
    assert committed(src, tmp_path / "tree") == want
    if os.path.isdir(FIXTURES):  # the reference's fixture file
        fixture = tmp_path / "fixture" / STATUS_TOPIC / "partition=1"
        fixture.mkdir(parents=True)
        shutil.copy(f"{FIXTURES}/{STATUS_TOPIC}/partition=1/{STATUS_TOPIC}+1+0000000021.avro", fixture)
        assert committed(str(tmp_path / "fixture"), tmp_path / "golden") == want


@needs_fixtures
def test_read_avro_distributed_offsets(spark):
    topics = walk_topics(FIXTURES)
    df = read_avro(spark, [f.path for f in topics["application_server_status"]])
    rows = df.select("topic", "partition", "offset", "key.userId").orderBy("offset").collect()
    # Offsets: file 18..20 has 3 records → 18,19,20; file 21 has 3 records
    # → 21,22,23 (single-offset filename still streams all its records).
    assert [r["offset"] for r in rows] == [18, 19, 20, 21, 22, 23]
    assert all(r["topic"] == "application_server_status" for r in rows)
    assert all(r["partition"] == 1 for r in rows)


@needs_fixtures
def test_avro_restructure_end_to_end_golden(spark, tmp_path):
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    result = run_avro_restructure_job(spark, FIXTURES, cfg)
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
    result2 = run_avro_restructure_job(spark, FIXTURES, cfg)
    assert result2["records_written"] == 0
    assert (
        read_topic_csv("application_server_status").count()
        + read_topic_csv("android_phone_acceleration").count()
        == 1006
    )


def _gzip_dedup_rows(spark, src: str, out) -> set:
    """Restructure ``src`` to gzip CSV with the default full-row dedup;
    the status topic's rows as (value.time, value.serverStatus, bin), after
    checking that no two are equal."""
    import glob as _glob

    cfg = RestructureConfig(
        target_dir=str(out / "out"),
        state_dir=str(out / "state"),
        format="csv",
        compression="gzip",
        dedup_enable=True,
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    run_avro_restructure_job(spark, src, cfg)
    gz = _glob.glob(f"{cfg.target_dir}/**/*.csv.gz", recursive=True)
    assert gz, "expected gzip csv part files"
    status = (
        spark.read.option("header", "true")
        .option("basePath", cfg.target_dir)
        .csv(f"{cfg.target_dir}/projectId=*/userId=*/topic=application_server_status")
    )
    rows = status.collect()
    texts = {(r["value.time"], r["value.serverStatus"], r["bin"]) for r in rows}
    assert len(rows) == len(texts)
    return texts


def test_avro_restructure_gzip_and_dedup(spark, tmp_path):
    """CSV sink parity (VERDICT #10): gzip-compressed partitioned CSV write
    plus keep-last dedup on the default full-row key, over a tree shaped
    like the reference's fixtures and, when present, the fixtures
    themselves."""
    src = reference_shaped_tree(str(tmp_path / "in"))
    # The 6 status records collapse under full-row dedup: the two files
    # hold a repeated payload, and each file a repeated one — keep-last
    # retains one row per distinct flattened record.
    assert _gzip_dedup_rows(spark, src, tmp_path / "tree") == {
        ("1.58021982003E9", "CONNECTED", "20200128_1300"),
        ("1.5802206005E9", "CONNECTED", "20200128_1400"),
        ("1.58022180025E9", "DISCONNECTED", "20200128_1400"),
    }
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        assert _gzip_dedup_rows(spark, FIXTURES, tmp_path / "golden")


def _cleaner_delete_and_rollback(spark, src: str, out) -> None:
    """The cleaner flow of ``test_avro_cleaner_delete_and_rollback`` over
    the fixture-shaped tree ``src``: delete, then roll back, then
    reprocess."""
    import shutil

    from restructure_hdfs_topic_spark.config import CleanerConfig
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_cleaner_job

    victim = f"{STATUS_TOPIC}+1+0000000018+0000000020.avro"
    victim_path = os.path.join(src, STATUS_TOPIC, "partition=1", victim)
    saved = str(out / victim)
    os.makedirs(out, exist_ok=True)
    shutil.copy(victim_path, saved)
    cfg = RestructureConfig(
        source_dir=src,
        target_dir=str(out / "out"),
        state_dir=str(out / "state"),
        format="csv",
        cleaner=CleanerConfig(enable=True, age_days=0),
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    run_avro_restructure_job(spark, src, cfg)

    # Everything extracted: the status file [18,20] is committed-with-+1
    # (state merged to [18,23]) and fully extracted → deleted; the
    # single-offset status file and the acceleration file hold their
    # partitions' max offsets → kept.
    result = run_avro_cleaner_job(spark, src, cfg)
    deleted = [p.rsplit("/", 1)[-1] for p in result["deleted"]]
    assert deleted == [victim]
    assert result["rolled_back"] == []
    remaining = [f for fs in walk_topics(src).values() for f in fs]
    assert len(remaining) == 2

    # Partial extraction: restore the deleted file, wipe one status bin
    # from the target → cleaner rolls the file's range back instead of
    # deleting, and the next restructure reprocesses exactly that file.
    shutil.copy(saved, victim_path)
    for root, dirs, files in os.walk(cfg.target_dir):
        if root.endswith("bin=20200128_1300"):
            shutil.rmtree(root)
    result2 = run_avro_cleaner_job(spark, src, cfg)
    rolled = [p.rsplit("/", 1)[-1] for p in result2["rolled_back"]]
    assert rolled == [victim]
    r = run_avro_restructure_job(spark, src, cfg)
    assert r["records_written"] == 3


def test_avro_cleaner_delete_and_rollback(spark, tmp_path):
    """O20/O21 over the real pipeline: the cleaner re-reads source Avro,
    verifies event times against the written CSV output (re-read with the
    positional O21 parse), DELETES fully-extracted committed files, rolls
    back partially-extracted ones, and never touches a partition's
    max-offset file (+1 trick) — over a tree shaped like the reference's
    fixtures and, when present, the fixtures themselves."""
    import shutil

    _cleaner_delete_and_rollback(spark, reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree")
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        shutil.copytree(FIXTURES, tmp_path / "fixtures")
        _cleaner_delete_and_rollback(spark, str(tmp_path / "fixtures"), tmp_path / "golden")


def test_zip_compression_output(spark, tmp_path):
    """O23 zip: single-entry deflate .zip per output file, readable back to
    the identical CSV bytes (compression/ZipCompression.kt:16-29), over a
    tree shaped like the reference's fixtures and, when present, the
    fixtures themselves."""
    import glob as _glob

    from restructure_hdfs_topic_spark.compression import read_zip_entry

    def zipped_status_bin(src: str, out) -> str:
        cfg = RestructureConfig(
            target_dir=str(out / "out"),
            state_dir=str(out / "state"),
            format="csv",
            compression="zip",
            worker=WorkerConfig(minimum_file_age_s=0),
        )
        os.makedirs(cfg.state_dir, exist_ok=True)
        run_avro_restructure_job(spark, src, cfg)
        zips = _glob.glob(f"{cfg.target_dir}/**/*.csv.zip", recursive=True)
        plains = _glob.glob(f"{cfg.target_dir}/**/*.csv", recursive=True)
        assert zips and not plains
        status_zip = [p for p in zips if "application_server_status" in p and "20200128_1300" in p]
        assert len(status_zip) == 1
        text = read_zip_entry(status_zip[0]).decode()
        header = text.splitlines()[0]
        assert header == "key.projectId,key.userId,key.sourceId,value.time,value.serverStatus,value.ipAddress"
        assert "1.58021982003E9,CONNECTED," in text
        return text

    text = zipped_status_bin(reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree")
    assert text.splitlines()[1:] == [
        "STAGING_PROJECT,1543bc93-3c17-4381-89a5-c5d6272b827c,99caf236-bbe6-4eed-9c63-fba77349821d,"
        "1.58021982003E9,CONNECTED,"
    ] * 2
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        zipped_status_bin(FIXTURES, tmp_path / "golden")


def _hive_json_rows(target_dir: str) -> list[tuple]:
    """(userId, value.time, value.level as JSON, value.note) of every row
    in a Hive-layout JSON tree, read line by line: rows written under an
    evolved schema carry a union struct where older rows carry a long."""
    rows = []
    for path in glob.glob(f"{target_dir}/projectId=*/userId=*/topic=*/bin=*/part-*"):
        user = path.split("/userId=", 1)[1].split("/", 1)[0]
        with open(path) as fh:
            for line in fh:
                v = json.loads(line)["value"]
                rows.append((user, v["time"], json.dumps(v.get("level")), v.get("note")))
    return rows


def _service_config(tmp_path):
    """Hive-layout JSON; a 300 s service interval, and the cleaner on the
    same interval, deleting any committed file its successor offset
    proves complete."""
    from restructure_hdfs_topic_spark.config import CleanerConfig, ServiceConfig

    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="json",
        cleaner=CleanerConfig(enable=True, interval_s=300, age_days=0),
        service=ServiceConfig(enable=True, interval_s=300),
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    return cfg


class _FakeTime:
    """An injected clock whose ``sleep`` advances it and runs the next
    landing: ``landings[k]`` runs during the k-th sleep."""

    def __init__(self, landings=()):
        self.now = time.time()
        self.sleeps: list[float] = []
        self._landings = list(landings)

    def clock(self) -> float:
        return self.now

    def sleep(self, s: float) -> None:
        self.sleeps.append(s)
        self.now += s
        if self._landings:
            self._landings.pop(0)()


def test_service_loop_schedules_jobs(spark, tmp_path):
    """O27: the service loop restructures each interval and cleans on the
    cleaner's interval, and files that land between iterations are picked
    up: every record is written exactly once, a lone zero-length file
    writes nothing, a file with an evolved schema keeps its new field, and
    the cleaner deletes exactly the processed files whose successor offset
    is committed."""
    from collections import Counter

    from restructure_hdfs_topic_spark.streaming.service import run_service
    from tests.avro_tree import KEY_SCHEMA, RECORD_SCHEMA, reading, write_topic_file

    src = str(tmp_path / "in")
    t0 = 1_704_067_200.0  # 2024-01-01 00:00 UTC
    # 2 partitions x 2 files x 10 records; record i: user u{i % 3}, time t0 + 600 i.
    first = {
        (p, f): write_topic_file(
            src, "events", p, 10 * f,
            [reading("p", f"u{i % 3}", t0 + 600 * i) for i in range(20 * p + 10 * f, 20 * p + 10 * f + 10)],
        )
        for p in (0, 1)
        for f in (0, 1)
    }
    empty = os.path.join(src, "events", "partition=0", "events+0+0000000020+0000000020.avro")

    def land_empty():
        # Offset 20 of partition 0 is never committed, so (0, 10..19) stays.
        open(empty, "wb").close()

    # A nullable field and a union branch added (level: long -> long|string).
    value = RECORD_SCHEMA["fields"][1]["type"]
    new_value = {
        **value,
        "fields": [
            {**f, "type": ["null", "long", "string"]} if f["name"] == "level" else f
            for f in value["fields"]
        ]
        + [{"name": "note", "type": ["null", "string"], "default": None}],
    }
    new_schema = {**RECORD_SCHEMA, "fields": [{"name": "key", "type": KEY_SCHEMA}, {"name": "value", "type": new_value}]}
    evolved = {}

    def land_evolved():
        later = [reading("p", "u1", t0 + 86400 + 60 * i) for i in range(2)]
        later[0]["value"].update(level=7, note="n0")
        later[1]["value"].update(level="high", note=None)
        evolved["path"] = write_topic_file(src, "events", 1, 20, later, schema=new_schema)

    cfg = _service_config(tmp_path)
    fake = _FakeTime([land_empty, land_evolved])
    results = run_service(spark, [src], cfg, max_iterations=3, sleep_fn=fake.sleep, clock=fake.clock)

    assert [r["job"] for r in results] == ["restructure", "restructure", "clean", "restructure", "clean"]
    assert fake.sleeps == [300, 300]
    restructures = [r for r in results if r["job"] == "restructure"]
    assert [(r["files_processed"], r["records_written"]) for r in restructures] == [(4, 40), (0, 0), (1, 2)]
    expected = [(f"u{i % 3}", t0 + 600 * i, "null", None) for i in range(40)] + [
        ("u1", t0 + 86400, json.dumps({"member0": 7}), "n0"),
        ("u1", t0 + 86460, json.dumps({"member1": "high"}), None),
    ]
    assert Counter(_hive_json_rows(cfg.target_dir)) == Counter(expected)
    cleans = [r for r in results if r["job"] == "clean"]
    assert sorted(cleans[0]["deleted"]) == [first[0, 0], first[1, 0]]
    assert cleans[1]["deleted"] == [first[1, 1]]
    assert all(c["rolled_back"] == [] for c in cleans)
    assert sorted(glob.glob(f"{src}/events/partition=*/*.avro")) == sorted([first[0, 1], empty, evolved["path"]])

    if os.path.isdir(FIXTURES):  # the reference's golden tree
        import shutil

        fixture_src = str(tmp_path / "fixtures")
        shutil.copytree(FIXTURES, fixture_src)
        cfg = _service_config(tmp_path / "golden")
        cfg.format, cfg.cleaner.interval_s = "csv", 500
        fake = _FakeTime()
        results = run_service(spark, [fixture_src], cfg, max_iterations=3, sleep_fn=fake.sleep, clock=fake.clock)
        # The cleaner's 500 s pass after the second 300 s sleep.
        assert [r["job"] for r in results] == ["restructure"] * 3 + ["clean"]
        assert [r["records_written"] for r in results[:3]] == [1006, 0, 0]
        assert [p.rsplit("/", 1)[-1] for p in results[3]["deleted"]] == [
            "application_server_status+1+0000000018+0000000020.avro"
        ]


def test_service_serves_every_input_root(spark, tmp_path):
    """Each service iteration restructures every input root, with one
    sleep per iteration, not one root after the other."""
    from restructure_hdfs_topic_spark.streaming.service import run_service
    from tests.avro_tree import reading, write_topic_file

    roots = [str(tmp_path / "in_a"), str(tmp_path / "in_b")]
    for k, root in enumerate(roots):
        write_topic_file(root, f"topic_{k}", 0, 0, [reading("p", "u", 1_704_067_200.0 + 60 * i) for i in range(3 + k)])
    cfg = _service_config(tmp_path)
    cfg.cleaner.enable = False
    fake = _FakeTime()
    results = run_service(spark, roots, cfg, max_iterations=2, sleep_fn=fake.sleep, clock=fake.clock)
    assert [(r["input_root"], r["records_written"]) for r in results] == [
        (roots[0], 3), (roots[1], 4), (roots[0], 0), (roots[1], 0)
    ]
    assert fake.sleeps == [300]


def test_unbounded_service_keeps_no_result_history(tmp_path, monkeypatch):
    """Without ``max_iterations`` the service loop runs forever, so it keeps
    no results: an iteration's payload (a cleaner result carries every
    deleted and kept path) is freed once the iteration ends."""
    import gc
    import weakref

    from restructure_hdfs_topic_spark.plans import avro_job
    from restructure_hdfs_topic_spark.streaming.service import run_service

    live = weakref.WeakSet()

    class Paths(list):
        """A result payload whose liveness the WeakSet tracks."""

        __hash__ = object.__hash__

    def fake_job(spark, root, config, now_s=None):
        paths = Paths([f"{root}/f{now_s}.avro"])
        live.add(paths)
        return {"deleted": paths, "kept": [], "rolled_back": [], "files_processed": 0}

    monkeypatch.setattr(avro_job, "run_avro_restructure_job", fake_job)
    monkeypatch.setattr(avro_job, "run_avro_cleaner_job", fake_job)

    class Stop(Exception):
        pass

    fake, counts = _FakeTime(), []

    def sleep(s):
        gc.collect()
        counts.append(len(live))
        if len(counts) == 3:
            raise Stop
        fake.sleep(s)

    with pytest.raises(Stop):
        run_service(object(), [str(tmp_path / "in")], _service_config(tmp_path), sleep_fn=sleep, clock=fake.clock)
    # At most the iteration just finished (one restructure, one clean) may
    # still be referenced; earlier iterations' payloads are gone.
    assert counts and max(counts) <= 2, counts


def test_cli_service_runs_one_loop_over_all_roots(tmp_path, monkeypatch):
    """``-S in1 in2``: the CLI starts one service loop over both roots (a
    loop per root would never reach the second one)."""
    from restructure_hdfs_topic_spark import __main__ as cli
    from restructure_hdfs_topic_spark.streaming import service

    calls = []

    def fake_run_service(spark, roots, cfg, **kw):
        calls.append((roots, kw))
        return []

    monkeypatch.setattr(service, "run_service", fake_run_service)
    argv = ["in1", "in2", "-S", "-o", str(tmp_path / "out"), "--state-directory", str(tmp_path / "state")]
    cli.main(argv, spark=object())
    assert calls == [(["in1", "in2"], {"max_iterations": None, "restructure": True})]


@needs_fixtures
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
    run_avro_restructure_job(spark, src, cfg)
    result = run_avro_cleaner_job(spark, src, cfg)
    deleted = [p.rsplit("/", 1)[-1] for p in result["deleted"]]
    assert deleted == ["application_server_status+1+0000000018+0000000020.avro"]
    assert result["rolled_back"] == []


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
    df = read_avro(spark, [str(top / f) for f in sorted(_os.listdir(top))])
    rows = {r["offset"]: (r["a"], r["b"]) for r in df.collect()}
    assert rows == {0: (1, None), 1: (2, None), 2: (3, "x"), 3: (4, None)}


def test_cleaner_respects_exclude_from_delete(spark, tmp_path):
    """excludeFromDelete (RestructureConfig.kt per-topic override): the
    cleaner must not delete files of an excluded topic even when fully
    extracted and committed — over a tree shaped like the reference's
    fixtures and, when present, the fixtures themselves."""
    import shutil

    from restructure_hdfs_topic_spark.config import CleanerConfig, TopicConfig
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_cleaner_job

    def cleaned(src: str, out) -> tuple[list, int]:
        cfg = RestructureConfig(
            target_dir=str(out / "out"),
            state_dir=str(out / "state"),
            format="csv",
            cleaner=CleanerConfig(enable=True, age_days=0),
            worker=WorkerConfig(minimum_file_age_s=0),
            topics={STATUS_TOPIC: TopicConfig(exclude_from_delete=True)},
        )
        os.makedirs(cfg.state_dir, exist_ok=True)
        run_avro_restructure_job(spark, src, cfg)
        result = run_avro_cleaner_job(spark, src, cfg)
        return result["deleted"], len([f for fs in walk_topics(src).values() for f in fs])

    # The deletable status file is protected; all three files remain.
    assert cleaned(reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree") == ([], 3)
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        shutil.copytree(FIXTURES, tmp_path / "fixtures")
        assert cleaned(str(tmp_path / "fixtures"), tmp_path / "golden") == ([], 3)


def test_max_files_per_topic_takes_earliest(spark, tmp_path):
    """maxFilesPerTopic caps the EARLIEST pending files deterministically
    (offset order), so repeated capped runs drain a backlog in order: over
    a tree shaped like the reference's fixtures and, when present, the
    fixtures themselves (whose acceleration file holds 1000 records)."""

    def capped_runs(src: str, out) -> list[int]:
        cfg = RestructureConfig(
            target_dir=str(out / "out"),
            state_dir=str(out / "state"),
            format="csv",
            worker=WorkerConfig(minimum_file_age_s=0, max_files_per_topic=1),
        )
        os.makedirs(cfg.state_dir, exist_ok=True)
        return [run_avro_restructure_job(spark, src, cfg)["records_written"] for _ in range(3)]

    # Run 1: one file per topic → status offsets 18-20 (3 records) + the
    # acceleration file; run 2 drains the backlog (offsets 21+); run 3:
    # nothing left.
    src = reference_shaped_tree(str(tmp_path / "in"), accel_records=40)
    assert capped_runs(src, tmp_path / "tree") == [43, 3, 0]
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        import shutil

        shutil.copytree(FIXTURES, tmp_path / "fixtures")
        assert capped_runs(str(tmp_path / "fixtures"), tmp_path / "golden") == [1003, 3, 0]


def _status_files(root: str, fixture_names=(), mtime_s=None) -> str:
    """Status-topic files of partition 1 under ``root``: each of
    ``fixture_names`` copied from the reference's fixtures when given,
    else generated — offsets 18-20 and the single-offset file from 21,
    three records each (``reference_shaped_tree``'s status files)."""
    import shutil

    part = os.path.join(root, STATUS_TOPIC, "partition=1")
    if fixture_names:
        os.makedirs(part, exist_ok=True)
        for name in fixture_names:
            shutil.copy(f"{FIXTURES}/{STATUS_TOPIC}/partition=1/{name}", part)
            if mtime_s is not None:
                os.utime(os.path.join(part, name), ns=(int(mtime_s * 1e9),) * 2)
        return root
    project, user, source = STATUS_KEY
    for lo, single in ((18, False), (21, True)):
        recs = [
            {
                "key": {"projectId": project, "userId": user, "sourceId": source},
                "value": {"time": 1580220600.5 + i, "serverStatus": "CONNECTED", "ipAddress": None},
            }
            for i in range(3)
        ]
        write_topic_file(
            root, STATUS_TOPIC, 1, lo, recs, schema=STATUS_SCHEMA, codec="deflate",
            single_offset=single, mtime_s=mtime_s,
        )
    return root


_SINGLE = f"{STATUS_TOPIC}+1+0000000021.avro"
_RANGED = f"{STATUS_TOPIC}+1+0000000018+0000000020.avro"


def test_cloud_tag_end_offset_readers(tmp_path):
    """O3 cloud-tag parity (S3SourceStorage.kt:40-66, AzureSourceStorage
    .kt:28-46): a configured tag reader resolves single-offset filenames'
    end offsets from storage metadata, with the block-header count as the
    fallback when the reader yields nothing — on a generated single-offset
    file and, when present, the reference's fixture."""
    from restructure_hdfs_topic_spark.sources.avro import (
        azure_metadata_end_offset_reader,
        s3_tag_end_offset_reader,
        walk_topics,
    )

    class StubS3:
        def __init__(self, tags):
            self.tags = tags
            self.requests = []

        def get_object_tagging(self, Bucket, Key):
            self.requests.append((Bucket, Key))
            return {"TagSet": [{"Key": k, "Value": v} for k, v in self.tags.items()]}

    class StubBlobProps:
        metadata = {"endOffset": "55"}

    class StubBlobClient:
        def get_blob_properties(self):
            return StubBlobProps()

    class StubBlobService:
        def get_blob_client(self, container, path):
            return StubBlobClient()

    def check(root: str) -> None:
        # Tag present → its value wins (even over the block-header count).
        s3 = StubS3({"endOffset": "99"})
        (f,) = walk_topics(root, end_offset_reader=s3_tag_end_offset_reader(s3, "bkt"))[STATUS_TOPIC]
        assert (f.offset_from, f.offset_to) == (21, 99)
        assert s3.requests and s3.requests[0][0] == "bkt"
        # No endOffset tag → reader returns None → block-header fallback (23).
        reader = s3_tag_end_offset_reader(StubS3({"other": "1"}), "bkt")
        (f,) = walk_topics(root, end_offset_reader=reader)[STATUS_TOPIC]
        assert (f.offset_from, f.offset_to) == (21, 23)
        reader = azure_metadata_end_offset_reader(StubBlobService(), "c")
        (f,) = walk_topics(root, end_offset_reader=reader)[STATUS_TOPIC]
        assert (f.offset_from, f.offset_to) == (21, 55)

    src = _status_files(str(tmp_path / "in"))
    os.remove(os.path.join(src, STATUS_TOPIC, "partition=1", _RANGED))
    check(src)
    if os.path.isdir(FIXTURES):  # the reference's fixture file
        check(_status_files(str(tmp_path / "fixture"), [_SINGLE]))


def test_walk_topics_hadoop_fs_uri(spark, tmp_path, viewfs):
    """O1 over URIs: a ``file://`` root (the local store) and a viewfs://
    mount (the Hadoop store; hdfs://, s3a:// share its FileSystem API)
    match the plain local walk — listing, +tmp skip, zero-length guard,
    the single-offset block-header end offset through each store's
    reader, and one millisecond mtime convention; listed paths keep the
    root's form.  On generated files and, when present, the fixtures."""

    def check(root) -> None:
        tmpdir = root / STATUS_TOPIC / "+tmp"
        tmpdir.mkdir()
        (tmpdir / f"{STATUS_TOPIC}+1+0000000099.avro").write_bytes(
            (root / STATUS_TOPIC / "partition=1" / _RANGED).read_bytes()
        )
        (root / STATUS_TOPIC / "partition=1" / f"{STATUS_TOPIC}+1+0000000050.avro").write_bytes(b"")
        key = lambda f: (f.partition, f.offset_from, f.offset_to, f.size, f.mtime)  # noqa: E731
        local = walk_topics(str(root))[STATUS_TOPIC]
        assert {(f.offset_from, f.offset_to) for f in local} == {(18, 20), (21, 23)}
        for uri, scheme in ((f"file://{root}", "file:/"), (viewfs(root), "viewfs://")):
            walked = walk_topics(uri, spark=spark)[STATUS_TOPIC]
            assert sorted(map(key, walked)) == sorted(map(key, local))
            assert all(f.path.startswith(f"{uri}/") for f in walked), scheme

    mtime = 1_700_000_000.123456789  # sub-ms digits: ms on every store
    _status_files(str(tmp_path / "in"), mtime_s=mtime)
    check(tmp_path / "in")
    if os.path.isdir(FIXTURES):  # the reference's fixture files
        _status_files(str(tmp_path / "fixture"), [_RANGED, _SINGLE], mtime_s=mtime)
        check(tmp_path / "fixture")


def test_restructure_job_over_hadoop_fs_uri(spark, tmp_path, viewfs):
    """The whole restructure job runs against a URI input root and state
    dir — ``file://`` (the local store) and a viewfs:// mount (the Hadoop
    store; hdfs://, s3a:// share its FileSystem API): walk, header read,
    decode, write, commit — and the rerun is idempotent.  Over a tree
    shaped like the reference's fixtures and, when present, the fixtures
    themselves."""

    def records_written(src: str, state_dir: str, out) -> list[int]:
        cfg = RestructureConfig(
            target_dir=str(out),
            state_dir=state_dir,
            format="csv",
            worker=WorkerConfig(minimum_file_age_s=0),
        )
        return [run_avro_restructure_job(spark, src, cfg)["records_written"] for _ in range(2)]

    reference_shaped_tree(str(tmp_path / "in"), accel_records=40)
    for base, name in ((f"file://{tmp_path}", "tree"), (viewfs(tmp_path), "view")):
        got = records_written(f"{base}/in", f"{base}/{name}/state", tmp_path / name / "out")
        assert got == [46, 0], base
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        got = records_written(f"file://{FIXTURES}", f"file://{tmp_path}/golden/state", tmp_path / "golden")
        assert got == [1006, 0]


def test_object_key_strips_uri_scheme_and_bucket(spark, tmp_path):
    """ADVICE r4: for URI roots the walk hands full URIs to the end-offset
    readers; the S3 key / blob name must strip the scheme + authority or
    every tag lookup fails and the fast path silently dies.  On a
    generated single-offset file and, when present, the fixture."""
    from restructure_hdfs_topic_spark.sources.avro import (
        s3_tag_end_offset_reader,
        walk_topics,
    )
    from restructure_hdfs_topic_spark.storage import object_key

    assert object_key("s3a://bkt/in/topic/partition=1/f.avro") == "in/topic/partition=1/f.avro"
    assert object_key("abfss://cont@acct.dfs.core.windows.net/in/f.avro") == "in/f.avro"
    assert object_key("/plain/local/f.avro") == "plain/local/f.avro"
    assert object_key("relative/f.avro") == "relative/f.avro"

    class StubS3:
        def __init__(self):
            self.requests = []

        def get_object_tagging(self, Bucket, Key):
            self.requests.append((Bucket, Key))
            return {"TagSet": [{"Key": "endOffset", "Value": "77"}]}

    def check(root: str) -> None:
        # Integration: URI-rooted walk → the stub sees a clean relative key.
        s3 = StubS3()
        topics = walk_topics(
            f"file://{root}", end_offset_reader=s3_tag_end_offset_reader(s3, "bkt"), spark=spark
        )
        (f,) = topics[STATUS_TOPIC]
        assert (f.offset_from, f.offset_to) == (21, 77)
        (bucket, key), = s3.requests
        assert bucket == "bkt"
        assert "://" not in key and not key.startswith("file:")
        assert key.endswith(_SINGLE)

    src = _status_files(str(tmp_path / "in"))
    os.remove(os.path.join(src, STATUS_TOPIC, "partition=1", _RANGED))
    check(src)
    if os.path.isdir(FIXTURES):  # the reference's fixture file
        check(_status_files(str(tmp_path / "fixture"), [_SINGLE]))
