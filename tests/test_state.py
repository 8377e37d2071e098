"""The versioned state store (``restructure_hdfs_topic_spark/state.py``):
it alone spells the on-disk layout, and its lanes' reads are pinned."""

import dataclasses
import os
import pathlib
import re

import pytest
from conftest import jobs_run

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_state_layout_is_spelled_only_by_the_state_module():
    """Outside ``state.py`` no package module (nor ``__spark_entry__.py``)
    spells the state layout or reaches into the offset lane's private
    names: a new lane is an ``update`` over ``state.commit``, not another
    copy of the protocol."""
    forbidden = re.compile(r"offsets\.CURRENT|\.claim\.v|/offsets/v|\boffsets\._\w")
    package = REPO / "restructure_hdfs_topic_spark"
    sources = [*sorted(package.rglob("*.py")), REPO / "__spark_entry__.py"]
    hits = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sources
        if path != package / "state.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if forbidden.search(line)
    ]
    assert hits == []


def test_offset_read_of_committed_state_runs_no_job(spark, tmp_path):
    """``read_offsets`` reads committed state with the lane's schema, so it
    runs no footer-inference job; the schema read back is the lane's."""
    from pyspark.sql.types import StructType

    from restructure_hdfs_topic_spark.operators.offsets import (
        STATE_SCHEMA,
        commit_offsets,
        read_offsets,
    )

    state_dir = str(tmp_path / "state")
    commit_offsets(spark, state_dir, [("t", 0, 0, 9, None)])
    got = []
    assert jobs_run(spark, lambda: got.append(read_offsets(spark, state_dir))) == 0
    assert got[0].schema == StructType.fromDDL(STATE_SCHEMA)
    assert [tuple(r)[:4] for r in got[0].collect()] == [("t", 0, 0, 9)]


def _spelled(tmp_path, spelling: str, viewfs) -> str:
    """``tmp_path`` as a plain path, a ``file://`` URI (both the local
    store) or a viewfs:// mount over it (the Hadoop store)."""
    if spelling == "plain":
        return str(tmp_path)
    return f"file://{tmp_path}" if spelling == "uri" else viewfs(tmp_path)


@pytest.mark.parametrize("spelling", ["plain", "uri", "viewfs"])
def test_offset_commit_and_rollback_run_no_job(spark, tmp_path, spelling, viewfs):
    """The ledger lives on the driver: ``commit_offsets`` (a merge) and a
    cleaner-style ``replace_offsets`` (a remove) each read and write one
    document and run no Spark job; each version directory holds just the
    document and ``_SUCCESS`` (on the viewfs mount, over Hadoop's
    checksummed local file system, with their ``.crc`` sidecars)."""
    from restructure_hdfs_topic_spark.operators.offsets import (
        commit_offsets,
        read_intervals,
        remove_intervals,
        replace_offsets,
    )

    state_dir = _spelled(tmp_path, spelling, viewfs)
    lp = 1_700_000_000_123_456
    new = [("t", 0, 0, 9, lp), ("t", 0, 10, 19, lp + 1), ("t", 1, 0, 3, None)]
    assert jobs_run(spark, lambda: commit_offsets(spark, state_dir, new)) == 0
    rollback = lambda s: remove_intervals(s, [("t", 0, 5, 7)])  # noqa: E731
    assert jobs_run(spark, lambda: replace_offsets(spark, state_dir, rollback)) == 0
    assert read_intervals(spark, state_dir) == [
        ("t", 0, 0, 4, lp + 1),
        ("t", 0, 8, 19, lp + 1),
        ("t", 1, 0, 3, None),
    ]
    sidecars = [".state.json.crc", "._SUCCESS.crc"] if spelling == "viewfs" else []
    for version in ("v00000001", "v00000002"):
        assert sorted(p.name for p in (tmp_path / "offsets" / version).iterdir()) == sorted(
            ["_SUCCESS", "state.json", *sidecars]
        )


def test_parquet_ledger_version_is_read_once_and_replaced(spark, tmp_path):
    """Upgrade path: a state dir whose current version is a parquet
    directory (the ledger's layout before it had a document) is read
    through Spark with ``STATE_SCHEMA``.  ``read_offsets`` returns its
    intervals, a restructure over it reprocesses no committed file, and
    the next commit writes the document."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.config import RestructureConfig, WorkerConfig
    from restructure_hdfs_topic_spark.operators.offsets import (
        committed_intervals,
        decode_ledger,
        file_micros,
        merge_offset_intervals,
        read_intervals,
        read_offsets,
    )
    from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job
    from restructure_hdfs_topic_spark.sources.avro import manifest_df, walk_topics
    from tests.avro_tree import reading, write_topic_file

    src = str(tmp_path / "in")
    t0 = 1_600_000_000.0
    mtimes = [1_700_000_000.123456789 + k for k in range(3)]  # sub-µs digits

    def land(k):
        recs = [reading("p", f"u{k}", t0 + 600 * (4 * k + i)) for i in range(4)]
        return write_topic_file(src, "events", 0, 4 * k, recs, mtime_s=mtimes[k])

    land(0), land(1)
    # The state as the previous layout committed it: the manifest's
    # intervals, ``last_processed`` = timestamp_seconds(mtime) of a walk
    # that read ``st_mtime``, merged, in parquet, with the pointer naming it.
    walked = [
        dataclasses.replace(f, mtime=os.stat(f.path).st_mtime)
        for f in walk_topics(src)["events"]
    ]
    previous = merge_offset_intervals(
        manifest_df(spark, walked).select(
            "topic", "partition", "offset_from", "offset_to",
            F.col("mtime").alias("last_processed"),
        )
    )
    state_dir = tmp_path / "state"
    previous.write.parquet(str(state_dir / "offsets" / "v00000001"))
    (state_dir / "offsets.CURRENT").write_text("v00000001")
    want = [("events", 0, 0, 7, file_micros(mtimes[1]))]
    assert committed_intervals(previous) == want

    sd = str(state_dir)
    assert read_intervals(spark, sd) == want
    assert committed_intervals(read_offsets(spark, sd)) == want
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=sd,
        format="json",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    now = mtimes[-1] + 3600
    assert run_avro_restructure_job(spark, src, cfg, now_s=now)["files_processed"] == 0

    land(2)
    res = run_avro_restructure_job(spark, src, cfg, now_s=now)
    assert (res["files_processed"], res["records_written"]) == (1, 4)
    v2 = state_dir / "offsets" / "v00000002"
    assert sorted(p.name for p in v2.iterdir()) == ["_SUCCESS", "state.json"]
    # The new commit records the walk's millisecond mtime.
    newest = walk_topics(src)["events"][-1]
    ledger = [("events", 0, 0, 11, file_micros(newest.mtime))]
    assert newest.mtime == int(mtimes[2] * 1000) / 1000
    assert decode_ledger((v2 / "state.json").read_text()) == ledger
    assert read_intervals(spark, sd) == ledger


@pytest.mark.parametrize("spelling", ["plain", "uri", "viewfs"])
def test_no_replace_rename_refuses_a_nonempty_target(spark, tmp_path, spelling, viewfs):
    """The staging-to-version rename never replaces an existing version
    directory: a non-empty target is refused and left untouched, and the
    source stays where it was (Hadoop's own rename would move it INTO the
    target)."""
    from restructure_hdfs_topic_spark import storage

    state_dir = _spelled(tmp_path, spelling, viewfs)
    st = storage.store(state_dir, spark)
    for name, body in (("src", "staged"), ("dst", "committed")):
        (tmp_path / name).mkdir()
        (tmp_path / name / "part").write_text(body)
    assert not st.rename_no_replace(f"{state_dir}/src", f"{state_dir}/dst")
    assert sorted(p.name for p in (tmp_path / "dst").iterdir()) == ["part"]
    assert (tmp_path / "dst" / "part").read_text() == "committed"
    assert (tmp_path / "src" / "part").read_text() == "staged"
    # A free target is taken.
    assert st.rename_no_replace(f"{state_dir}/src", f"{state_dir}/fresh")
    assert (tmp_path / "fresh" / "part").read_text() == "staged"
    assert not (tmp_path / "src").exists()
