"""The versioned state store (``restructure_hdfs_topic_spark/state.py``):
it alone spells the on-disk layout, and its lanes' reads are pinned."""

import pathlib
import re

import pytest

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


def _jobs_run(spark, action) -> int:
    """Spark jobs ``action`` launches: it runs in its own job group, then a
    sentinel job in another; listener events arrive in order, so once the
    sentinel is visible every job of ``action`` is too."""
    import time

    sc = spark.sparkContext
    tag = f"probe-{time.monotonic_ns()}"
    sc.setJobGroup(tag, "probe")
    try:
        action()
        sc.setJobGroup(f"{tag}-sentinel", "sentinel")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{tag}-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(tag))


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
    commit_offsets(
        spark,
        state_dir,
        spark.createDataFrame(
            [("t", 0, 0, 9)], "topic string, partition int, offset_from long, offset_to long"
        ),
    )
    got = []
    assert _jobs_run(spark, lambda: got.append(read_offsets(spark, state_dir))) == 0
    assert got[0].schema == StructType.fromDDL(STATE_SCHEMA)
    assert [tuple(r)[:4] for r in got[0].collect()] == [("t", 0, 0, 9)]


@pytest.mark.parametrize("spelling", ["plain", "uri"])
def test_no_replace_rename_refuses_a_nonempty_target(spark, tmp_path, spelling):
    """The staging-to-version rename never replaces an existing version
    directory: a non-empty target is refused and left untouched, and the
    source stays where it was (Hadoop's own rename would move it INTO the
    target)."""
    from restructure_hdfs_topic_spark import state

    state_dir = str(tmp_path) if spelling == "plain" else f"file://{tmp_path}"
    for name, body in (("src", "staged"), ("dst", "committed")):
        (tmp_path / name).mkdir()
        (tmp_path / name / "part").write_text(body)
    assert not state._rename_no_replace(spark, state_dir, "src", "dst")
    assert sorted(p.name for p in (tmp_path / "dst").iterdir()) == ["part"]
    assert (tmp_path / "dst" / "part").read_text() == "committed"
    assert (tmp_path / "src" / "part").read_text() == "staged"
    # A free target is taken.
    assert state._rename_no_replace(spark, state_dir, "src", "fresh")
    assert (tmp_path / "fresh" / "part").read_text() == "staged"
    assert not (tmp_path / "src").exists()
