import os
import pathlib
import sys

import pytest

# The checkout these tests belong to: its package and entry points are the
# ones under test, wherever the checkout lives.
CHECKOUT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(CHECKOUT))


def prop_examples(n: int) -> int:
    """Hypothesis example budget for the property suites (VERDICT r13
    #2/#4): the full suite outgrew the driver's verify window, and the
    property tests — each example of which builds indexes / runs multi-
    job Spark pipelines — are the fattest contributors.  Default profile
    runs ceil(n/3) examples (never fewer than 2, so shrinking still
    works); set SPARK_GRAFT_FULL_TESTS=1 to restore every suite's full
    example count (run before releases / after lifecycle-protocol
    changes — the builder's own full runs are recorded in STATUS.md)."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return n
    return max(2, -(-n // 3))


def jobs_run(spark, action) -> int:
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


@pytest.fixture(scope="session")
def spark():
    from restructure_hdfs_topic_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def viewfs(spark):
    """``mount(local_dir) -> "viewfs://<name>/data"``: a Hadoop
    ``ViewFileSystem`` mount over a local directory, under a fresh mount
    table name (the FileSystem cache keys on it).  Paths under it take
    ``storage``'s Hadoop branch while the bytes stay in ``local_dir``."""
    import uuid

    def mount(local_dir) -> str:
        name = f"t{uuid.uuid4().hex[:12]}"
        spark._jsc.hadoopConfiguration().set(
            f"fs.viewfs.mounttable.{name}.link./data", f"file://{local_dir}"
        )
        return f"viewfs://{name}/data"

    return mount
