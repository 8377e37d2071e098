"""Timer / ProgressBar parity tests (reference util/Timer.kt,
util/ProgressBar.kt): disabled-by-default timing, per-label aggregation
across threads, report shape, rate limiting, ETA/percentage rendering,
out-of-range tolerance, and the single terminal 100% update."""

import threading

import pytest

from restructure_hdfs_topic_spark.progress import ProgressBar, Timer


def test_timer_disabled_records_nothing():
    t = Timer()
    with t.time("a.b"):
        pass
    assert t.timings() == {}
    assert str(t) == "Timings: disabled"


def test_timer_aggregates_and_reports():
    t = Timer()
    t.enabled = True
    assert str(t) == "Timings: none"
    for _ in range(3):
        with t.time("phase.one"):
            pass
    with t.time("phase.two"):
        pass
    snap = t.timings()
    assert snap["phase.one"]["invocations"] == 3
    assert snap["phase.two"]["invocations"] == 1
    assert snap["phase.one"]["total_s"] >= 0
    assert list(snap) == ["phase.one", "phase.two"]  # sorted
    rep = str(t)
    assert rep.startswith("Timings:")
    assert "phase.one" in rep and "invocations: 3" in rep
    t.reset()
    assert t.timings() == {}


def test_timer_records_time_on_exception_and_threads():
    t = Timer()
    t.enabled = True
    with pytest.raises(RuntimeError):
        with t.time("x"):
            raise RuntimeError("boom")
    assert t.timings()["x"]["invocations"] == 1

    # Barrier keeps all four threads alive at once — Python reuses the
    # idents of finished threads, which would undercount n_threads.
    barrier = threading.Barrier(4)

    def work():
        with t.time("mt"):
            barrier.wait(timeout=10)

    threads = [threading.Thread(target=work) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert t.timings()["mt"]["invocations"] == 4
    assert t.timings()["mt"]["n_threads"] == 4


def test_progress_bar_renders_and_rate_limits():
    lines = []
    bar = ProgressBar("topicA", 10, num_stripes=10, update_interval_s=3600,
                      sink=lines.append)
    bar.update(5, force=True)
    assert len(lines) == 1
    assert "[*****-----]" in lines[0]
    assert " 50%" in lines[0]
    assert lines[0].endswith("<topicA>")
    assert "ETA" in lines[0]
    # Inside the interval, un-forced updates drop.
    bar.update(6)
    assert len(lines) == 1
    # 100% goes through exactly once even when forced twice.
    bar.update(10, force=True)
    bar.update(10, force=True)
    assert len(lines) == 2
    assert "100%" in lines[1]


def test_progress_bar_out_of_range_logs_not_raises():
    lines = []
    bar = ProgressBar("t", 5, sink=lines.append, update_interval_s=0)
    bar.update(9, force=True)
    assert any("out of range" in ln for ln in lines)
    with pytest.raises(ValueError):
        ProgressBar("t", -1)
    with pytest.raises(ValueError):
        ProgressBar("t", 1, num_stripes=0)


import os

FIXTURES = "/root/reference/src/integrationTest/resources"


def _job_times_phases(spark, src: str, out) -> None:
    from restructure_hdfs_topic_spark.config import RestructureConfig, WorkerConfig
    from restructure_hdfs_topic_spark.plans.avro_job import (
        run_avro_restructure_job,
    )
    from restructure_hdfs_topic_spark.progress import timer

    config = RestructureConfig(
        target_dir=str(out / "out"),
        state_dir=str(out / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(config.state_dir, exist_ok=True)
    timer.reset()
    timer.enabled = True
    try:
        counters = run_avro_restructure_job(spark, src, config)
    finally:
        timer.enabled = False
    assert counters["records_written"] > 0
    snap = timer.timings()
    for label in (
        "restructure.topic",
        "restructure.readAvro",
        "restructure.write",
        "restructure.commitOffsets",
    ):
        assert snap.get(label, {}).get("invocations", 0) >= 1, (label, snap)
    timer.reset()


def test_restructure_job_times_phases(spark, tmp_path):
    """The avro restructure job attributes driver time to its phases when
    the process-wide timer is enabled (and stays silent when not).  Over a
    tree shaped like the reference's fixtures and, when present, the
    fixtures themselves."""
    from tests.avro_tree import reference_shaped_tree

    _job_times_phases(spark, reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree")
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        _job_times_phases(spark, FIXTURES, tmp_path / "golden")


def test_progress_bar_terminal_update_bypasses_rate_limit():
    """Review r8: an UNFORCED 100% update inside the rate-limit window
    must still print (exactly once) — a bar that never completes is
    worse than an extra line."""
    lines = []
    bar = ProgressBar("t", 3, update_interval_s=3600, sink=lines.append)
    bar.update(1, force=True)
    bar.update(3)           # unforced, inside the window — must print
    bar.update(3)           # second terminal: swallowed
    assert sum("100%" in ln for ln in lines) == 1
