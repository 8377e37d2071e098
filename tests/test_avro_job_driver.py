"""The restructure job's driver-side bookkeeping, tested on generated
Kafka-Connect trees (tests/avro_tree.py):

- polls, re-uploads and the committed offset intervals, end to end, with
  no Python RDD (``Scan ExistingRDD``) and no Python UDF in any plan the
  job executes — the decode's ``MapInPandas`` is the only Python stage;
- differential properties: the driver-side O4 index against the
  DataFrame seen filter ``filter_unseen_files``, and the attempt headers
  derived from collected fingerprints against ``discover_dynamic_columns``;
- keep-last dedup keyed on a map field;
- the once-per-session spark-avro probe of ``read_avro(mode="auto")``.
"""

import logging
import os

from conftest import prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.config import RestructureConfig, WorkerConfig
from restructure_hdfs_topic_spark.operators.offsets import (
    committed_intervals,
    committed_range_index,
    file_micros,
    filter_unseen_files,
    read_offsets,
)
from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job
from restructure_hdfs_topic_spark.sources.avro import SourceFile, manifest_df
from tests.avro_tree import reading, write_topic_file

TOPIC = "poll_topic"
BASE_S = 1_700_000_000.123456789  # sub-µs digits survive into the mtime


def _executions(spark):
    """(id, physical plan text) of every SQL execution the session ran."""
    out = []
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        e = it.next()
        out.append((e.executionId(), e.physicalPlanDescription()))
    return out


def _run(spark, src, cfg, now_s):
    """One restructure iteration plus the plans it executed."""
    before = max((i for i, _ in _executions(spark)), default=-1)
    res = run_avro_restructure_job(spark, src, cfg, mode="python", now_s=now_s)
    return res, [p for i, p in _executions(spark) if i > before]


def _state(spark, state_dir):
    got: dict = {}
    for t, p, lo, hi, lp in committed_intervals(read_offsets(spark, state_dir)):
        got.setdefault((t, p), []).append((lo, hi, lp))
    return {k: sorted(v) for k, v in got.items()}


def _rows(target):
    """Multiset of (userId, value.time) over the hive-layout CSV output."""
    import csv
    from collections import Counter

    rows: Counter = Counter()
    for dirpath, _dirs, names in os.walk(target):
        if f"topic={TOPIC}" not in dirpath:
            continue
        user = next(p for p in dirpath.split(os.sep) if p.startswith("userId="))[7:]
        for name in names:
            if name.startswith("part-") and name.endswith(".csv"):
                with open(os.path.join(dirpath, name), newline="") as fh:
                    for rec in csv.DictReader(fh):
                        rows[(user, float(rec["value.time"]))] += 1
    return rows


def test_two_polls_and_reupload_reprocess(spark, tmp_path):
    """Poll 1 takes the landed files, poll 2 only the newly landed one, an
    idle poll nothing; a file re-uploaded with a newer mtime reprocesses
    and advances its interval's last_processed.  No executed plan holds a
    Python RDD or a Python UDF."""
    src = str(tmp_path / "in")
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir)

    def recs(start, n, user="u1"):
        return [
            reading("p", user, 1_600_000_000.0 + 600 * (start + i), tags={"k": str(i)})
            for i in range(n)
        ]

    def lp(path):  # the µs last_processed a commit of ``path`` records
        return file_micros(os.stat(path).st_mtime)

    mt = [BASE_S + k * 10.000000333 for k in range(4)]
    write_topic_file(src, TOPIC, 0, 0, recs(0, 3), mtime_s=mt[0])
    reupload = write_topic_file(src, TOPIC, 0, 3, recs(3, 3), mtime_s=mt[1])
    p1 = write_topic_file(src, TOPIC, 1, 0, recs(100, 4, "u2"), mtime_s=mt[2])
    now = BASE_S + 3600
    plans = []

    res, p = _run(spark, src, cfg, now)
    plans += p
    assert (res["files_processed"], res["records_written"]) == (3, 10)
    assert _state(spark, cfg.state_dir) == {
        (TOPIC, 0): [(0, 5, lp(reupload))],
        (TOPIC, 1): [(0, 3, lp(p1))],
    }

    late = write_topic_file(src, TOPIC, 0, 6, recs(6, 3), mtime_s=mt[3])
    res, p = _run(spark, src, cfg, now)
    plans += p
    assert (res["files_processed"], res["records_written"]) == (1, 3)
    assert _state(spark, cfg.state_dir)[(TOPIC, 0)] == [(0, 8, lp(late))]

    res, p = _run(spark, src, cfg, now)
    plans += p
    assert res["files_processed"] == 0

    # Re-upload offsets 3-5 with an mtime newer than the interval's.
    newer = mt[3] + 0.001
    os.utime(reupload, ns=(int(newer * 1e9), int(newer * 1e9)))
    res, p = _run(spark, src, cfg, now)
    plans += p
    assert (res["files_processed"], res["records_written"]) == (1, 3)
    assert _state(spark, cfg.state_dir) == {
        (TOPIC, 0): [(0, 8, lp(reupload))],
        (TOPIC, 1): [(0, 3, lp(p1))],
    }

    rows = _rows(cfg.target_dir)
    t = lambda i: 1_600_000_000.0 + 600 * i  # noqa: E731
    want = {("u1", t(i)): 1 for i in range(9)}
    want.update({("u1", t(i)): 2 for i in range(3, 6)})  # reprocessed
    want.update({("u2", t(100 + i)): 1 for i in range(4)})
    assert dict(rows) == want

    assert plans
    for plan in plans:
        assert "Scan ExistingRDD" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


# -- differential: driver-side O4 index vs filter_unseen_files ---------------

_interval = st.tuples(
    st.integers(0, 2),  # partition
    st.integers(0, 60),  # from
    st.integers(0, 12),  # length - 1
    st.one_of(st.none(), st.integers(-3, 3)),  # last_processed: None or µs offset
)
_file = st.tuples(
    st.integers(0, 2),
    st.integers(0, 70),
    st.integers(0, 8),
    st.integers(-3, 3),  # mtime offset in µs around the interval times
    st.sampled_from([0.0, 0.4e-6, 0.999e-6]),  # sub-µs digits
)


@settings(
    max_examples=prop_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_interval, max_size=10), st.lists(_file, min_size=1, max_size=30))
def test_committed_index_matches_filter_unseen_files(spark, intervals, files):
    """Random committed states — NULL last_processed, adjacent,
    overlapping and duplicate intervals — against random files, some
    straddling two intervals, with mtimes carrying sub-µs digits: the
    driver-side bisect index keeps exactly the files the DataFrame seen
    filter keeps."""
    base_us = 1_700_000_000_000_000
    state = spark.createDataFrame(
        [
            ("t", p, lo, lo + n, None if d is None else base_us + d)
            for p, lo, n, d in intervals
        ],
        "topic string, partition int, offset_from long, offset_to long, lp_us long",
    ).select(
        "topic", "partition", "offset_from", "offset_to",
        F.timestamp_micros("lp_us").alias("last_processed"),
    )
    walked = [
        SourceFile(f"/f{i}.avro", "t", p, lo, lo + n, (base_us + d) / 1e6 + frac, 1)
        for i, (p, lo, n, d, frac) in enumerate(files)
    ]
    want = sorted(r["path"] for r in filter_unseen_files(manifest_df(spark, walked), state).collect())
    seen = committed_range_index(committed_intervals(state))
    got = sorted(
        f.path
        for f in walked
        if not seen(f.topic, f.partition, f.offset_from, f.offset_to, file_micros(f.mtime))
    )
    assert got == want


def test_committed_index_edge_cases(spark):
    """The named O4 edge cases, deterministically: NULL last_processed
    reprocesses, an mtime one µs newer reprocesses, equal micros (after
    truncating sub-µs digits) are seen, a file straddling two adjacent
    unmerged intervals is not contained, containment alone (no mtime)
    serves the cleaner.  ``file_micros`` equals Spark's
    ``unix_micros(timestamp_seconds(x))`` on doubles with sub-µs digits."""
    import random

    rng = random.Random(5)
    doubles = [rng.uniform(0, 2e9) for _ in range(2000)] + [
        1_700_000_000.1234569, 0.9999999, -1.0000001, 1e-7,
    ]
    spark_us = [
        r[0]
        for r in spark.createDataFrame([(d,) for d in doubles], "x double")
        .select(F.unix_micros(F.timestamp_seconds("x")))
        .collect()
    ]
    assert spark_us == [file_micros(d) for d in doubles]

    lp = 1_700_000_000_123_456
    state = spark.createDataFrame(
        [("t", 0, 0, 9, lp), ("t", 0, 10, 19, lp), ("t", 1, 0, 9, None)],
        "topic string, partition int, offset_from long, offset_to long, lp_us long",
    ).select(
        "topic", "partition", "offset_from", "offset_to",
        F.timestamp_micros("lp_us").alias("last_processed"),
    )
    seen = committed_range_index(committed_intervals(state))
    assert seen("t", 0, 2, 5, lp)
    assert not seen("t", 0, 2, 5, lp + 1)
    assert not seen("t", 0, 5, 12, lp)  # straddles [0,9] and [10,19]
    assert not seen("t", 1, 2, 5, 0)  # NULL last_processed
    assert seen("t", 1, 2, 5)  # containment only
    assert not seen("t", 2, 0, 0)


# -- differential: fingerprint headers vs discover_dynamic_columns ----------

_row = st.tuples(
    st.one_of(st.none(), st.dictionaries(st.sampled_from(["a", "b", "c", "zz"]), st.integers(0, 9), max_size=4)),
    st.one_of(st.none(), st.lists(st.integers(0, 9), max_size=3)),
    st.one_of(st.none(), st.lists(st.sampled_from(["x", "y"]), max_size=2)),
)


@settings(
    max_examples=prop_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_row, min_size=1, max_size=25))
def test_fingerprint_headers_match_discover(spark, rows):
    """Per attempt, the dynamic columns derived from the collected header
    fingerprints equal ``discover_dynamic_columns`` over that attempt's
    records — null maps, empty and null arrays, sub-schemas absorbed into
    a wider attempt and several attempts included — and the attempts are
    exactly the routed frame's distinct attempts."""
    from restructure_hdfs_topic_spark.operators.flatten import (
        discover_dynamic_columns,
        route_by_schema_attempt,
    )

    df = spark.createDataFrame(
        [(i, m, a, s) for i, (m, a, s) in enumerate(rows)],
        "id int, m map<string,int>, arr array<int>, s array<string>",
    )
    routed, persisted, headers = route_by_schema_attempt(df)
    try:
        assert sorted(headers) == sorted(
            r["attempt"] for r in routed.select("attempt").distinct().collect()
        )
        for a, dyn in headers.items():
            assert dyn == discover_dynamic_columns(routed.filter(F.col("attempt") == a)), a
    finally:
        persisted.unpersist()


def test_keep_last_dedup_on_map_field(spark):
    """Full-row keep-last dedup over a map<string,string> leaf: no
    EXPRESSION_TYPE_IS_NOT_ORDERABLE, and records whose maps differ only
    in entry order are one key (the last offset wins); a null map and an
    empty map stay distinct."""
    from restructure_hdfs_topic_spark.operators.dedup import keep_last_dedup

    df = spark.createDataFrame(
        [
            ({"u": "1", "tags": {"a": "1", "b": "2"}}, 0),
            ({"u": "1", "tags": {"b": "2", "a": "1"}}, 1),  # same map, other order
            ({"u": "1", "tags": {"a": "1"}}, 2),
            ({"u": "1", "tags": {}}, 3),
            ({"u": "1", "tags": None}, 4),
            ({"u": "2", "tags": {"a": "1", "b": "2"}}, 5),
        ],
        "value struct<u:string, tags:map<string,string>>, offset long",
    )
    out = keep_last_dedup(df, ["value.u", "value.tags"], "offset")
    assert sorted(r["offset"] for r in out.collect()) == [1, 2, 3, 4, 5]
    whole = keep_last_dedup(df.select("value.tags", "offset"), [], "offset")
    assert sorted(r["offset"] for r in whole.collect()) == [2, 3, 4, 5]


def test_read_avro_auto_probes_spark_avro_once(spark, tmp_path, caplog, monkeypatch):
    """``mode="auto"`` asks once per session whether the avro source
    resolves; without spark-avro it warns once and decodes in Python."""
    from restructure_hdfs_topic_spark.sources import avro

    path = write_topic_file(str(tmp_path), "probe_topic", 0, 0, [reading("p", "u", 1.0)])
    monkeypatch.setattr(avro, "_SPARK_AVRO", {})
    with caplog.at_level(logging.WARNING, logger=avro.__name__):
        n = [avro.read_avro(spark, [path], mode="auto").count() for _ in range(3)]
    assert n == [1, 1, 1]
    assert len(avro._SPARK_AVRO) == 1
    if not next(iter(avro._SPARK_AVRO.values())):
        probes = [r for r in caplog.records if "spark-avro data source not found" in r.getMessage()]
        assert len(probes) == 1
