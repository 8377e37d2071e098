"""The restructure job's driver-side bookkeeping, tested on generated
Kafka-Connect trees (tests/avro_tree.py):

- polls, re-uploads and the committed offset intervals, end to end, with
  no Python RDD (``Scan ExistingRDD``) and no Python exec node in any
  plan the job executes;
- a template-layout restructure, an append that merges into an existing
  bin and the cleaner: no Python exec node in any plan, no ``.crc``
  sidecar in the output tree, schema sidecars typed by the Avro schema;
- differential properties: the driver-side O4 index against the
  DataFrame seen filter ``filter_unseen_files``, and the attempt headers
  derived from collected fingerprints against ``discover_dynamic_columns``;
- attempt routing of a header the schema fixes runs no Spark job;
- keep-last dedup keyed on a map field;
- one shuffle per topic write: the executed write plans' Exchange nodes,
  one part file per output directory, attempt routing in record order;
- keep-last in file order: against exact-offset order where the two
  agree (a differential), and the rule where they do not.
"""

import json
import os
import re

from conftest import jobs_run, prop_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from restructure_hdfs_topic_spark import storage
from restructure_hdfs_topic_spark.config import (
    CleanerConfig,
    PathConfig,
    RestructureConfig,
    WorkerConfig,
)
from restructure_hdfs_topic_spark.operators.offsets import (
    committed_intervals,
    committed_range_index,
    file_micros,
    filter_unseen_files,
    read_intervals,
)
from restructure_hdfs_topic_spark.plans.avro_job import (
    run_avro_cleaner_job,
    run_avro_restructure_job,
)
from restructure_hdfs_topic_spark.sources.avro import SourceFile, manifest_df, record_struct
from tests.avro_tree import RECORD_SCHEMA, reading, reference_shaped_tree, write_topic_file

TOPIC = "poll_topic"
BASE_S = 1_700_000_000.123456789  # sub-µs digits survive into the mtime


# Physical operators that run Python workers: UDFs, pandas/Arrow maps and
# grouped maps.
PYTHON_EXECS = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
)


def _last_execution(spark) -> int:
    """Id of the newest SQL execution the session ran; -1 if none."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _plans_after(spark, after: int) -> list[str]:
    """Physical plan text of every SQL execution newer than ``after``."""
    out = []
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() > after:
            out.append(e.physicalPlanDescription())
    return out


def _run(spark, src, cfg, now_s, job=run_avro_restructure_job):
    """One ``job`` run (a restructure iteration by default) plus the plans
    it executed."""
    before = _last_execution(spark)
    res = job(spark, src, cfg, now_s=now_s)
    return res, _plans_after(spark, before)


def _assert_no_python(plans):
    assert plans
    for plan in plans:
        assert "Scan ExistingRDD" not in plan, plan
        for node in PYTHON_EXECS:
            assert node not in plan, plan


def _state(spark, state_dir):
    got: dict = {}
    for t, p, lo, hi, lp in read_intervals(spark, state_dir):
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
        return file_micros(storage.store(path).mtime(path))

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

    _assert_no_python(plans)


def test_restructure_append_and_cleaner_start_no_python_worker(spark, tmp_path):
    """Template layout, CSV + gzip: a restructure pass, a poll whose file
    merges into an existing bin, then the cleaner.  No executed plan
    holds a Python exec node, and no cleaner plan a window; the output
    tree holds no ``.crc`` sidecar, and the schema sidecar types the
    record columns as the Avro schema does (non-union fields not
    nullable); the cleaner deletes exactly the fully extracted files below
    each partition's max offset and rolls nothing back."""
    src = str(tmp_path / "in")
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        compression="gzip",
        worker=WorkerConfig(minimum_file_age_s=0),
        cleaner=CleanerConfig(enable=True, age_days=1),
        paths=PathConfig(layout="template"),
    )
    os.makedirs(cfg.state_dir)
    hour = 1_600_000_000.0 - 1_600_000_000.0 % 3600

    def recs(user, n, start=0):
        return [reading("p", user, hour + 60 * (start + i), tags={"k": str(i)}) for i in range(n)]

    old = [
        write_topic_file(src, TOPIC, 0, 0, recs("u1", 3), mtime_s=BASE_S),
        write_topic_file(src, TOPIC, 0, 3, recs("u1", 3, 3), mtime_s=BASE_S),
        write_topic_file(src, TOPIC, 1, 0, recs("u2", 4), mtime_s=BASE_S),
    ]
    now = BASE_S + 10 * 86400
    res, plans = _run(spark, src, cfg, now)
    assert res["records_written"] == 10
    # Same user and hour as the first two files: merges into their bin.
    write_topic_file(src, TOPIC, 0, 6, recs("u1", 3, 6), mtime_s=BASE_S)
    res, p = _run(spark, src, cfg, now)
    plans += p
    assert (res["files_processed"], res["records_written"]) == (1, 3)
    cleaned, p = _run(spark, src, cfg, now, job=run_avro_cleaner_job)
    plans += p
    # The cleaner never reads ``offset``: the per-file numbering window of
    # the decode is pruned from its plans.
    assert p and not [q for q in p if "Window" in q]

    _assert_no_python(plans)
    out = [os.path.relpath(os.path.join(d, n), cfg.target_dir) for d, _s, ns in os.walk(cfg.target_dir) for n in ns]
    assert not [f for f in out if f.endswith(".crc")], out
    data = sorted(f for f in out if f.endswith(".csv.gz"))
    assert len(data) == 2, data  # one bin per user
    sidecars = [f for f in out if os.path.basename(f) == f"schema-{TOPIC}.json"]
    assert len(sidecars) == 2, out  # one per user's topic dir
    for f in sidecars:
        with open(os.path.join(cfg.target_dir, f)) as fh:
            sidecar = StructType.fromJson(json.load(fh))
        assert sidecar == record_struct(RECORD_SCHEMA)
        assert not sidecar["key"].nullable and not sidecar["key"].dataType["userId"].nullable
        assert sidecar["key"].dataType["projectId"].nullable
    assert sorted(cleaned["deleted"]) == sorted(old[:2])
    assert cleaned["rolled_back"] == [] and cleaned["locked"] == []


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


def test_schema_fixed_header_routes_without_a_job(spark, tmp_path):
    """A record type with no map and no array field has one CSV header, so
    attempt routing runs no Spark job: attempt 0, no dynamic columns, the
    order column dropped.  Over ``reference_shaped_tree`` (two such
    topics) a gzip CSV restructure with keep-last dedup runs 4 jobs; the
    routing aggregation made it 10."""
    from restructure_hdfs_topic_spark.operators.flatten import route_by_schema_attempt

    df = spark.createDataFrame([(1, "a", 7), (2, None, 8)], "id int, x string, o long")
    out = []
    assert jobs_run(spark, lambda: out.append(route_by_schema_attempt(df, "o"))) == 0
    routed, persisted, headers = out[0]
    assert headers == {0: {}} and persisted is df
    assert routed.columns == ["id", "x", "attempt"]
    assert [r["attempt"] for r in routed.collect()] == [0, 0]

    src = reference_shaped_tree(str(tmp_path / "in"))
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        compression="gzip",
        dedup_enable=True,
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir)
    assert jobs_run(spark, lambda: run_avro_restructure_job(spark, src, cfg)) == 4


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


# -- one shuffle per topic write ---------------------------------------------


def _final_nodes(plan: str, name: str) -> list[int]:
    """Ids of the ``name`` nodes in an executed plan's tree, the initial
    plans that adaptive execution prints next to the final ones left out."""
    ids: list[int] = []
    skip_from = None
    for line in plan.split("\n\n", 1)[0].splitlines():
        col = len(line) - len(line.lstrip(" |:+-"))
        if skip_from is not None and col >= skip_from:
            continue
        skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = line.index("==")
            continue
        m = re.search(rf"\b{name} \((\d+)\)", line)
        if m and int(m.group(1)) not in ids:
            ids.append(int(m.group(1)))
    return ids


def _node_args(plan: str, node_id: int) -> str:
    """The ``Arguments`` line of node ``node_id`` in the plan's details."""
    block = next(b for b in plan.split("\n\n") if b.startswith(f"({node_id}) "))
    return next(line for line in block.splitlines() if line.startswith("Arguments:"))


def _write_plans(plans: list[str]) -> list[str]:
    """The plans that write decoded records."""
    return [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p and "Scan avro" in p]


def _one_part_file_per_dir(target: str) -> set[str]:
    """Checks that every output directory holds one part file; returns the
    bin directory names."""
    bins = set()
    for dirpath, _dirs, names in os.walk(target):
        parts = [n for n in names if n.startswith("part-")]
        if parts:
            assert len(parts) == 1, (dirpath, parts)
            bins.add(os.path.basename(dirpath))
    return bins


def _write_guard_tree(src: str) -> None:
    """Two partitions of three files: users u0-u2 over two hour bins, four
    records redelivered in the second file, and a third file whose map
    keys are not a subset of the first shape's, so it opens attempt 1.
    Both partitions hold the same records."""
    t0 = 1_704_067_200.0  # 2024-01-01 00:00 UTC
    recs = [reading("p", f"u{i % 3}", t0 + 300 * i, tags={"a": str(i % 2)}) for i in range(16)]
    other = [reading("p", f"u{i % 3}", t0 + 300 * i, tags={"b": "1"}) for i in range(6)]
    for p in (0, 1):
        write_topic_file(src, TOPIC, p, 0, recs[:8])
        write_topic_file(src, TOPIC, p, 8, recs[8:] + recs[:4])
        write_topic_file(src, TOPIC, p, 20, other)


def test_one_shuffle_per_topic_write(spark, tmp_path):
    """On the default full-row dedup key, every executed plan that writes
    the topic's records holds one Exchange, a hash on the output partition
    columns, and no window over the file path (the per-file offset
    window): in the Hive layout, where each output directory, the
    attempt-suffixed ``bin=<b>_1`` ones included, holds one part file, and
    in a template layout whose time-pattern and sourceId params stage as
    extra partition columns."""
    src = str(tmp_path / "in")
    _write_guard_tree(src)
    tmpl = "${topic}/${projectId}/${userId}/${sourceId}/${time:yyyyMM}/${time:dd}/${filename}"
    for layout, paths in (("hive", PathConfig()), ("template", PathConfig(layout="template", template=tmpl))):
        cfg = RestructureConfig(
            target_dir=str(tmp_path / layout / "out"),
            state_dir=str(tmp_path / layout / "state"),
            format="csv",
            dedup_enable=True,
            worker=WorkerConfig(minimum_file_age_s=0),
            paths=paths,
        )
        os.makedirs(cfg.state_dir)
        res, plans = _run(spark, src, cfg, None)
        assert res["records_written"] == 22, layout  # 16 + 6 distinct payloads
        writes = _write_plans(plans)
        assert len(writes) == 2, layout  # attempts 0 and 1
        for plan in writes:
            exchanges = _final_nodes(plan, "Exchange")
            assert len(exchanges) == 1, plan
            assert re.search(
                r"hashpartitioning\(projectId#\d+, userId#\d+, bin#\d+, \d+\), REPARTITION_BY_NUM",
                _node_args(plan, exchanges[0]),
            ), plan
        assert not any("windowspecdefinition(__file" in p for p in plans), layout
    bins = _one_part_file_per_dir(str(tmp_path / "hive" / "out"))
    assert bins == {"bin=20240101_0000", "bin=20240101_0100", "bin=20240101_0000_1"}


def test_write_keeps_its_repartition_without_a_clustering_key(spark, tmp_path):
    """With dedup off, and with configured distinct fields that lack
    ``bin``, the write repartitions on the output partition columns itself:
    one Exchange more than the dedup's, and still one part file per
    output directory.  Neither plan holds the per-file offset window."""
    src = str(tmp_path / "in")
    _write_guard_tree(src)
    for name, dedup, records, n_exchanges in (
        ("off", {}, 52, 1),
        ("distinct", {"dedup_enable": True, "dedup_distinct_fields": ["key.userId", "value.time"]}, 16, 2),
    ):
        cfg = RestructureConfig(
            target_dir=str(tmp_path / name / "out"),
            state_dir=str(tmp_path / name / "state"),
            format="csv",
            worker=WorkerConfig(minimum_file_age_s=0),
            **dedup,
        )
        os.makedirs(cfg.state_dir)
        res, plans = _run(spark, src, cfg, None)
        assert res["records_written"] == records, name
        writes = _write_plans(plans)
        assert writes, name
        for plan in writes:
            exchanges = _final_nodes(plan, "Exchange")
            assert len(exchanges) == n_exchanges, (name, plan)
            args = [_node_args(plan, e) for e in exchanges]
            assert any(
                re.search(r"hashpartitioning\(projectId#\d+, userId#\d+, .*bin#\d+, \d+\), REPARTITION_BY_NUM", a)
                for a in args
            ), (name, args)
        assert not any("windowspecdefinition(__file" in p for p in plans), name
        assert _one_part_file_per_dir(cfg.target_dir), name


def test_attempt_routing_follows_record_order(spark, tmp_path):
    """The earlier file holds map-key shape A, a later file shape B that
    does not nest in A, with earlier event times in the same bin: A is
    attempt 0 (``bin=<b>``) and B attempt 1 (``bin=<b>_1``) whatever the
    shuffle's partition count, because a shape's first occurrence is its
    first record in file order, not in the dedup shuffle's output."""
    import csv

    src = str(tmp_path / "in")
    t0 = 1_704_067_200.0
    write_topic_file(src, TOPIC, 0, 0, [reading("p", f"u{i % 4}", t0 + 1800 + i, tags={"a": "1"}) for i in range(20)])
    write_topic_file(src, TOPIC, 0, 20, [reading("p", f"u{i % 4}", t0 + i, tags={"b": "1"}) for i in range(20)])
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for n in (1, 7, 32):
            spark.conf.set(key, str(n))
            cfg = RestructureConfig(
                target_dir=str(tmp_path / f"out{n}"),
                state_dir=str(tmp_path / f"state{n}"),
                format="csv",
                dedup_enable=True,
                worker=WorkerConfig(minimum_file_age_s=0),
            )
            os.makedirs(cfg.state_dir)
            run_avro_restructure_job(spark, src, cfg)
            headers = {}
            for dirpath, _dirs, names in os.walk(cfg.target_dir):
                for name in names:
                    if name.startswith("part-"):
                        with open(os.path.join(dirpath, name), newline="") as fh:
                            header = next(csv.reader(fh))
                        headers.setdefault(os.path.basename(dirpath), set()).update(
                            c for c in header if c.startswith("value.tags.")
                        )
            assert headers == {
                "bin=20240101_0000": {"value.tags.a"},
                "bin=20240101_0000_1": {"value.tags.b"},
            }, n
    finally:
        spark.conf.set(key, before)


# -- keep-last in file order -------------------------------------------------

_partition_files = st.lists(
    st.lists(st.tuples(st.integers(0, 3), st.integers(1, 6)), min_size=1, max_size=3),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=prop_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_partition_files, st.data())
def test_keep_last_by_file_order_matches_offset_order(spark, layout, data):
    """On trees whose files' offset ranges do not overlap, keep-last by
    ``file_order`` keeps the same records as keep-last by the exact
    offset, whatever order the paths come in and whether Spark splits the
    files across read tasks.  The key holds ``partition``: across Kafka
    partitions the two orders differ by design."""
    import shutil
    import tempfile

    from restructure_hdfs_topic_spark.operators.dedup import keep_last_dedup
    from restructure_hdfs_topic_spark.sources.avro import FILE_ORDER, read_avro

    record = st.tuples(st.sampled_from(["u0", "u1"]), st.integers(0, 2))
    split = data.draw(st.booleans(), "split")
    root = tempfile.mkdtemp(dir=os.environ.get("SPARK_LOCAL_DIRS"))
    paths, uid = [], 0
    try:
        for p, files in enumerate(layout):
            offset = 0
            for gap, n in files:
                offset += gap
                recs = []
                for user, slot in data.draw(st.lists(record, min_size=n, max_size=n)):
                    recs.append(reading("p", user, 1_704_067_200.0 + 600 * slot, level=uid))
                    uid += 1
                paths.append(write_topic_file(root, TOPIC, p, offset, recs, block_records=1 if split else None))
                offset += n
        paths = data.draw(st.permutations(paths), "paths")
        conf = "spark.sql.files.maxPartitionBytes"
        before = spark.conf.get(conf)
        spark.conf.set(conf, "256" if split else before)
        try:
            df = read_avro(spark, paths, file_order=True)
            key = ["partition", "key.userId", "value.time"]

            def kept(order):
                return sorted(
                    tuple(r) for r in keep_last_dedup(df, key, order).select("partition", "value.level").collect()
                )

            assert kept(FILE_ORDER) == kept("offset")
        finally:
            spark.conf.set(conf, before)
    finally:
        shutil.rmtree(root)


def test_keep_last_file_order_rule(spark, tmp_path):
    """Where file order and offset order differ, the job keeps the record
    of the later file in (partition, offset_from, path) order: of two
    files with overlapping offset ranges the later-starting one, and of a
    key in two Kafka partitions the higher partition's record, although
    in both cases the other record has the larger offset.  The same on
    the write's own partitioning (distinct fields without ``bin``) and on
    the dedup's (distinct fields holding every partition column)."""
    import csv

    src = str(tmp_path / "in")
    t0 = 1_704_067_200.0

    def rec(user, slot, level):
        return reading("p", user, t0 + 60 * slot, level=level)

    # Partition 0: offsets 0-3, then 2-5 — key (u1, 10) at offset 3 in the
    # first file and at offset 2 in the second.
    write_topic_file(src, TOPIC, 0, 0, [rec("u0", 0, 0), rec("u0", 1, 1), rec("u0", 2, 2), rec("u1", 10, 3)])
    write_topic_file(src, TOPIC, 0, 2, [rec("u1", 10, 4), rec("u0", 3, 5), rec("u0", 4, 6), rec("u0", 5, 7)])
    # Key (u2, 20) at offset 100 of partition 0 and offset 0 of partition 1.
    write_topic_file(src, TOPIC, 0, 100, [rec("u2", 20, 8)])
    write_topic_file(src, TOPIC, 1, 0, [rec("u2", 20, 9)])
    for name, distinct in (
        ("write", ["key.userId", "value.time"]),
        ("dedup", ["projectId", "userId", "bin", "key.userId", "value.time"]),
    ):
        cfg = RestructureConfig(
            target_dir=str(tmp_path / name / "out"),
            state_dir=str(tmp_path / name / "state"),
            format="csv",
            dedup_enable=True,
            dedup_distinct_fields=distinct,
            worker=WorkerConfig(minimum_file_age_s=0),
        )
        os.makedirs(cfg.state_dir)
        assert run_avro_restructure_job(spark, src, cfg)["records_written"] == 8
        levels = set()
        for dirpath, _dirs, names in os.walk(cfg.target_dir):
            for n in names:
                if n.startswith("part-"):
                    with open(os.path.join(dirpath, n), newline="") as fh:
                        levels.update(int(r["value.level"]) for r in csv.DictReader(fh))
        assert levels == {0, 1, 2, 4, 5, 6, 7, 9}, name
