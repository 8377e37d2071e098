"""Regression tests for the round-2 advisor findings (ADVICE.md r2):
offsets pointer-loss recovery, overflow-safe hash sampling, per-query
top-k in probed buckets, multi-branch Avro unions.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_offsets_pointer_loss_recovers_latest_version(spark, tmp_path):
    """Deleting offsets.CURRENT must NOT read as empty state — recovery
    adopts the highest fully-written offsets/v* directory (ADVICE r2 #2)."""
    from restructure_hdfs_topic_spark.operators.offsets import (
        commit_offsets,
        read_offsets,
    )

    for state_dir, pointer in [
        (str(tmp_path / "local"), tmp_path / "local" / "offsets.CURRENT"),
        (f"file://{tmp_path}/uri", tmp_path / "uri" / "offsets.CURRENT"),
    ]:
        r1 = [("t", 0, 0, 9, None)]
        r2 = [("t", 0, 20, 29, None)]
        commit_offsets(spark, state_dir, r1)
        commit_offsets(spark, state_dir, r2)
        pointer.unlink()
        got = sorted(
            (r["topic"], r["partition"], r["offset_from"], r["offset_to"])
            for r in read_offsets(spark, state_dir).collect()
        )
        assert got == [("t", 0, 0, 9), ("t", 0, 20, 29)], state_dir
        # and the next commit still advances cleanly from the recovered state
        commit_offsets(spark, state_dir, [("t", 0, 10, 19, None)])
        got = sorted(
            (r["offset_from"], r["offset_to"])
            for r in read_offsets(spark, state_dir).collect()
        )
        assert got == [(0, 29)], state_dir


def test_hash_bucket_full_int64_range(spark):
    """hash_bucket must be overflow-free and match unbounded-arithmetic
    ``id * KNUTH mod 2^32`` across the whole int64 id range (ADVICE r2 #3:
    the raw multiply overflowed for ids >= ~3.5e9 under ANSI mode)."""
    from restructure_hdfs_topic_spark.operators.sampling import KNUTH, MOD, hash_bucket

    ids = [0, 1, 12345, 2**31 - 1, 2**32 - 1, 2**32, 3_500_000_000, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["b"] for r in df.select("id", hash_bucket("id").alias("b")).collect()}
    for i in ids:
        assert got[i] == (i * KNUTH) % MOD, i


def test_bucket_scorer_probe_query_gets_full_k():
    """A probe row (query not among the bucket's corpus members) must
    receive k neighbors, not k-1 (ADVICE r2 #4)."""
    from restructure_hdfs_topic_spark.operators.similarity import _bucket_scorer

    score = _bucket_scorer(3)
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 99],
            "vec": [[10, 0], [9, 1], [8, 2], [10, 1]],
            "is_corpus": [True, True, True, False],
        }
    )
    out = score(pdf)
    per_query = out.groupby("query_id")["neighbor_id"].count().to_dict()
    assert per_query[99] == 3  # probe row: all 3 corpus members
    assert per_query[1] == per_query[2] == per_query[3] == 2  # self excluded


def test_avro_multi_branch_union_decodes_to_member_struct(spark, tmp_path):
    """A multi-branch union value must decode into the {memberN: value}
    struct the Spark schema advertises (ADVICE r2 #5: the decoder yielded
    the raw branch value and died at Arrow conversion)."""
    import os

    from restructure_hdfs_topic_spark.sources.avro import read_avro
    from tests.test_avro_ingest import _build_container

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

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "u", "type": ["null", "string", "long"]}],
    }
    # three records: u="x" (branch 1), u=42 (branch 2), u=null (branch 0)
    datums = zz(1) + zz(1) + b"x" + zz(2) + zz(42) + zz(0)
    top = tmp_path / "union_topic" / "partition=0"
    os.makedirs(top)
    path = top / "union_topic+0+0000000000+0000000002.avro"
    path.write_bytes(_build_container(schema, datums, 3))
    df = read_avro(spark, [str(path)])
    assert dict(df.select("u").dtypes)["u"] == "struct<member0:string,member1:bigint>"
    rows = {r["offset"]: r["u"] for r in df.collect()}
    assert rows[0] is not None and rows[0]["member0"] == "x" and rows[0]["member1"] is None
    assert rows[1] is not None and rows[1]["member0"] is None and rows[1]["member1"] == 42
    assert rows[2] is None


def test_ntz_normalization_recurses_into_nested_fields(spark, tmp_path):
    """TIMESTAMP_NTZ nested inside struct/array columns must normalize to
    session-UTC TIMESTAMP like top-level columns do (ADVICE r3: the walk
    only inspected df.dtypes, so nested ntz passed through un-normalized
    and broke unix_micros-style functions on those fields)."""
    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.sources.tables import load_table

    src = spark.sql(
        """SELECT TIMESTAMP_NTZ'2024-03-01 12:00:00' AS ts,
                  named_struct('t', TIMESTAMP_NTZ'2024-03-01 12:00:00',
                               'n', 7) AS st,
                  array(TIMESTAMP_NTZ'2024-03-01 12:00:00') AS arr"""
    )
    src.write.mode("overwrite").parquet(str(tmp_path / "nested.parquet"))
    df = load_table(spark, str(tmp_path), "nested")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.schema["st"].dataType["t"].dataType.typeName() == "timestamp"
    assert df.schema["arr"].dataType.elementType.typeName() == "timestamp"
    row = df.select(
        F.unix_micros("ts").alias("a"),
        F.unix_micros(F.col("st.t")).alias("b"),
        F.unix_micros(F.element_at("arr", 1)).alias("c"),
        F.col("st.n").alias("n"),
    ).first()
    assert row["a"] == row["b"] == row["c"] == 1709294400000000
    assert row["n"] == 7


def test_covering_interval_mtime_from_same_row(spark):
    """ADVICE r4: the covering interval's mtime must come from the SAME
    interval row — when that interval has a NULL last_processed the record
    must REPROCESS, even if an earlier interval in the partition carries a
    (newer) mtime that would have suppressed it."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from restructure_hdfs_topic_spark.operators.offsets import filter_unseen_records

    late = datetime(2024, 6, 1, tzinfo=timezone.utc)
    records = spark.createDataFrame(
        [("t", 0, 55, datetime(2024, 1, 1, tzinfo=timezone.utc), "null-mtime-interval")],
        "topic string, partition int, offset long, mtime timestamp, tag string",
    )
    state = spark.createDataFrame(
        [("t", 0, 0, 10, late), ("t", 0, 50, 60, None)],
        "topic string, partition int, offset_from long, offset_to long, last_processed timestamp",
    )
    tags = [r.tag for r in filter_unseen_records(records, state).collect()]
    assert tags == ["null-mtime-interval"], (
        "record inside an interval with unknown last_processed must reprocess"
    )


def test_seen_filter_null_mtime_probe_reprocesses(spark):
    """ADVICE r4: a probe row with NULL mtime makes the comparison NULL;
    NULL must mean 'reprocess' (row kept), not a silent drop."""
    from datetime import datetime, timezone

    from restructure_hdfs_topic_spark.operators.offsets import (
        filter_unseen_files,
        filter_unseen_records,
    )

    lp = datetime(2024, 1, 15, tzinfo=timezone.utc)
    state = spark.createDataFrame(
        [("t", 0, 0, 100, lp)],
        "topic string, partition int, offset_from long, offset_to long, last_processed timestamp",
    )
    records = spark.createDataFrame(
        [("t", 0, 5, None, "null-mtime")],
        "topic string, partition int, offset long, mtime timestamp, tag string",
    )
    assert [r.tag for r in filter_unseen_records(records, state).collect()] == [
        "null-mtime"
    ]
    files = spark.createDataFrame(
        [("t", 0, 3, 7, None, "null-mtime-file")],
        "topic string, partition int, offset_from long, offset_to long, mtime timestamp, fid string",
    )
    assert [r.fid for r in filter_unseen_files(files, state).collect()] == [
        "null-mtime-file"
    ]


def test_committed_range_index_matches_bruteforce_and_scales():
    """VERDICT r4 #2: the cleaner's committed-range check must be an
    O(log n) bisect index, equivalent to the linear any() scan it replaced,
    and fast at 50k intervals x 5k candidates."""
    import random
    import time

    from restructure_hdfs_topic_spark.plans.avro_job import committed_range_index

    rng = random.Random(7)
    # Correctness vs brute force on a small random MERGED (disjoint) set.
    rows = []
    for t in ("a", "b"):
        for p in (0, 1):
            pos = 0
            for _ in range(200):
                pos += rng.randint(2, 20)
                lo = pos
                pos += rng.randint(0, 15)
                rows.append((t, p, lo, pos))
    contains = committed_range_index(rows)
    for _ in range(2000):
        t, p = rng.choice(["a", "b", "c"]), rng.randint(0, 2)
        lo = rng.randint(0, 4000)
        hi = lo + rng.randint(0, 25)
        want = any(
            rt == t and rp == p and rlo <= lo and hi <= rhi
            for rt, rp, rlo, rhi in rows
        )
        assert contains(t, p, lo, hi) == want, (t, p, lo, hi)

    # Scale: 50k intervals x 5k candidates in well under a second.
    big = [("t", i % 8, j * 10, j * 10 + 5) for i, j in enumerate(range(50_000))]
    t0 = time.time()
    idx = committed_range_index(big)
    n_hit = sum(
        idx("t", i % 8, (i * 7) % 500_000, (i * 7) % 500_000 + 3)
        for i in range(5_000)
    )
    elapsed = time.time() - t0
    assert elapsed < 5.0, f"index build+probe took {elapsed:.2f}s"
    assert n_hit > 0


def _state_dirs(tmp_path):
    """One state dir per spelling — a plain path and a ``file://`` URI —
    as ``(local root, state_dir)``: both run through the same code path."""
    for name in ("plain", "uri"):
        root = tmp_path / name
        root.mkdir()
        yield root, str(root) if name == "plain" else f"file://{root}"


def test_commit_offsets_cas_no_lost_update(spark, tmp_path, monkeypatch):
    """ADVICE r5 #1: commit_offsets must resolve the current version EXACTLY
    once (snapshot + claim from the same resolve).  A concurrent committer
    flipping the pointer between the victim's snapshot read and its claim
    must force a re-read, never a stale-merge overwrite that erases the
    concurrent commit's intervals."""
    from restructure_hdfs_topic_spark.operators import offsets as O

    mk = lambda lo, hi: [("t", 0, lo, hi, None)]
    for _, state_dir in _state_dirs(tmp_path):
        O.commit_offsets(spark, state_dir, mk(0, 9))

        real_merge = O.merge_intervals
        fired = []

        def hooked_merge(ranges):
            # First (victim) merge: interleave a full concurrent peer commit
            # BETWEEN the victim's snapshot read and its version claim — the
            # exact TOCTOU window of the old two-resolve code.
            if not fired:
                fired.append(1)
                monkeypatch.setattr(O, "merge_intervals", real_merge)
                O.commit_offsets(spark, state_dir, mk(100, 109))
                monkeypatch.setattr(O, "merge_intervals", hooked_merge)
            return real_merge(ranges)

        monkeypatch.setattr(O, "merge_intervals", hooked_merge)
        O.commit_offsets(spark, state_dir, mk(200, 209))
        monkeypatch.setattr(O, "merge_intervals", real_merge)

        final = {
            (r.offset_from, r.offset_to)
            for r in O.read_offsets(spark, state_dir).collect()
        }
        assert final == {(0, 9), (100, 109), (200, 209)}


def test_dedup_distinct_fields_not_narrowed_by_accounting(tmp_path):
    """ADVICE r5 #2: explicitly configured dedup_distinct_fields must be
    honored verbatim — the accounting-column exclusion applies only to the
    default full-row key."""
    from restructure_hdfs_topic_spark.config import RestructureConfig

    cfg = RestructureConfig(
        source_dir="/x", target_dir="/y", state_dir="/z",
        dedup_enable=True, dedup_distinct_fields=["time", "user_id"],
    )
    cols = ["user_id", "time", "offset", "value"]
    acct = {"offset", "time"}
    assert cfg.dedup_key_for("t", cols, default_exclude=acct) == [
        "user_id", "time"
    ] or cfg.dedup_key_for("t", cols, default_exclude=acct) == [
        "time", "user_id"
    ]

    # Default path still excludes accounting columns.
    cfg2 = RestructureConfig(
        source_dir="/x", target_dir="/y", state_dir="/z", dedup_enable=True
    )
    assert cfg2.dedup_key_for("t", cols, default_exclude=acct) == [
        "user_id", "value"
    ]


def test_stalled_committer_cannot_clobber_peer_commit(spark, tmp_path):
    """A committer stalled past CLAIM_TTL (slow write / GC pause / paused
    VM) whose claim a peer broke and re-claimed must fail with ClaimLost on
    wake-up — NOT overwrite the peer's committed version directory with a
    merge built on the stale snapshot (lost update + clobbered parquet the
    live pointer references)."""
    import os as _os
    import time as _time

    import pytest as _pytest

    from restructure_hdfs_topic_spark import state as S
    from restructure_hdfs_topic_spark.operators import offsets as O

    mk = lambda lo, hi: [("t", 0, lo, hi, None)]  # noqa: E731
    for root, state_dir in _state_dirs(tmp_path):
        O.commit_offsets(spark, state_dir, mk(0, 9))  # v1

        # Victim A: resolves cur=1, claims v2 ... then stalls past the TTL.
        token_a = S._claim_version(spark, state_dir, 2)
        assert token_a
        victim_merge = O.merge_intervals(S._read_at(spark, state_dir, 1, O.LEDGER) + mk(200, 209))
        claim = _os.path.join(root, "offsets", ".claim.v00000002")
        old = _time.time() - S.CLAIM_TTL_S - 5
        _os.utime(claim, (old, old))

        # Peer B: breaks the stale claim, takes v2, commits durably.
        O.commit_offsets(spark, state_dir, mk(100, 109))
        assert S.current_version(spark, state_dir) == 2

        # A wakes and finishes its attempt with its stale token + merge.
        with _pytest.raises(S.ClaimLost):
            S._replace_at(spark, state_dir, O.LEDGER, victim_merge, 2, token_a)

        final = {
            (r.offset_from, r.offset_to)
            for r in O.read_offsets(spark, state_dir).collect()
        }
        assert final == {(0, 9), (100, 109)}  # B's commit intact, no stale merge
        # No staging scratch left behind by the aborted attempt.
        leftovers = [
            n for n in _os.listdir(_os.path.join(root, "offsets"))
            if n.startswith(".staging.")
        ]
        assert leftovers == []

        # A's proper retry path (fresh snapshot) lands its intervals on v3.
        O.commit_offsets(spark, state_dir, mk(200, 209))
        final = {
            (r.offset_from, r.offset_to)
            for r in O.read_offsets(spark, state_dir).collect()
        }
        assert final == {(0, 9), (100, 109), (200, 209)}


def test_breaker_adopts_orphan_committed_version(spark, tmp_path):
    """ADVICE r6: a committer that renamed v{nxt} into place (durable data)
    but died before the pointer write used to have its version DELETED by
    the next breaker — destroying committed data and leaving the waking
    peer's CURRENT write dangling.  The breaker must instead ADOPT the
    orphan (finish the pointer write), and successors must build on it."""
    import os as _os
    import time as _time

    from restructure_hdfs_topic_spark import state as S
    from restructure_hdfs_topic_spark.operators import offsets as O

    mk = lambda lo, hi: [("t", 0, lo, hi, None)]  # noqa: E731
    for root, state_dir in _state_dirs(tmp_path):
        O.commit_offsets(spark, state_dir, mk(0, 9))  # v1

        # Simulate the dead committer: claim v2, write + rename the version
        # directory, then die BEFORE the pointer write.
        token = S._claim_version(spark, state_dir, 2)
        assert token
        merged = O.merge_intervals(S._read_at(spark, state_dir, 1, O.LEDGER) + mk(100, 109))
        staging = f"offsets/.staging.v00000002.{token}"
        O.LEDGER.write(spark, f"{state_dir}/{staging}", merged)
        _os.rename(_os.path.join(root, staging), _os.path.join(root, "offsets", "v00000002"))
        # (no pointer write — the crash point; pointer still names v1)
        assert (root / "offsets.CURRENT").read_text() == "v00000001"

        # Age the claim past the TTL; a peer commit then contends on v2, breaks
        # the stale claim, must ADOPT v2 (not delete it) and commit as v3.
        claim = _os.path.join(root, "offsets", ".claim.v00000002")
        old = _time.time() - S.CLAIM_TTL_S - 5
        _os.utime(claim, (old, old))
        O.commit_offsets(spark, state_dir, mk(200, 209))

        final = {
            (r.offset_from, r.offset_to)
            for r in O.read_offsets(spark, state_dir).collect()
        }
        # The orphan's intervals SURVIVE: adoption made them part of history.
        assert final == {(0, 9), (100, 109), (200, 209)}
        assert (root / "offsets.CURRENT").read_text() == "v00000003"


def test_claim_version_failure_after_create_cleans_up(spark, tmp_path, monkeypatch):
    """ADVICE r6: an HDFS-path claim that fails AFTER create-NX succeeded
    must not leave an orphaned token-less claim file stalling peers for a
    full TTL."""
    import os as _os

    from restructure_hdfs_topic_spark import state as S

    state_dir = f"file://{tmp_path}/state"
    _os.makedirs(tmp_path / "state" / "offsets")

    # Force the write-after-create to blow up: serve the state dir through
    # a Hadoop store whose FileSystem's create() yields a stream that
    # raises on write.
    from restructure_hdfs_topic_spark import storage

    class BoomStream:
        def write(self, *_a):
            raise IOError("disk full")

        def close(self):
            pass

    class FsWrapper:
        def __init__(self, fs):
            self._fs = fs

        def create(self, path, overwrite):
            self._fs.create(path, overwrite).close()  # real create-NX lands
            return BoomStream()

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs = spark._jvm.org.apache.hadoop.fs.Path(state_dir).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    monkeypatch.setattr(
        storage, "store", lambda path, spark_=None: storage.Hadoop(spark_, FsWrapper(real_fs))
    )
    assert S._claim_version(spark, state_dir, 1) is None
    monkeypatch.undo()
    # The half-made claim was removed: a fresh claim succeeds immediately.
    assert not _os.path.exists(tmp_path / "state" / "offsets" / ".claim.v00000001")
    assert S._claim_version(spark, state_dir, 1) is not None


def test_export_one_file_per_shard_dir(spark, tmp_path):
    """ADVICE r6: repartition(n, 'shard') hash-collides shard values into
    shared tasks — the route-key pre-image must restore exactly one data
    file per shard directory."""
    import os as _os

    from restructure_hdfs_topic_spark.plans.export import export_jsonl_shards

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("d"), F.col("id")).alias("text")
    )
    out = str(tmp_path / "exp")
    n_shards = 7
    manifest = export_jsonl_shards(df, out, n_shards=n_shards)
    assert manifest.count() == n_shards
    for k in range(n_shards):
        d = _os.path.join(out, "data", f"shard={k}")
        files = [n for n in _os.listdir(d) if n.startswith("part-")]
        assert len(files) == 1, f"shard {k}: {files}"


def test_commit_signatures_state_wins_and_deterministic(spark, tmp_path):
    """ADVICE r6: re-ingesting an id with different text must keep the
    COMMITTED signature (not a partition-order-dependent survivor)."""
    from restructure_hdfs_topic_spark.operators import incremental as I

    state_dir = str(tmp_path / "sigstate")
    s1 = spark.createDataFrame([(1, [10, 11]), (2, [20, 21])], "id long, sig array<long>")
    I.commit_signatures(spark, state_dir, s1)
    # Conflicting re-ingest for id=2, plus an intra-batch conflict on id=3.
    s2 = spark.createDataFrame(
        [(2, [99, 99]), (3, [31, 32]), (3, [30, 39])], "id long, sig array<long>"
    )
    I.commit_signatures(spark, state_dir, s2)
    got = {r["id"]: list(r["sig"]) for r in I.read_signatures(spark, state_dir).collect()}
    assert got[2] == [20, 21]  # committed row wins
    assert got[3] == [30, 39]  # lexicographic min of the batch conflict
    assert got[1] == [10, 11]


# --- ADVICE r7 regressions ---------------------------------------------------


def test_hamming_near_dup_single_full_width_band(spark):
    """ADVICE r7 #4: bands=1 at bits=64 (exact fingerprint match) used to
    overflow F.lit with a 2^64-1 mask; it must behave as an equality
    join."""
    from restructure_hdfs_topic_spark.operators.dedup import hamming_near_dup_pairs

    # Include fingerprints with the top bit set (negative as signed long).
    rows = [
        (1, -(1 << 63) + 5),
        (2, -(1 << 63) + 5),
        (3, 7),
        (4, 7),
        (5, 9),
    ]
    df = spark.createDataFrame(rows, "id long, fingerprint long")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in hamming_near_dup_pairs(
            df, bits=64, max_hamming=0, bands=1
        ).collect()
    }
    assert pairs == {(1, 2), (3, 4)}


def test_dedup_by_url_window_keys_include_canonical_string(spark):
    """ADVICE r7 #2: the keep-one window must partition by the canonical
    URL STRING as well as its 64-bit hash — a hash collision between two
    distinct URLs must not drop an unrelated document.  Collisions can't
    be synthesized cheaply, so pin the plan: the Window partition spec
    carries both the xxhash64 key and the string expression."""
    from restructure_hdfs_topic_spark.operators.dedup import dedup_by_url

    df = spark.createDataFrame(
        [(1, "https://a.com/x"), (2, "https://a.com/x")], "doc_id long, url string"
    )
    out = dedup_by_url(df, "doc_id", "url")
    # The window keys are pre-projected as _w0/_w1/_w2 aliases; assert the
    # spec carries THREE partition keys (hash, canonical string, null
    # disambiguator) and that the plan computes both the hash and the
    # canonicalizing regexp chain that feed them.
    plan = out._jdf.queryExecution().analyzed().toString()
    window_lines = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert window_lines, plan
    assert "_w0" in window_lines[0] and "_w2" in window_lines[0], window_lines[0]
    assert "xxhash64" in plan
    assert "regexp_replace" in plan
    assert [r["doc_id"] for r in out.collect()] == [1]


# --------------------------------------------------------------------------
# ADVICE r8 regressions
# --------------------------------------------------------------------------


def test_warc_negative_content_length_terminates():
    """ADVICE r8 #1 (high): a negative Content-Length moved the scan
    position BACKWARDS before the current 'WARC/' magic, so the parser
    re-yielded the same record forever (hang/OOM in the mapInPandas
    kernel).  It must quarantine the record and keep moving forward."""
    import itertools

    from restructure_hdfs_topic_spark.sources.warc import (
        parse_warc_records,
        warc_bytes,
    )

    good = warc_bytes(
        [{"uri": "https://a.com/ok", "body": "fine"}], gzip_per_record=False
    )
    hostile = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -9999\r\n\r\n"
        + good
    )
    # islice caps the take: a regression yields the bad row forever and
    # fails the length assert instead of hanging the test.
    rows = list(itertools.islice(parse_warc_records(hostile), 10))
    assert [r["decode_status"] for r in rows] == ["bad_content_length", "ok"]
    assert rows[1]["target_uri"] == "https://a.com/ok"


def test_warc_midfile_oversized_length_loses_one_record():
    """ADVICE r8 #3 (low): a corrupt Content-Length LARGER than the
    remaining payload used to abandon the whole rest of the file; now it
    quarantines the one damaged record and resyncs at the next 'WARC/'
    magic so later good records survive."""
    from restructure_hdfs_topic_spark.sources.warc import (
        parse_warc_records,
        warc_bytes,
    )

    good = warc_bytes(
        [
            {"uri": "https://a.com/1", "body": "one"},
            {"uri": "https://a.com/2", "body": "two"},
        ],
        gzip_per_record=False,
    )
    corrupt = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:x>\r\n"
        b"Content-Length: 999999\r\n\r\nshort\r\n\r\n"
        + good
    )
    rows = list(parse_warc_records(corrupt))
    assert [r["decode_status"] for r in rows] == ["truncated_body", "ok", "ok"]
    assert [r["target_uri"] for r in rows[1:]] == [
        "https://a.com/1",
        "https://a.com/2",
    ]
    # The legit truncated-tail case still yields exactly one damaged row.
    rows = list(parse_warc_records(good[: len(good) - 10]))
    assert [r["decode_status"] for r in rows][-1] == "truncated_body"
    assert sum(r["decode_status"] == "truncated_body" for r in rows) == 1


def test_bloom_broadcast_memoized_per_state_version(spark, tmp_path):
    """ADVICE r8 #2 (medium): the broadcast-probe path must reuse ONE
    broadcast per (state_dir, version) — streaming probes once per
    micro-batch, and a fresh collect+broadcast per batch leaks driver
    memory unboundedly.  A moved state version must swap the entry and
    unpersist the superseded broadcast."""
    from restructure_hdfs_topic_spark.operators import bloom as B
    from restructure_hdfs_topic_spark.operators.incremental import (
        commit_fingerprints,
        document_fingerprints,
    )

    state_dir = str(tmp_path / "state")
    first = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    commit_fingerprints(spark, state_dir, document_fingerprints(first))
    batch = spark.createDataFrame(
        [(10, "alpha"), (11, "delta")], "doc_id long, text string"
    )

    B._BC_CACHE.clear()
    B.filter_novel_documents_bloom(spark, state_dir, batch, n_buckets=4).collect()
    slot = (spark.sparkContext.applicationId, state_dir.rstrip("/"))
    assert slot in B._BC_CACHE
    key1, bc1 = B._BC_CACHE[slot]
    assert key1[1] == 1  # state version

    # Same state: the broadcast object is REUSED, not rebuilt.
    B.filter_novel_documents_bloom(spark, state_dir, batch, n_buckets=4).collect()
    key2, bc2 = B._BC_CACHE[slot]
    assert bc2 is bc1 and key2 == key1

    # Moved state: entry swaps, superseded broadcast is unpersisted.
    unpersisted = []
    orig = bc1.unpersist
    bc1.unpersist = lambda *a, **kw: (unpersisted.append(True), orig())
    second = spark.createDataFrame([(3, "gamma")], "doc_id long, text string")
    commit_fingerprints(spark, state_dir, document_fingerprints(second))
    B.filter_novel_documents_bloom(spark, state_dir, batch, n_buckets=4).collect()
    key3, bc3 = B._BC_CACHE[slot]
    assert key3[1] == 2 and bc3 is not bc1
    assert unpersisted


def test_bloom_write_partitions_sizing():
    """VERDICT r8 wrong-#1: sidecar writes must scale writer tasks with
    bitmap bytes (~128 MB per task, capped at one per bucket) instead of
    funneling everything through repartition(1)."""
    from restructure_hdfs_topic_spark.operators.bloom import _write_partitions

    assert _write_partitions(0, 256) == 1
    assert _write_partitions(10 * 1024 * 1024, 256) == 1
    # The module's documented design point: 1e10 keys * 10 bits ≈ 12.5 GB.
    assert _write_partitions(12_500_000_000, 256) == 94
    # Never more writers than buckets (a bucket row is atomic).
    assert _write_partitions(10**13, 256) == 256


def test_pq_adc_tiebreak_partition_independent(spark):
    """ADVICE r8 #4 (low): exact score ties at the per-batch top-k cut
    must resolve by neighbor_id (matching the global window's order), so
    the result cannot depend on batch composition/partitioning."""
    from restructure_hdfs_topic_spark.operators.pq import pq_adc_topk

    # Two distinct vectors, 20 copies each => massive exact ties; PQ is
    # lossless (2 distinct sub-vectors per subspace).
    a = [1.0, 0.0, 2.0, 1.0, 0.5, 1.5, -1.0, 0.25]
    b = [0.0, 1.0, -1.0, 2.0, 1.0, 0.0, 0.5, -0.5]
    rows = [(i, a if i % 2 == 0 else b) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 2)

    expected = None
    for parts in (1, 3, 11):
        got = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in pq_adc_topk(
                emb.repartition(parts), queries, k=4, m=4, rerank_factor=None
            ).collect()
        )
        if expected is None:
            expected = got
        assert got == expected, f"partitioning {parts} changed the tie cut"
    # Ties break toward the LOWEST neighbor_id: query 0 (vector a) must
    # keep the smallest even ids among its 19 identical-score neighbors.
    q0 = [nid for (q, _rank, nid) in expected if q == 0]
    assert q0 == [2, 4, 6, 8]


def test_progress_total_zero_and_message():
    """ADVICE r8 #5 (low): total == 0 is explicitly allowed (empty topic
    map) and the negative-total error says non-negative."""
    from restructure_hdfs_topic_spark.progress import ProgressBar

    lines = []
    bar = ProgressBar("empty", 0, sink=lines.append)
    bar.update(0, force=True)
    assert lines and "100%" in lines[0]
    with pytest.raises(ValueError, match="non-negative"):
        ProgressBar("bad", -1)
