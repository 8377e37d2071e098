"""``storage``: the one module that resolves a path to a store, its two
branches (the local file system and a Hadoop FileSystem, the latter
exercised on a viewfs:// mount), and the restructure-job defects that
its primitives mend."""

import io
import os
import pathlib
import re
import tokenize

import pytest

from restructure_hdfs_topic_spark import storage
from restructure_hdfs_topic_spark.config import RestructureConfig, WorkerConfig
from restructure_hdfs_topic_spark.plans.avro_job import run_avro_restructure_job
from tests.avro_tree import ACCEL_TOPIC, STATUS_TOPIC, reading, reference_shaped_tree, write_topic_file

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_only_storage_resolves_paths_to_stores():
    """Outside ``storage.py`` no package module (nor ``__spark_entry__.py``)
    calls ``getFileSystem``, ``FileContext`` or ``pathToFile``, or tests a
    path string for a URI scheme: code tokens only, so docstrings may name
    schemes."""
    names = {"getFileSystem", "FileContext", "pathToFile", "getScheme", "urlparse", "urlsplit"}
    scheme_test = re.compile(r"""^[rbf]*(['"])(://|file:.*|\^\[A-Za-z\].*:.*)\1$""")
    package = REPO / "restructure_hdfs_topic_spark"
    hits = []
    for path in [*sorted(package.rglob("*.py")), REPO / "__spark_entry__.py"]:
        if path == package / "storage.py":
            continue
        for tok in tokenize.generate_tokens(io.StringIO(path.read_text()).readline):
            if (tok.type == tokenize.NAME and tok.string in names) or (
                tok.type == tokenize.STRING and scheme_test.match(tok.string)
            ):
                hits.append(f"{path.relative_to(REPO)}:{tok.start[0]}: {tok.string}")
    assert hits == []


@pytest.mark.parametrize("spelling", ["plain", "uri", "viewfs"])
def test_primitives_on_both_branches(spark, tmp_path, spelling, viewfs):
    """Each primitive behaves alike on the local store (a plain path, a
    ``file://`` URI) and the Hadoop store (viewfs://): listings keep the
    root's form, hide checksum sidecars and give millisecond mtimes; the
    exclusive create refuses a second create; ``replace`` leaves no temp
    file; deletes take sidecars along; local writes leave none."""
    root = {"plain": str(tmp_path), "uri": f"file://{tmp_path}"}.get(spelling) or viewfs(tmp_path)
    st = storage.store(root, spark)
    assert isinstance(st, storage.Hadoop if spelling == "viewfs" else storage.Local)
    a = f"{root}/d/a.json"
    assert st.create_exclusive(a, b"one") and not st.create_exclusive(a, b"two")
    st.replace(a, b"three")
    assert st.read(a) == b"three" and not st.exists(f"{a}.tmp")
    st.write(f"{root}/d/e/b.bin", bytes(range(256)) * 1000)
    with st.open(f"{root}/d/e/b.bin") as fh:
        fh.seek(1000)
        assert fh.read(3) == bytes([232, 233, 234])
    ns = 1_700_000_000_123_456_789
    os.utime(tmp_path / "d" / "a.json", ns=(ns, ns))
    assert st.mtime(a) == 1_700_000_000.123
    assert sorted(st.list_files(root)) == sorted(
        [(a, 1_700_000_000.123, 5), (f"{root}/d/e/b.bin", st.mtime(f"{root}/d/e/b.bin"), 256_000)]
    )
    assert sorted(st.list_dir(f"{root}/d")) == ["a.json", "e"]
    assert st.rename_no_replace(a, f"{root}/d/c.json") and not st.exists(a)
    assert not st.rename_no_replace(f"{root}/d/c.json", f"{root}/d/e/b.bin")
    on_disk = sorted(p.name for p in (tmp_path / "d").iterdir())
    if spelling != "viewfs":  # Hadoop's local FS writes .crc sidecars
        assert on_disk == ["c.json", "e"]
    assert st.delete(f"{root}/d", recursive=True) and not st.delete(f"{root}/d")
    assert list(tmp_path.iterdir()) == []


def test_local_read_verifies_and_delete_takes_checksum_sidecars(spark, tmp_path):
    """A file Hadoop's checksummed local FS wrote (as Spark writes staged
    parts) reads through its ``.crc``; a corrupted byte fails the read, and
    a delete takes the sidecar along."""
    path = str(tmp_path / "part")
    hp = spark._jvm.org.apache.hadoop.fs.Path(f"file://{path}")
    out = hp.getFileSystem(spark._jsc.hadoopConfiguration()).create(hp, True)
    out.write(bytearray(b"x" * 1500))
    out.close()
    assert (tmp_path / ".part.crc").exists()
    assert storage.LOCAL.read(path) == b"x" * 1500
    (tmp_path / "part").write_bytes(b"x" * 1499 + b"y")
    with pytest.raises(OSError, match="checksum"):
        storage.LOCAL.read(path)
    assert storage.LOCAL.delete(path)
    assert list(tmp_path.iterdir()) == []


def test_no_session_serves_local_paths_only(tmp_path):
    """Without Spark, plain and ``file:`` paths are local and any other
    scheme is refused rather than guessed."""
    assert storage.store(str(tmp_path)) is storage.LOCAL
    assert storage.store(f"file:{tmp_path}") is storage.LOCAL
    assert storage.local_path(f"file:{tmp_path}") == str(tmp_path)
    with pytest.raises(ValueError):
        storage.store("s3a://bucket/x")


def _job(tmp_path, **kw) -> RestructureConfig:
    return RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
        **kw,
    )


def test_hive_zip_repacks_only_the_topics_data(spark, tmp_path):
    """Hive layout with zip: each topic's repack takes only that topic's
    written files, so every ``schema-<topic>.json`` stays plain JSON and no
    ``schema-*.zip`` appears, on the first run and a rerun."""
    src = reference_shaped_tree(str(tmp_path / "in"), accel_records=4)
    cfg = _job(tmp_path, compression="zip")
    for _ in range(2):
        run_avro_restructure_job(spark, src, cfg)
        root = sorted(os.listdir(cfg.target_dir))
        assert [n for n in root if n.startswith("schema-")] == [
            f"schema-{ACCEL_TOPIC}.json",
            f"schema-{STATUS_TOPIC}.json",
        ]
    data = [n for _d, _s, names in os.walk(cfg.target_dir) for n in names if "part-" in n]
    assert data and all(n.endswith(".csv.zip") for n in data if not n.startswith("."))


def test_hive_schema_sidecar_leaves_no_checksum_file(spark, tmp_path):
    """The hive layout's schema sidecars are created exclusively through
    the local store: no ``.schema-<topic>.json.crc`` next to them."""
    src = reference_shaped_tree(str(tmp_path / "in"), accel_records=4)
    cfg = _job(tmp_path)
    run_avro_restructure_job(spark, src, cfg)
    names = os.listdir(cfg.target_dir)
    assert f"schema-{STATUS_TOPIC}.json" in names
    assert [n for n in names if n.startswith(".schema-")] == []


def test_restructure_run_writes_nothing_to_stdout(spark, tmp_path, capfd):
    """Progress lines go to the ``progress`` logger, not stdout."""
    src = reference_shaped_tree(str(tmp_path / "in"), accel_records=4)
    capfd.readouterr()
    assert run_avro_restructure_job(spark, src, _job(tmp_path))["files_processed"] == 3
    assert capfd.readouterr().out == ""


@pytest.mark.parametrize("root_form", ["plain", "uri"])
def test_ledger_of_the_previous_mtime_convention_reprocesses_nothing(spark, tmp_path, root_form):
    """Upgrade: a ledger committed before the walk's mtimes were whole
    milliseconds reprocesses no file.  A plain-path root's ledger held
    ``file_micros(st_mtime)``, a ``file://`` root's Hadoop's milliseconds;
    the files' mtimes are sub-millisecond, an exact millisecond (one whose
    ``ms / 1000 * 1e6`` truncates to 1 µs below ``ms * 1000``) and an exact
    second."""
    from restructure_hdfs_topic_spark.operators.offsets import commit_offsets, file_micros

    src = tmp_path / "in"
    exact_ms = 1_119_162_934_439
    assert int(exact_ms / 1000 * 1e6) == exact_ms * 1000 - 1
    mtimes_ns = [1_700_000_000_123_456_789, exact_ms * 1_000_000, 1_700_000_002 * 10**9]
    ledger = []
    for k, ns in enumerate(mtimes_ns):
        recs = [reading("p", "u", 1_600_000_000.0 + 600 * (4 * k + i)) for i in range(4)]
        path = write_topic_file(str(src), "events", 0, 4 * k, recs)
        os.utime(path, ns=(ns, ns))
        if root_form == "plain":
            last_processed = file_micros(os.stat(path).st_mtime)
        else:
            hp = spark._jvm.org.apache.hadoop.fs.Path(f"file://{path}")
            ms = hp.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(hp).getModificationTime()
            last_processed = file_micros(ms / 1000.0)
        ledger.append(("events", 0, 4 * k, 4 * k + 3, last_processed))
    cfg = _job(tmp_path)
    commit_offsets(spark, cfg.state_dir, ledger)
    root = str(src) if root_form == "plain" else f"file://{src}"
    res = run_avro_restructure_job(spark, root, cfg, now_s=1_700_003_600.0)
    assert (res["files_processed"], res["records_written"]) == (0, 0)
