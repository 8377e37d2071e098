"""Local target ownership/permission parity (LocalTargetStorage.kt:60-75)."""

import os
import stat

import pytest

from restructure_hdfs_topic_spark.config import RestructureConfig
from restructure_hdfs_topic_spark.target_attrs import (
    DIR_MODE,
    FILE_MODE,
    apply_local_target_attrs,
)


def _build_tree(root):
    sub = root / "projectId=p" / "userId=u" / "topic=t"
    sub.mkdir(parents=True)
    f1 = sub / "part-0000.csv"
    f1.write_text("a,b\n1,2\n")
    f2 = root / "schema-t.json"
    f2.write_text("{}")
    # Wrong modes the post-pass must repair (reference chmods every store).
    os.chmod(f1, 0o600)
    os.chmod(f2, 0o777)
    os.chmod(sub, 0o700)
    return f1, f2, sub


def test_apply_local_target_attrs_sets_reference_modes(tmp_path):
    f1, f2, sub = _build_tree(tmp_path)
    touched = apply_local_target_attrs(
        str(tmp_path), user_id=os.getuid(), group_id=os.getgid()
    )
    assert touched >= 6  # 4 dirs + 2 files
    for f in (f1, f2):
        assert stat.S_IMODE(os.stat(f).st_mode) == FILE_MODE  # rw-r--r--
    for d in (sub, tmp_path):
        assert stat.S_IMODE(os.stat(d).st_mode) == DIR_MODE  # rwxr-xr-x
    st = os.stat(f1)
    assert (st.st_uid, st.st_gid) == (os.getuid(), os.getgid())


def test_apply_local_target_attrs_uri_scoping(tmp_path):
    # file:// URIs resolve to their local path; object stores are no-ops
    # (the reference scopes this behavior to LocalTargetStorage).
    from restructure_hdfs_topic_spark.storage import local_path

    assert local_path("s3a://bucket/out") is None
    assert local_path("hdfs://nn/out") is None
    assert local_path(str(tmp_path)) == str(tmp_path)
    assert local_path(f"file://{tmp_path}") == str(tmp_path)
    _build_tree(tmp_path)
    assert apply_local_target_attrs("s3a://bucket/out") == 0
    assert apply_local_target_attrs(f"file://{tmp_path}") >= 6
    # Missing tree: no-op, not an error.
    assert apply_local_target_attrs(str(tmp_path / "absent")) == 0


@pytest.mark.parametrize("resolve", ["os", "hadoop"])
@pytest.mark.parametrize("form", ["file:{}", "file://{}"])
def test_apply_local_target_attrs_on_file_uri_targets(spark, tmp_path, form, resolve):
    """A ``file:/abs`` target (the single-slash form Hadoop renders) and a
    ``file:///abs`` target get the attributes a plain path gets, resolved
    without a session and through Hadoop alike."""
    f1, f2, sub = _build_tree(tmp_path)
    kw = {"spark": spark} if resolve == "hadoop" else {}
    assert apply_local_target_attrs(form.format(tmp_path), **kw) >= 6
    for f in (f1, f2):
        assert stat.S_IMODE(os.stat(f).st_mode) == FILE_MODE
    for d in (sub, tmp_path):
        assert stat.S_IMODE(os.stat(d).st_mode) == DIR_MODE


def test_target_config_from_dict():
    cfg = RestructureConfig.from_dict(
        {
            "target_dir": "/out",
            "target": {
                "local_user_id": 123,
                "local_group_id": 456,
                "apply_local_attrs": True,
            },
        }
    )
    assert cfg.target.local_user_id == 123
    assert cfg.target.local_group_id == 456
    assert cfg.target.apply_local_attrs is True
    # Default stays off with -1 (reference LocalConfig defaults).
    dflt = RestructureConfig()
    assert dflt.target.local_user_id == -1
    assert dflt.target.apply_local_attrs is False


def test_apply_local_target_attrs_since_bound(tmp_path):
    """since_s mirrors the reference's per-store application: files older
    than the bound keep their modes; new files (and all dirs) are fixed."""
    import time

    f1, f2, sub = _build_tree(tmp_path)
    cutoff = time.time() + 10  # everything existing is "old"
    new = sub / "fresh.csv"
    new.write_text("x\n")
    os.chmod(new, 0o600)
    os.utime(new, (cutoff + 5, cutoff + 5))
    apply_local_target_attrs(str(tmp_path), since_s=cutoff)
    assert stat.S_IMODE(os.stat(new).st_mode) == FILE_MODE
    assert stat.S_IMODE(os.stat(f1).st_mode) == 0o600  # untouched: pre-bound
    assert stat.S_IMODE(os.stat(sub).st_mode) == DIR_MODE  # dirs always fixed
