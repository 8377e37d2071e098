"""Local target ownership/permission parity (SURVEY O13 operational nicety;
reference target/LocalTargetStorage.kt:60-75).

The reference's local target storage, on every ``store``:

- sets ``unix:uid`` / ``unix:gid`` when configured ``>= 0`` (``updateUser``),
- chmods stored files to ``rw-r--r--``,
- creates directories with ``rwxr-xr-x`` (plus uid/gid).

Spark writes land through Hadoop's RawLocalFileSystem with
process-umask permissions, so we apply the same attributes as a
metadata-only post-pass over the written tree.  Local filesystems only —
object stores have no POSIX attributes (the reference scopes this to
``LocalTargetStorage`` likewise).
"""

from __future__ import annotations

import os
import stat

from restructure_hdfs_topic_spark import storage

FILE_MODE = 0o644  # PosixFilePermissions.fromString("rw-r--r--")
DIR_MODE = 0o755  # PosixFilePermissions.fromString("rwxr-xr-x")


def apply_local_target_attrs(
    target_dir: str,
    user_id: int = -1,
    group_id: int = -1,
    since_s: float | None = None,
    spark=None,
) -> int:
    """Walk a local target tree applying the reference's stored-file
    attributes: 0644 files, 0755 dirs, optional uid/gid
    (LocalTargetStorage.kt:58-75).  Returns the number of paths touched;
    no-op (0) for non-local targets or a missing tree.  The target resolves
    through ``storage`` (given ``spark``, through Hadoop: a scheme-less
    path under a non-local ``fs.defaultFS`` is not local).

    ``since_s`` bounds the pass to THIS run's output — files with
    ``st_mtime < since_s`` are skipped (they got their attributes when they
    were stored), which mirrors the reference's per-store application
    instead of re-attributing an ever-growing tree on every iteration.
    Directory listing is still O(tree) metadata reads, but the chmod/chown
    syscalls are O(files written this run).  Pass ``None`` for a full-tree
    repair (first enablement over pre-existing output).

    chown is attempted only when a uid/gid is configured ``>= 0`` — exactly
    the reference's ``updateUser`` guard — and errors propagate like the
    reference's unhandled IOException (running unprivileged with a foreign
    uid is a deployment error, not a silent skip).
    """
    root = storage.local_path(target_dir, spark)
    if root is None or not os.path.isdir(root):
        return 0
    touched = 0
    for dirpath, dirnames, filenames in os.walk(root):
        for name, mode in [(".", DIR_MODE)] + [(f, FILE_MODE) for f in filenames]:
            path = dirpath if name == "." else os.path.join(dirpath, name)
            st = os.lstat(path)
            if stat.S_ISLNK(st.st_mode):
                continue
            if since_s is not None and st.st_mtime < since_s and name != ".":
                continue
            if stat.S_IMODE(st.st_mode) != mode:
                os.chmod(path, mode)
            if (user_id >= 0 and st.st_uid != user_id) or (
                group_id >= 0 and st.st_gid != group_id
            ):
                os.chown(
                    path,
                    user_id if user_id >= 0 else -1,
                    group_id if group_id >= 0 else -1,
                )
            touched += 1
    return touched
