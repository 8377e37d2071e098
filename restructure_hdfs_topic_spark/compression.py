"""Compression codecs (SURVEY O23, compression/*.kt).

gzip and identity map directly onto Spark writer options.  ZIP is not a
Hadoop/Spark writer codec (and object-store readers do not split it), so
the reference's ``.csv.zip`` single-entry format is produced by a repack
pass over the written output: each data file becomes ``<name>.zip`` with
one entry, deflate level 7 (compression/ZipCompression.kt:16-29).

The repack touches each output file once; at cluster scale the same loop
runs in executors over a parallelized path list — kept driver-side here
because zip output is a compatibility format, not a hot path.

Every file access goes through ``storage``: one listing, and one zip
writer that streams each entry in bounded chunks from the store's reader
into the store's writer, whatever the scheme (the reference streams zip
everywhere).  On a Hadoop store the writer cannot seek, so zipfile writes
in data-descriptor mode: no local staging file, no whole-file buffer.
"""

from __future__ import annotations

import shutil
import zipfile

from restructure_hdfs_topic_spark import storage

_CHUNK = 8 * 1024 * 1024


def writer_compression(compression: str | None) -> str | None:
    """The codec to hand to the Spark writer; zip writes uncompressed first
    and repacks afterwards."""
    if compression in ("zip",):
        return None
    return compression


def repack_to_zip(
    target_dir: str,
    extensions: tuple[str, ...] = (".csv", ".json"),
    spark=None,
    select=None,
) -> list[str]:
    """Replace every uncompressed data file under ``target_dir`` (and, given
    ``select``, whose path it accepts) with a single-entry ``<name>.zip``
    (deflate level 7).  Returns the created paths.

    Zip is not a Spark writer codec, so this post-pass (reference
    CompressionFactory.kt zip flavor) walks the written tree; a non-local
    ``target_dir`` needs ``spark``."""
    st = storage.store(target_dir, spark)
    created = []
    for path, _mtime, _size in st.list_files(target_dir):
        name = path.rsplit("/", 1)[-1]
        if not name.endswith(extensions) or name.startswith(("_", ".")):
            continue
        if select is not None and not select(path):
            continue
        with st.create(f"{path}.zip") as out:
            with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED, compresslevel=7) as zf:
                with st.open(path) as src, zf.open(name, "w") as entry:
                    shutil.copyfileobj(src, entry, _CHUNK)
        st.delete(path)
        created.append(f"{path}.zip")
    return created


def read_zip_entry(path: str, spark=None) -> bytes:
    """Read back the single entry of a ``.zip`` output file (the
    reference's decompress side, CompressionFactory.kt:22-27), through the
    store's seekable reader: zip's central directory needs random
    access."""
    with storage.store(path, spark).open(path) as fh, zipfile.ZipFile(fh) as zf:
        names = zf.namelist()
        if len(names) != 1:
            raise ValueError(f"{path}: expected single-entry zip, found {names}")
        return zf.read(names[0])
