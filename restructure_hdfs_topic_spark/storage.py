"""Storage (SURVEY §1.4): the one module that resolves a path to a store
and performs file I/O on it.

The reference has three storage layers: ``SourceStorage`` (list, open,
delete, source/SourceStorage.kt:10-38), ``TargetStorage`` (status, read,
move, store, delete, target/TargetStorage.kt:26-66) and the offset and
lock persistence.  Here all three are one store, and ``store(path,
spark)`` picks it by one rule: the path resolves through Hadoop
(``Path(p).getFileSystem(conf)``, so a scheme-less path follows
``fs.defaultFS``); when the resolved file system's scheme is ``file``,
the store is ``Local`` (OS calls), otherwise ``Hadoop`` (the Hadoop
FileSystem API over py4j, for hdfs://, s3a://, viewfs:// ...).  Without a
Spark session only local paths, plain or ``file:``, are served.

Listing stays on ``os.walk``/``stat`` for ``file``: a py4j ``listFiles``
round trip per file costs about 700 times as much.

Both stores keep the same conventions:

- Paths keep the form the caller gave: a plain root lists plain paths.
- An mtime is Hadoop's whole milliseconds, in epoch seconds: the value
  Spark's ``_metadata.file_modification_time`` gives each record.
- Listings hide checksum sidecars (``.<name>.crc``), as Hadoop's
  checksummed local file system does.
- ``create_exclusive`` is atomic: ``O_CREAT | O_EXCL`` on ``file``
  (Hadoop's local ``create(p, false)`` checks, then creates),
  ``create(p, false)`` elsewhere.
- ``rename_no_replace`` never replaces a file and never moves a
  directory INTO an existing one, which Hadoop's own rename does.
- ``replace`` publishes a small file atomically (see its docstring).
- On ``file``, creates, writes and renames leave no ``.crc`` sidecar,
  reads verify one where it exists (Spark's staged parts carry them), and
  deletes take it along.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import struct
import zlib
from urllib.parse import urlparse

# A URI scheme prefix: Hadoop renders ``file:///x`` as ``file:/x``.
_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def store(path: str, spark=None) -> "Local | Hadoop":
    """The store that serves ``path`` (see the module docstring)."""
    if spark is None:
        if _SCHEME.match(path) and not path.startswith("file:"):
            raise ValueError(f"{path!r} is not a local path: resolving it needs spark")
        return LOCAL
    fs = spark._jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    return LOCAL if fs.getScheme() == "file" else Hadoop(spark, fs)


def local_path(path: str, spark=None) -> str | None:
    """The OS path of ``path`` when its store is the local file system,
    else None (also when no file system serves its scheme)."""
    try:
        st = store(path, spark)
    except Exception:
        return None
    return _os_path(path) if st is LOCAL else None


def object_key(path: str) -> str:
    """The object key of a listed path: scheme and authority (bucket,
    container) stripped, as object-store metadata APIs expect."""
    if _SCHEME.match(path):
        return urlparse(path).path.lstrip("/")
    return path.lstrip("/")


def _mtime_s(st: os.stat_result) -> float:
    """An OS mtime as Hadoop's whole milliseconds, in epoch seconds.  For
    an mtime of exactly a millisecond, ``st_mtime`` (what a plain-path
    walk once used) can round one ulp apart from it: the lower of the two
    keeps a ledger committed under either convention reading the file as
    seen (O4's ``mtime <= last_processed``)."""
    return min(st.st_mtime_ns // 1_000_000 / 1000, st.st_mtime)


def _os_path(path: str) -> str:
    return (urlparse(path).path or "/") if path.startswith("file:") else path


def _crc_path(path: str) -> str:
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.crc")


def _is_crc(name: str) -> bool:
    return name.startswith(".") and name.endswith(".crc")


def _drop_crc(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(_crc_path(path))


def _verify_crc(path: str, data: bytes) -> None:
    """Check ``data`` against the Hadoop checksum sidecar of ``path``, if
    any: ``crc\\0``, the bytes per checksum, then one CRC32 per chunk."""
    try:
        with io.open(_crc_path(path), "rb") as fh:
            sums = fh.read()
    except FileNotFoundError:
        return
    if sums[:4] != b"crc\0" or len(sums) < 8:
        raise OSError(f"checksum error: {path}")
    (per,) = struct.unpack(">I", sums[4:8])
    view = memoryview(data)
    got = b"".join(
        struct.pack(">I", zlib.crc32(view[i : i + per])) for i in range(0, len(data), per)
    )
    if got != sums[8:]:
        raise OSError(f"checksum error: {path}")


class _FaultInjected(RuntimeError):
    """Raised by a monkeypatched ``_fault_point`` in crash-path tests."""


def _fault_point(tag: str) -> None:
    """Fault-injection hook: a NO-OP in production.  Crash-surface tests
    (tests/test_r13_properties.py) monkeypatch it to raise
    ``_FaultInjected`` at a chosen point of ``replace``'s fallback
    protocol, pinning that a reader always recovers SOME valid version at
    every crash point (the LevelDB/RocksDB FaultInjectionTestEnv
    pattern)."""


class _Store:
    """What both stores build from their own primitives."""

    def write(self, path: str, data: bytes) -> None:
        """Create or overwrite the file ``path`` holding ``data``."""
        with self.create(path) as out:
            out.write(data)

    def read_replaced(self, path: str) -> bytes:
        """Read a file ``replace`` publishes: ``path``, else the previous
        version at ``<path>.old`` that the fallback protocol keeps visible
        between its two renames.  Raises ``path``'s error when neither
        exists."""
        try:
            return self.read(path)
        except Exception as exc:
            try:
                return self.read(f"{path}.old")
            except Exception:
                raise exc


class Local(_Store):
    """The local file system, through OS calls."""

    def list_files(self, root: str) -> list[tuple[str, float, int]]:
        """``(path, mtime_s, size)`` of every file under ``root``; empty
        when ``root`` does not exist."""
        base, prefix = _os_path(root).rstrip("/"), root.rstrip("/")
        out = []
        for dirpath, _dirs, names in os.walk(base or "/"):
            rel = dirpath[len(base) :]
            for name in names:
                if _is_crc(name):
                    continue
                with contextlib.suppress(FileNotFoundError):
                    st = os.stat(os.path.join(dirpath, name))
                    out.append((f"{prefix}{rel}/{name}", _mtime_s(st), st.st_size))
        return out

    def open(self, path: str):
        """A seekable binary reader."""
        return io.open(_os_path(path), "rb")

    def read(self, path: str) -> bytes:
        p = _os_path(path)
        with io.open(p, "rb") as fh:
            data = fh.read()
        _verify_crc(p, data)
        return data

    def exists(self, path: str) -> bool:
        return os.path.exists(_os_path(path))

    def mtime(self, path: str) -> float | None:
        try:
            return _mtime_s(os.stat(_os_path(path)))
        except OSError:
            return None

    def list_dir(self, path: str) -> list[str]:
        try:
            return [n for n in os.listdir(_os_path(path)) if not _is_crc(n)]
        except (FileNotFoundError, NotADirectoryError):
            return []

    def delete(self, path: str, recursive: bool = False) -> bool:
        p = _os_path(path)
        try:
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p) if recursive else os.rmdir(p)
            else:
                os.remove(p)
        except FileNotFoundError:
            return False
        _drop_crc(p)
        return True

    def create(self, path: str):
        """A binary writer that creates or overwrites ``path``."""
        p = _os_path(path)
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        _drop_crc(p)
        return io.open(p, "wb")

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Create ``path`` holding ``data`` unless it exists: True when
        this call created it.  A create whose write fails is removed
        again, so a half-written file holds no name."""
        p = _os_path(path)
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o666)
        except FileExistsError:
            return False
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
        except OSError:
            os.remove(p)
            return False
        return True

    def replace(self, path: str, data: bytes, tmp: str | None = None) -> None:
        """Publish ``data`` at ``path`` atomically: write ``tmp`` (default
        ``<path>.tmp``), then ``os.replace`` it over ``path``."""
        tmp = tmp or f"{path}.tmp"
        self.write(tmp, data)
        p = _os_path(path)
        os.replace(_os_path(tmp), p)
        _drop_crc(p)

    def rename_no_replace(self, src: str, dst: str) -> bool:
        """Rename ``src`` to ``dst`` unless ``dst`` exists: True when
        renamed.  A directory moves with ``os.rename``, which refuses a
        non-empty target; a file is hard-linked to ``dst`` (refused when it
        exists) and unlinked, so of two renames of one file exactly one
        wins."""
        s, d = _os_path(src), _os_path(dst)
        os.makedirs(os.path.dirname(d) or ".", exist_ok=True)
        if os.path.isdir(s):
            try:
                os.rename(s, d)
            except OSError:
                return False
            return True
        try:
            os.link(s, d)
        except OSError:
            return False
        try:
            os.remove(s)
        except FileNotFoundError:
            os.remove(d)  # a concurrent rename of ``src`` won
            return False
        _drop_crc(s)
        return True


LOCAL = Local()


class Hadoop(_Store):
    """A Hadoop FileSystem, through py4j."""

    def __init__(self, spark, fs):
        self._spark, self._fs = spark, fs
        self._jvm = spark._jvm

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def list_files(self, root: str) -> list[tuple[str, float, int]]:
        """One recursive LIST, the same O(#files) metadata as the walk."""
        hp = self._p(root)
        if not self._fs.exists(hp):
            return []
        qualified, prefix = self._fs.makeQualified(hp).toString(), root.rstrip("/")
        out = []
        it = self._fs.listFiles(hp, True)
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            if p.startswith(qualified):
                p = prefix + p[len(qualified) :]
            out.append((p, st.getModificationTime() / 1000, st.getLen()))
        return out

    def open(self, path: str) -> "_HadoopReader":
        return _HadoopReader(self._jvm, self._fs, self._p(path))

    def read(self, path: str) -> bytes:
        stream = self._fs.open(self._p(path))
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def mtime(self, path: str) -> float | None:
        try:
            return self._fs.getFileStatus(self._p(path)).getModificationTime() / 1000
        except Exception:
            return None

    def list_dir(self, path: str) -> list[str]:
        hp = self._p(path)
        if not self._fs.exists(hp):
            return []
        return [str(st.getPath().getName()) for st in self._fs.listStatus(hp)]

    def delete(self, path: str, recursive: bool = False) -> bool:
        return bool(self._fs.delete(self._p(path), recursive))

    def create(self, path: str) -> "_HadoopSink":
        return _HadoopSink(self._fs.create(self._p(path), True))

    def create_exclusive(self, path: str, data: bytes) -> bool:
        hp = self._p(path)
        try:
            out = self._fs.create(hp, False)
        except Exception:
            return False
        try:
            with contextlib.closing(out):
                out.write(bytearray(data))
        except Exception:
            with contextlib.suppress(Exception):
                self._fs.delete(hp, False)
            return False
        return True

    def replace(self, path: str, data: bytes, tmp: str | None = None) -> None:
        """Publish ``data`` at ``path`` atomically: write ``tmp`` (default
        ``<path>.tmp``), then rename it over ``path`` with ``FileContext``
        and ``Rename.OVERWRITE``, one metadata op on HDFS.  Where the
        scheme has no ``FileContext`` (some object-store connectors), the
        current version is renamed aside to ``<path>.old`` first, so one
        durable version exists at every instant (``read_replaced``)."""
        tmp = tmp or f"{path}.tmp"
        self.write(tmp, data)
        _fault_point("atomic.tmp_written")
        jvm, p_tmp, p_dst = self._jvm, self._p(tmp), self._p(path)
        try:
            _fault_point("atomic.filecontext")
            rename = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
            opts = self._spark.sparkContext._gateway.new_array(rename, 1)
            opts[0] = rename.OVERWRITE
            jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                p_dst.toUri(), self._spark._jsc.hadoopConfiguration()
            ).rename(p_tmp, p_dst, opts)
            return
        except Exception:
            pass  # no FileContext for this scheme (or a test forced the fallback)
        fs, p_old = self._fs, self._p(f"{path}.old")
        if fs.exists(p_dst):
            fs.delete(p_old, False)
            _fault_point("fallback.stale_old_cleared")
            if not fs.rename(p_dst, p_old):
                raise OSError(f"replace of {path!r} failed moving the old version aside")
            _fault_point("fallback.aside_done")
        if not fs.rename(p_tmp, p_dst):
            raise OSError(f"replace of {path!r} failed at rename")
        _fault_point("fallback.renamed_in")
        fs.delete(p_old, False)

    def rename_no_replace(self, src: str, dst: str) -> bool:
        """Rename ``src`` to ``dst`` unless ``dst`` exists: True when
        renamed.  Hadoop's rename moves a directory INTO an existing one,
        so ``dst`` is checked first; the residual race is the rename
        itself, one metadata op."""
        d = self._p(dst)
        if self._fs.exists(d):
            return False
        self._fs.mkdirs(d.getParent())
        return bool(self._fs.rename(self._p(src), d))


class _HadoopSink:
    """Write-only stream over an ``FSDataOutputStream``.  It has no
    ``seek``, so zipfile writes through it in data-descriptor mode, the
    streaming layout an object store needs."""

    def __init__(self, stream):
        self._s, self._pos = stream, 0

    def write(self, b) -> int:
        if b:
            self._s.write(bytearray(b))
            self._pos += len(b)
        return len(b)

    def tell(self) -> int:
        return self._pos

    def flush(self) -> None:
        self._s.flush()

    def close(self) -> None:
        self._s.close()

    def __enter__(self) -> "_HadoopSink":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class _HadoopReader(io.RawIOBase):
    """Seekable reader over ``FSDataInputStream``: positioned reads of
    ``chunk`` bytes each, one py4j round trip per chunk, so an Avro
    header scan touches O(#blocks x chunk) bytes and seeks past block
    payloads without fetching them."""

    def __init__(self, jvm, fs, hp, chunk: int = 1 << 16):
        self._jvm, self._chunk = jvm, chunk
        self._size = fs.getFileStatus(hp).getLen()
        self._stream = fs.open(hp)
        self._pos, self._buf, self._buf_start = 0, b"", 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def _fill(self, pos: int) -> None:
        n = int(min(self._chunk, self._size - pos))
        self._buf, self._buf_start = b"", pos
        if n > 0:
            self._stream.seek(pos)
            self._buf = bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(self._stream, n))

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        out = bytearray()
        while n > 0 and self._pos < self._size:
            off = self._pos - self._buf_start
            if not 0 <= off < len(self._buf):
                self._fill(self._pos)
                if not self._buf:
                    break
                off = 0
            take = min(n, len(self._buf) - off)
            out += self._buf[off : off + take]
            self._pos += take
            n -= take
        return bytes(out)

    def seek(self, offset: int, whence: int = 0) -> int:
        self._pos = (0, self._pos, self._size)[whence] + offset
        return self._pos

    def tell(self) -> int:
        return self._pos

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
        super().close()
