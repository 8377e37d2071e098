"""Versioned state store (SURVEY O17/O18): the one owner of a state
directory's on-disk layout and of its compare-and-swap commit.

Reference: one accountant persistence layer owns the offset format and its
atomic write, and callers only merge and remove
(accounting/OffsetFilePersistence.kt:34-123, the atomic move of
target/LocalTargetStorage.kt:60-72).  Here every state lane is a few lines
over ``read`` and ``commit``: the offset ledger (``operators/offsets.py``)
and the fingerprint and MinHash-signature lanes
(``operators/incremental.py``).  Each lane owns its OWN state directory
and picks its payload in code: ``Document`` (the offset ledger, kept on
the driver) or ``Parquet`` (the fingerprint and signature lanes).

Layout of a state directory (the ``offsets`` names predate the other
lanes, which use them too):

- ``offsets.CURRENT`` — pointer file holding ``v{N:08d}``, the visible
  version;
- ``offsets/v{N:08d}/`` — committed version N, immutable once renamed
  into place: the lane's payload plus ``_SUCCESS`` — ``state.json`` for a
  ``Document`` lane, parquet part files for a ``Parquet`` lane;
- ``offsets/.claim.v{N:08d}`` — exclusive claim on version N, holding the
  claimant's owner token;
- ``offsets/.staging.v{N:08d}.{token}/`` — a claimant's scratch write.

Commit (``commit``): resolve the current version N once, read the
snapshot at N, compute ``update(snapshot)``, claim N+1, write the result
to staging, re-verify the claim token, rename staging to ``v{N+1}`` (never
over an existing directory), swap the pointer, prune versions below N (N
survives one commit so lazy frames over it keep resolving).  A crash
mid-commit never loses state: the pointer flips or it does not.  A taken
claim sends the committer back to a fresh snapshot; a claim whose owner
died is broken after ``CLAIM_TTL_S`` and its durable orphan version is
adopted.  Call ``commit`` only after the data the state records is durably
written (commit-after-store, worker/FileCache.kt:128-158).

Storage: ``state_dir`` is resolved through the Hadoop FS, so plain paths,
``file://``, ``hdfs://`` and ``s3a://`` take one code path.  The ``file``
scheme differs in three primitives only: the exclusive create
(``locks.create_exclusive``, also of every small file: no ``.crc``
sidecars), the no-replace directory rename (``_rename_no_replace``) and
the pointer swap (``_write_pointer``).
"""

from __future__ import annotations

import contextlib
import os
import random
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from restructure_hdfs_topic_spark.locks import create_exclusive
from restructure_hdfs_topic_spark.session import local_frame

_POINTER = "offsets.CURRENT"
# A claim older than this whose version never became current is broken.
CLAIM_TTL_S = 600.0
# Entries of ``offsets/`` that carry a version number: ``v{N}``,
# ``.claim.v{N}`` and ``.staging.v{N}.{token}`` (a stray ``v1.bak`` does not).
_VERSIONED = re.compile(r"(?:v|\.claim\.v)(\d+)|\.staging\.v(\d+)\..+")


class ClaimLost(RuntimeError):
    """The committer's version claim was broken (TTL-expired and taken
    over by a peer) between claiming and committing — the commit must be
    retried against a fresh snapshot."""


def _version(v: int) -> str:
    return f"offsets/v{v:08d}"


def _claim(v: int) -> str:
    return f"offsets/.claim.v{v:08d}"


def _hfs(spark: SparkSession, state_dir: str):
    """(jvm, FileSystem, Path) of ``state_dir`` through the Hadoop FS API."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(state_dir)
    return jvm, root.getFileSystem(spark._jsc.hadoopConfiguration()), root


def _open(spark: SparkSession, state_dir: str):
    """(FileSystem, name -> Hadoop Path under ``state_dir``)."""
    jvm, fs, root = _hfs(spark, state_dir)
    return fs, lambda name: jvm.org.apache.hadoop.fs.Path(root, name)


def _local(fs, path) -> str | None:
    """The local path of ``path`` on the ``file`` scheme, else None."""
    return fs.pathToFile(path).getPath() if fs.getScheme() == "file" else None


def _read_text(fs, path) -> str | None:
    """Stripped text of a small file; None when missing or unreadable."""
    try:
        stream = fs.open(path)
    except Exception:
        return None
    try:
        return bytes(stream.readAllBytes()).decode().strip()
    finally:
        stream.close()


def _create(fs, path, text: str) -> None:
    """Create the small file ``path``, a fresh name, holding ``text`` (on
    ``file``: plain file I/O, no ``.crc`` sidecar)."""
    if not create_exclusive(fs, path, text.encode()):
        raise OSError(f"state store: could not create {path}")


class Parquet:
    """A DataFrame lane's payload: each version is a parquet directory.
    ``schema`` (DDL) pins the read, so it runs no footer-inference job, and
    the written state is cast to it, so the pinned read reads back what was
    written.  A lane whose column types follow its input (the signature
    lane's id) passes ``infer=True``: the footers decide, and ``schema``
    only shapes the empty state."""

    def __init__(self, schema: str, infer: bool = False):
        self.schema, self.infer = schema, infer

    def read(self, spark: SparkSession, path: str | None) -> DataFrame:
        if path is None:
            return local_frame(spark, [], self.schema)
        reader = spark.read if self.infer else spark.read.schema(self.schema)
        return reader.parquet(path)

    def write(self, spark: SparkSession, path: str, state: DataFrame) -> None:
        if not self.infer:
            state = state.select(
                *[F.col(f.name).cast(f.dataType) for f in StructType.fromDDL(self.schema)]
            )
        state.write.mode("overwrite").parquet(path)


class Document:
    """A driver-side lane's payload: each version directory holds one text
    document, ``state.json``, plus ``_SUCCESS``, read and written through
    the FS with no Spark job.  ``encode(state)`` is the document's text and
    ``decode(text)`` the state again; ``decode(None)`` is the empty state.
    A committed version without the document was written as parquet before
    the lane had one: ``legacy(spark, path)`` reads it, and the next commit
    writes the document."""

    NAME = "state.json"

    def __init__(self, encode, decode, legacy):
        self.encode, self.decode, self.legacy = encode, decode, legacy

    def read(self, spark: SparkSession, path: str | None):
        if path is None:
            return self.decode(None)
        fs, at = _open(spark, path)
        text = _read_text(fs, at(self.NAME))
        return self.legacy(spark, path) if text is None else self.decode(text)

    def write(self, spark: SparkSession, path: str, state) -> None:
        fs, at = _open(spark, path)
        for name, text in ((self.NAME, self.encode(state)), ("_SUCCESS", "")):
            _create(fs, at(name), text)


def current_version(spark: SparkSession, state_dir: str) -> int | None:
    """The committed version ``offsets.CURRENT`` names (None before the
    first commit).

    Pointer-loss recovery: a missing pointer must NOT read as empty state
    (that would reprocess every committed file and emit duplicates).
    Committed versions are immutable directories, so the highest
    fully-written ``offsets/v*`` (``_SUCCESS`` present) IS the last commit
    — a commit only runs after its data write succeeded, so adopting it is
    always safe."""
    fs, at = _open(spark, state_dir)
    text = _read_text(fs, at(_POINTER))
    if text is not None:
        return int(text.lstrip("v"))
    try:
        entries = fs.listStatus(at("offsets"))
    except Exception:
        return None
    names = [st.getPath().getName() for st in entries]
    done = [
        int(n[1:]) for n in names
        if re.fullmatch(r"v\d+", n) and fs.exists(at(f"offsets/{n}/_SUCCESS"))
    ]
    return max(done, default=None)


def read(spark: SparkSession, state_dir: str, payload) -> tuple[object, int | None]:
    """The committed state and its version, ``(state, version)``; before
    the first commit the state is the payload's empty state and the
    version None."""
    version = current_version(spark, state_dir)
    return _read_at(spark, state_dir, version, payload), version


def _read_at(spark: SparkSession, state_dir: str, version: int | None, payload):
    """The state at an explicitly resolved version (so a commit pins its
    snapshot to the same version it claims against)."""
    return payload.read(spark, None if version is None else f"{state_dir}/{_version(version)}")


def commit(
    spark: SparkSession, state_dir: str, update, payload
) -> tuple[object, int, int]:
    """Commit ``update(snapshot)`` as the next version of ``state_dir``;
    returns ``(state, snapshot_version, committed_version)``, the state
    being the committed one read back (snapshot version 0 = empty state).

    Compare-and-swap: the current version is resolved EXACTLY once per
    attempt, the snapshot is read from that version and the claim is on
    the next one, so a peer commit in between fails the claim and forces a
    fresh snapshot instead of a stale-merge overwrite.  ``update`` runs
    once per attempt, before the claim (a peer may commit while it runs).
    ``payload`` (``Parquet`` or ``Document``) reads and writes versions."""
    for attempt in range(64):
        cur = current_version(spark, state_dir)
        nxt_state = update(_read_at(spark, state_dir, cur, payload))
        nxt = (cur or 0) + 1
        token = _claim_version(spark, state_dir, nxt)
        if token is None:
            # Another committer holds this version: re-read so its commit
            # is in our update, then contend again.  A claim whose owner
            # crashed is broken after a TTL so commits cannot deadlock on it.
            _break_stale_claim(spark, state_dir, nxt)
            if _claim_owner(spark, state_dir, nxt) is not None:
                # A LIVE peer's commit may include a parquet write that
                # takes seconds: back off with jitter so the attempt budget
                # spans at least one full peer commit.
                time.sleep(min(2.0, 0.05 * (attempt + 1)) * (0.5 + random.random()))
            continue
        try:
            _replace_at(spark, state_dir, payload, nxt_state, nxt, token)
        except ClaimLost:
            # Our claim was TTL-broken while we were writing (stall): the
            # peer's commit is durable; retry against the fresh snapshot.
            continue
        return _read_at(spark, state_dir, nxt, payload), cur or 0, nxt
    raise RuntimeError(f"state commit: version contention in {state_dir}")


def _claim_version(spark: SparkSession, state_dir: str, nxt: int) -> str | None:
    """Claim version ``nxt`` by creating its claim marker exclusively — the
    serialization point that keeps two committers out of one version
    directory.  The marker carries an OWNER TOKEN which ``_replace_at``
    re-verifies before making the version visible: a committer stalled
    past the claim TTL whose claim a peer broke and re-claimed fails that
    check instead of overwriting the peer's state.  Returns the token, or
    None if the claim is held.  Claims are pruned with their versions."""
    fs, at = _open(spark, state_dir)
    token = uuid.uuid4().hex
    return token if create_exclusive(fs, at(_claim(nxt)), token.encode()) else None


def _claim_owner(spark: SparkSession, state_dir: str, nxt: int) -> str | None:
    """Owner token in the claim marker of ``nxt`` (None when missing)."""
    fs, at = _open(spark, state_dir)
    return _read_text(fs, at(_claim(nxt)))


def _break_stale_claim(
    spark: SparkSession, state_dir: str, nxt: int, ttl_s: float = CLAIM_TTL_S
) -> None:
    """Recover from a committer that claimed version ``nxt`` and died.

    A claim older than ``ttl_s`` whose version never became current is
    broken by TOMBSTONE-RENAME (exactly one breaker's rename succeeds — a
    delete+recreate pair would let two breakers re-create the two-writer
    race the claim exists to prevent).  An orphaned ``v{nxt}`` directory,
    if any, is ADOPTED, never deleted: a version directory only comes into
    existence via the rename of a fully-written staging dir, so its
    presence means the stalled committer's data write IS durable and only
    the pointer swap is missing — commit-after-store ordering makes
    completing that swap always safe.  Deleting it instead would destroy
    committed data when the breaker fires between a stalled peer's rename
    and its pointer write, and successors would livelock on rename-refused
    ``ClaimLost`` retries against the orphan.  A >TTL-stalled committer
    that later wakes loses its claim, the lease semantics of ``locks.py``."""
    fs, at = _open(spark, state_dir)
    path = at(_claim(nxt))
    try:
        if time.time() - fs.getFileStatus(path).getModificationTime() / 1000 < ttl_s:
            return
    except Exception:
        return
    if (current_version(spark, state_dir) or 0) >= nxt:
        return
    tomb = at(f"{_claim(nxt)}.broken.{uuid.uuid4().hex}")
    try:
        if not fs.rename(path, tomb):
            return
    except Exception:
        return  # another breaker won
    try:
        # Rename preserves mtime: restore a claim that turned out FRESH
        # (broken and re-created between our stat and rename — the
        # re-claimer may be mid-commit).
        if time.time() - fs.getFileStatus(tomb).getModificationTime() / 1000 < ttl_s:
            fs.rename(tomb, path)
            return
        fs.delete(tomb, False)
    except Exception:
        pass
    _adopt_orphan_version(spark, state_dir, nxt)


def _adopt_orphan_version(spark: SparkSession, state_dir: str, nxt: int) -> None:
    """Finish a dead committer's commit: if a fully-written ``v{nxt}``
    exists but the pointer trails it, swing the pointer to it.  Safe by
    commit-after-store ordering, idempotent with the stalled committer's
    own later pointer write, and required to unblock successors (see
    ``_break_stale_claim``).  No-op when the directory is absent or
    incomplete."""
    fs, at = _open(spark, state_dir)
    try:
        if not fs.exists(at(f"{_version(nxt)}/_SUCCESS")):
            return
    except Exception:
        return
    if (current_version(spark, state_dir) or 0) < nxt:
        _write_pointer(spark, state_dir, nxt)


def _write_pointer(spark: SparkSession, state_dir: str, nxt: int) -> None:
    """Atomically swap ``offsets.CURRENT`` to version ``nxt``.  On ``file``:
    ``os.replace`` of a tempfile.  Elsewhere: a temp object renamed with
    ``FileContext`` and ``Rename.OVERWRITE`` (one atomic metadata op on
    HDFS), falling back to delete+rename on stores without it — that
    fallback's no-pointer crash window is closed by ``current_version``'s
    recovery."""
    fs, at = _open(spark, state_dir)
    pointer, text = at(_POINTER), f"v{nxt:08d}"
    tmp = at(f".{_POINTER}.{text}.{uuid.uuid4().hex}")
    _create(fs, tmp, text)
    local = _local(fs, pointer)
    if local is not None:
        os.replace(_local(fs, tmp), local)
        # A pointer once written through Hadoop's checksummed local FS left
        # a ``.crc`` sidecar that no longer matches.
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(os.path.dirname(local), f".{_POINTER}.crc"))
        return
    jvm = spark._jvm
    try:
        opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            pointer.toUri(), spark._jsc.hadoopConfiguration()
        ).rename(tmp, pointer, opts)
    except Exception:
        if fs.exists(pointer):
            fs.delete(pointer, False)
        fs.rename(tmp, pointer)


def _rename_no_replace(spark: SparkSession, state_dir: str, src: str, dst: str) -> bool:
    """Rename directory ``src`` to ``dst`` (names under ``state_dir``)
    unless ``dst`` exists; True when renamed.  On ``file`` this is
    ``os.rename``, which refuses a non-empty target atomically.  Hadoop's
    rename moves ``src`` INTO an existing ``dst`` instead of failing, so
    elsewhere ``dst`` is checked first (the residual race is the rename
    itself, a metadata op after ``_replace_at``'s owner-token check)."""
    fs, at = _open(spark, state_dir)
    local = _local(fs, at(src))
    if local is not None:
        try:
            os.rename(local, _local(fs, at(dst)))
        except OSError:
            return False
        return True
    return not fs.exists(at(dst)) and bool(fs.rename(at(src), at(dst)))


def _replace_at(
    spark: SparkSession, state_dir: str, payload, state, nxt: int, token: str
) -> None:
    """Make ``state`` visible as version ``nxt``: write it with
    ``payload`` to a UNIQUE staging directory, re-verify claim ownership,
    rename staging into place, swap the pointer, prune.

    Staging + verify + rename is what makes a broken claim actually LOSE:
    a committer stalled past the claim TTL whose claim a peer broke and
    re-claimed would otherwise wake and overwrite the peer's committed
    version directory with a result built on a stale snapshot.  With
    staging, its write lands in its own scratch dir, and the ownership
    check (and the rename's refusal to replace an existing version dir)
    turns the wake-up into a clean ``ClaimLost`` retry."""
    fs, at = _open(spark, state_dir)
    staging = f"offsets/.staging.v{nxt:08d}.{token}"
    payload.write(spark, f"{state_dir}/{staging}", state)
    if _claim_owner(spark, state_dir, nxt) != token:
        lost = "owner token changed"
    else:
        _clear_incomplete_version(spark, state_dir, nxt)
        renamed = _rename_no_replace(spark, state_dir, staging, _version(nxt))
        lost = None if renamed else "version directory already exists"
    if lost:
        with contextlib.suppress(Exception):
            fs.delete(at(staging), True)
        # If a fully-committed v{nxt} sits there with a trailing pointer
        # (its committer died between rename and pointer write), finish
        # that commit now — otherwise every retry recomputes the same nxt
        # and re-aborts here until a TTL elapses.
        with contextlib.suppress(Exception):
            _adopt_orphan_version(spark, state_dir, nxt)
        raise ClaimLost(f"version v{nxt} claim lost ({lost}) in {state_dir}")
    # v{nxt} is ours.  A visible version BEYOND nxt means a TTL-breaker
    # adopted our orphan while we stalled and peers built on it — writing
    # the pointer would regress their commits.  At exactly nxt the write is
    # idempotent (and on a first commit recovery already reads nxt from
    # our just-renamed directory, so `<=` is what still creates it).
    if (current_version(spark, state_dir) or 0) <= nxt:
        _write_pointer(spark, state_dir, nxt)
    for st in fs.listStatus(at("offsets")):
        m = _VERSIONED.fullmatch(st.getPath().getName())
        if m and int(m.group(1) or m.group(2)) < nxt - 1:
            # Old versions and their claims, and scratch left by a
            # committer that died (or lost its claim) long ago.
            fs.delete(st.getPath(), True)


def _clear_incomplete_version(spark: SparkSession, state_dir: str, nxt: int) -> None:
    """Claim-holder-only debris sweep: remove a ``v{nxt}`` directory that
    lacks ``_SUCCESS`` — crash leftovers or external interference, never
    committed data (staged dirs are fully written, ``_SUCCESS`` included,
    BEFORE their rename).  While the caller holds the claim no live peer
    may create ``v{nxt}``, so the check-then-delete is race-free at the
    protocol's TTL granularity.  Without the sweep, debris livelocks every
    commit that reaches ``nxt``: the rename is refused, adoption no-ops on
    the incomplete dir, and the ``ClaimLost`` retry recomputes the same
    ``nxt`` forever."""
    fs, at = _open(spark, state_dir)
    with contextlib.suppress(Exception):
        if fs.exists(at(_version(nxt))) and not fs.exists(at(f"{_version(nxt)}/_SUCCESS")):
            fs.delete(at(_version(nxt)), True)
