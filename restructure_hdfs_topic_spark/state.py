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

Storage: every file operation goes through the store ``storage.store``
resolves ``state_dir`` to, so plain paths, ``file://``, ``hdfs://`` and
``s3a://`` take one code path.  The protocol uses four of its primitives:
the exclusive create (claims and every small file), the no-replace
directory rename (staging to version), the atomic replace (the pointer
swap) and the read; a fallback replace that crashed between its renames
leaves no pointer, which ``current_version``'s recovery scan covers.
"""

from __future__ import annotations

import contextlib
import random
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from restructure_hdfs_topic_spark import storage
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


def _open(spark: SparkSession, state_dir: str):
    """(store of ``state_dir``, name -> path under ``state_dir``)."""
    root = state_dir.rstrip("/")
    return storage.store(state_dir, spark), lambda name: f"{root}/{name}"


def _read_text(st, path: str) -> str | None:
    """Stripped text of a small file; None when missing or unreadable."""
    try:
        return st.read(path).decode().strip()
    except Exception:
        return None


def _create(st, path: str, text: str) -> None:
    """Create the small file ``path``, a fresh name, holding ``text``."""
    if not st.create_exclusive(path, text.encode()):
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
        st, at = _open(spark, path)
        text = _read_text(st, at(self.NAME))
        return self.legacy(spark, path) if text is None else self.decode(text)

    def write(self, spark: SparkSession, path: str, state) -> None:
        st, at = _open(spark, path)
        for name, text in ((self.NAME, self.encode(state)), ("_SUCCESS", "")):
            _create(st, at(name), text)


def current_version(spark: SparkSession, state_dir: str) -> int | None:
    """The committed version ``offsets.CURRENT`` names (None before the
    first commit).

    Pointer-loss recovery: a missing pointer must NOT read as empty state
    (that would reprocess every committed file and emit duplicates).
    Committed versions are immutable directories, so the highest
    fully-written ``offsets/v*`` (``_SUCCESS`` present) IS the last commit
    — a commit only runs after its data write succeeded, so adopting it is
    always safe."""
    st, at = _open(spark, state_dir)
    text = _read_text(st, at(_POINTER))
    if text is not None:
        return int(text.lstrip("v"))
    done = [
        int(n[1:]) for n in st.list_dir(at("offsets"))
        if re.fullmatch(r"v\d+", n) and st.exists(at(f"offsets/{n}/_SUCCESS"))
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
    st, at = _open(spark, state_dir)
    token = uuid.uuid4().hex
    return token if st.create_exclusive(at(_claim(nxt)), token.encode()) else None


def _claim_owner(spark: SparkSession, state_dir: str, nxt: int) -> str | None:
    """Owner token in the claim marker of ``nxt`` (None when missing)."""
    st, at = _open(spark, state_dir)
    return _read_text(st, at(_claim(nxt)))


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
    st, at = _open(spark, state_dir)
    path = at(_claim(nxt))
    mtime = st.mtime(path)
    if mtime is None or time.time() - mtime < ttl_s:
        return
    if (current_version(spark, state_dir) or 0) >= nxt:
        return
    tomb = at(f"{_claim(nxt)}.broken.{uuid.uuid4().hex}")
    try:
        if not st.rename_no_replace(path, tomb):
            return
    except Exception:
        return  # another breaker won
    with contextlib.suppress(Exception):
        # Rename preserves mtime: restore a claim that turned out FRESH
        # (broken and re-created between our stat and rename — the
        # re-claimer may be mid-commit).
        mtime = st.mtime(tomb)
        if mtime is not None and time.time() - mtime < ttl_s:
            st.rename_no_replace(tomb, path)
            return
        st.delete(tomb)
    _adopt_orphan_version(spark, state_dir, nxt)


def _adopt_orphan_version(spark: SparkSession, state_dir: str, nxt: int) -> None:
    """Finish a dead committer's commit: if a fully-written ``v{nxt}``
    exists but the pointer trails it, swing the pointer to it.  Safe by
    commit-after-store ordering, idempotent with the stalled committer's
    own later pointer write, and required to unblock successors (see
    ``_break_stale_claim``).  No-op when the directory is absent or
    incomplete."""
    st, at = _open(spark, state_dir)
    try:
        if not st.exists(at(f"{_version(nxt)}/_SUCCESS")):
            return
    except Exception:
        return
    if (current_version(spark, state_dir) or 0) < nxt:
        _write_pointer(spark, state_dir, nxt)


def _write_pointer(spark: SparkSession, state_dir: str, nxt: int) -> None:
    """Atomically swap ``offsets.CURRENT`` to version ``nxt`` (``replace``,
    through a temp file of this writer's own)."""
    st, at = _open(spark, state_dir)
    text = f"v{nxt:08d}"
    st.replace(at(_POINTER), text.encode(), tmp=at(f".{_POINTER}.{text}.{uuid.uuid4().hex}"))


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
    st, at = _open(spark, state_dir)
    staging = f"offsets/.staging.v{nxt:08d}.{token}"
    payload.write(spark, f"{state_dir}/{staging}", state)
    if _claim_owner(spark, state_dir, nxt) != token:
        lost = "owner token changed"
    else:
        _clear_incomplete_version(spark, state_dir, nxt)
        renamed = st.rename_no_replace(at(staging), at(_version(nxt)))
        lost = None if renamed else "version directory already exists"
    if lost:
        with contextlib.suppress(Exception):
            st.delete(at(staging), recursive=True)
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
    for name in st.list_dir(at("offsets")):
        m = _VERSIONED.fullmatch(name)
        if m and int(m.group(1) or m.group(2)) < nxt - 1:
            # Old versions and their claims, and scratch left by a
            # committer that died (or lost its claim) long ago.
            st.delete(at(f"offsets/{name}"), recursive=True)


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
    st, at = _open(spark, state_dir)
    with contextlib.suppress(Exception):
        if st.exists(at(_version(nxt))) and not st.exists(at(f"{_version(nxt)}/_SUCCESS")):
            st.delete(at(_version(nxt)), recursive=True)
