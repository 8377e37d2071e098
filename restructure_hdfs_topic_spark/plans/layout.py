"""Template-driven PHYSICAL output layout (the physical half of O11).

The reference places every output file at the rendered template path
``${projectId}/${userId}/${topic}/${filename}`` with ``filename`` =
``<time-bin><attempt-suffix><extension>`` (path/FormattedPathFactory.kt:72-111;
golden list in RestructureS3IntegrationTest.kt), e.g.::

    STAGING_PROJECT/1543bc93-.../application_server_status/20200128_1300.csv
    STAGING_PROJECT/1543bc93-.../application_server_status/schema-application_server_status.json

A Spark ``partitionBy`` writer cannot emit that tree directly (it controls
directories, not filenames), so template mode is a two-phase sink:

1. the partitioned write lands in a hidden Hive-style staging tree
   (``_staging_<topic>/projectId=…/userId=…/topic=…/bin=…/part-*``) — fully
   distributed: the topic write's one shuffle hashes the partition
   columns, or the project, user and bin among them, into a fixed task
   count (one per core, more for a large batch; see
   ``plans.avro_job._write_tasks``), so each bin's rows are written by one
   task into one part file;
2. ``finalize_template_layout`` MOVES each staged part to its rendered final
   path.  A move is one filesystem metadata op per output bin — O(bins
   touched this batch), never O(bytes) — except on object stores where a
   rename is a server-side copy (same cost the reference pays for its
   download-append-reupload, worker/FileCache.kt:61-103, but paid at most
   once per bin instead of once per append).  Moves run on a thread pool:
   S3/ABFS metadata latency dominates, not CPU.

All I/O goes through ``storage``.  On the local file system the staged
parts carry hidden ``.crc`` sidecars (Spark writes through Hadoop's
checksummed local FS): reads of staged parts verify them, while renames,
merged writes and sidecar creates leave none in the analyst-facing tree.

Append semantics across batches match the reference: when the destination
file already exists (a later batch touched an old bin), the staged part is
MERGED into it — decompress, drop the duplicate CSV header, recompress —
exactly the reference's append path, and equally O(file size).

Supported templates: EVERY template the reference's FormattedPathFactory
accepts (path/FormattedPathFactory.kt:31-104) — any arrangement of
``${projectId}``, ``${userId}``, ``${topic}``, ``${sourceId}``,
``${filename}``, split ``${attempt}``/``${extension}``, and any number of
``${time:pattern}`` segments (custom UTC time renderings, :35-46).
Parameters beyond the default four become additional staging partition
columns (``extra_staging_cols``), so per-record grouping keys flow through
the distributed write and the finalize step renders the full template from
the parsed staging path.
"""

from __future__ import annotations

import io
import os
import re
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark import storage
from restructure_hdfs_topic_spark.functions.paths import sanitize_id, validate_template

_PART_EXT_RE = re.compile(r"\.(csv|json)(\.[A-Za-z0-9]+)?$")
_TEMPLATE_PARAM_RE = re.compile(r"\$\{([^}]*)}")


def template_time_patterns(template: str) -> list[str]:
    """Ordered distinct ``${time:pattern}`` patterns in the template —
    pattern i maps to staging partition column ``__tp{i}``."""
    seen: list[str] = []
    for m in _TEMPLATE_PARAM_RE.finditer(template):
        p = m.group(1)
        if p.startswith("time:") and p.removeprefix("time:") not in seen:
            seen.append(p.removeprefix("time:"))
    return seen


def check_physical_template(template: str) -> None:
    """Validate the template (same rules as the reference's init,
    FormattedPathFactory.kt:41-70).  Every legal template is physically
    placeable since extra params ride as staging partition columns."""
    validate_template(template)


def extra_staging_cols(
    template: str, time_col: Column, source_col: Column | None = None
) -> dict[str, Column]:
    """Staging partition columns for template params beyond the default
    (projectId, userId, topic, bin) group: ``sourceId`` (sanitized,
    FormattedPathFactory.kt:88) and one ``__tpN`` per distinct
    ``${time:pattern}`` — UTC-rendered event time, ``unknown-time`` when the
    record has none (:94-98).  The values use the sanitize/sanitized-id
    charset plus date_format output, so Hive path-escaping round-trips via
    percent-decoding in ``finalize_template_layout``."""
    params = set(validate_template(template))
    cols: dict[str, Column] = {}
    if "sourceId" in params:
        cols["sourceId"] = sanitize_id(
            source_col if source_col is not None else F.lit(None).cast("string"),
            "unknown-source",
        )
    for i, pat in enumerate(template_time_patterns(template)):
        cols[f"__tp{i}"] = F.coalesce(F.date_format(time_col, pat), F.lit("unknown-time"))
    return cols


def render_final_path(template: str, topic: str, kv: dict[str, str], ext: str) -> str:
    """Driver-side render of one staged group's final relative path from its
    parsed staging partition values (already sanitized at organize time) —
    the concrete-value twin of the column-expression ``render_template``.
    ``${filename}`` = ``<bin><attempt-suffix><extension>``
    (FormattedPathFactory.kt:83-91)."""
    attempt = kv.get("attempt")
    attempt_suffix = "" if attempt in (None, "", "0") else f"_{attempt}"
    tps = template_time_patterns(template)
    out: list[str] = []
    pos = 0
    for m in _TEMPLATE_PARAM_RE.finditer(template):
        out.append(template[pos : m.start()])
        p = m.group(1)
        if p == "filename":
            out.append(f"{kv.get('bin', '')}{attempt_suffix}{ext}")
        elif p == "topic":
            out.append(topic)
        elif p == "attempt":
            out.append(attempt_suffix)
        elif p == "extension":
            out.append(ext)
        elif p.startswith("time:"):
            out.append(kv[f"__tp{tps.index(p.removeprefix('time:'))}"])
        else:  # projectId / userId / sourceId
            out.append(kv[p])
        pos = m.end()
    out.append(template[pos:])
    return "".join(out)


def template_read_pattern(template: str, topic: str, fmt: str) -> tuple[str, str, int, int]:
    """(glob, regex, projectId-group, userId-group) for reading a template
    tree back (cleaner O21).  The glob matches data files only (the schema
    sidecar never matches the data-extension patterns).  Note: a
    ``${time:pattern}`` whose RENDERED value contains ``/`` (e.g. pattern
    ``yyyy/MM``) spans multiple directories and cannot be globbed back —
    use separate ``${time:...}`` segments instead."""
    check_physical_template(template)
    glob_parts: list[str] = []
    rx_parts: list[str] = []
    group = 0
    gi_proj = gi_user = -1
    pos = 0
    for m in _TEMPLATE_PARAM_RE.finditer(template):
        lit = template[pos : m.start()]
        glob_parts.append(lit)
        rx_parts.append(re.escape(lit))
        p = m.group(1)
        group += 1
        if p == "projectId":
            gi_proj = group
            glob_parts.append("*")
            rx_parts.append("([^/]+)")
        elif p == "userId":
            gi_user = group
            glob_parts.append("*")
            rx_parts.append("([^/]+)")
        elif p == "topic":
            glob_parts.append(topic)
            rx_parts.append(f"({re.escape(topic)})")
        elif p == "filename":
            glob_parts.append(f"*.{fmt}*")
            rx_parts.append(rf"([^/]+\.{fmt}[^/]*)")
        elif p == "attempt":
            glob_parts.append("*")  # Hadoop glob `*` matches the empty suffix
            rx_parts.append(r"((?:_\d+)?)")
        elif p == "extension":
            glob_parts.append(f".{fmt}*")
            rx_parts.append(rf"(\.{fmt}[^/]*)")
        else:  # sourceId or time:pattern — one path segment, any value
            glob_parts.append("*")
            rx_parts.append("([^/]+)")
        pos = m.end()
    tail = template[pos:]
    glob_parts.append(tail)
    rx_parts.append(re.escape(tail))
    return "".join(glob_parts), "".join(rx_parts) + "$", gi_proj, gi_user


def _decompress_chunk(raw: bytes, codec: str | None) -> str:
    if codec == "gz":
        import gzip

        raw = gzip.decompress(raw)
    elif codec == "zip":
        import zipfile

        with zipfile.ZipFile(io.BytesIO(raw)) as zf:
            raw = zf.read(zf.namelist()[0])
    return raw.decode()


def _compress_text(text: str, codec: str | None) -> bytes:
    """``text`` encoded under ``codec``, with fixed timestamps in the gzip
    header and the zip entry, so equal text gives equal bytes."""
    out = text.encode()
    if codec == "gz":
        import gzip

        out = gzip.compress(out, mtime=0)
    elif codec == "zip":
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=7) as zf:
            entry = zipfile.ZipInfo("data", date_time=(1980, 1, 1, 0, 0, 0))
            entry.external_attr = 0o600 << 16  # what writestr("data", ...) sets
            zf.writestr(entry, out, zipfile.ZIP_DEFLATED, 7)
        out = buf.getvalue()
    return out


def _merge_csv_like(chunks: list[bytes], is_csv: bool, codec: str | None) -> bytes:
    """Reference-style append: decompress every chunk, keep the first CSV
    header only, recompress the concatenation.  Callers must ensure CSV
    chunks share one header (``_csv_header``) — blind header-dropping on
    mismatched headers would silently misalign rows."""
    texts = [_decompress_chunk(raw, codec) for raw in chunks]
    merged_lines: list[str] = []
    for i, text in enumerate(texts):
        lines = text.splitlines()
        if is_csv and i > 0 and lines:
            lines = lines[1:]  # drop the duplicate header
        merged_lines.extend(lines)
    return _compress_text("\n".join(merged_lines) + "\n", codec)


def _csv_header(raw: bytes, codec: str | None) -> str:
    text = _decompress_chunk(raw, codec)
    return text.splitlines()[0] if text else ""


def finalize_template_layout(
    spark: SparkSession,
    staging_dir: str,
    target_dir: str,
    topic: str,
    template: str,
    schema_json: str | None = None,
    max_workers: int = 8,
    apply_local_attrs: bool = False,
    local_user_id: int = -1,
    local_group_id: int = -1,
) -> list[str]:
    """Phase 2 of the template sink: move every staged part file to its
    rendered final path under ``target_dir``, merging into pre-existing
    destination files (append semantics), then place the ``schema-<topic>.json``
    sidecar in every touched output directory
    (worker/FileCacheStore.kt:100-116 puts it next to the data files).

    All I/O goes through ``storage``, so the layout works on whatever
    store ``target_dir`` names.  Returns the final paths written, in the
    form ``target_dir`` was given.  A merged destination is replaced
    atomically.

    ``apply_local_attrs`` applies the reference's STORE-time POSIX
    attributes right after each checked rename — 0644 on the stored
    file, 0755 on its directories under ``target_dir``, uid/gid when
    configured ``>= 0`` (``target/LocalTargetStorage.kt:58-75``: chmod +
    ``updateUser`` on every ``store``, ``rwxr-xr-x`` on
    ``createDirectories``).  Local filesystem targets only — object
    stores have no POSIX attributes, exactly the reference's
    ``LocalTargetStorage`` scoping; a non-local ``target_dir`` makes the
    flag a no-op.
    """
    check_physical_template(template)
    # Staging lives under the target: one store serves both.
    st = storage.store(staging_dir, spark)
    target = target_dir.rstrip("/")
    # POSIX attributes exist only on the local file system (a scheme-less
    # target can resolve to hdfs:// through fs.defaultFS): the documented
    # no-op elsewhere.
    attrs_root = storage.local_path(target_dir, spark) if apply_local_attrs else None

    def _store_attrs(dest: str) -> None:
        """Reference store()-parity attributes, applied right after the
        checked rename: 0644 file, 0755 dirs up to the target root,
        uid/gid when configured >= 0.  chown errors propagate like the
        reference's unhandled IOException."""
        if attrs_root is None:
            return
        from restructure_hdfs_topic_spark.target_attrs import (
            DIR_MODE,
            FILE_MODE,
        )

        root_abs = os.path.abspath(attrs_root)
        lp = os.path.join(root_abs, dest[len(target) + 1 :])

        def _own(path: str) -> None:
            if local_user_id >= 0 or local_group_id >= 0:
                os.chown(
                    path,
                    local_user_id if local_user_id >= 0 else -1,
                    local_group_id if local_group_id >= 0 else -1,
                )

        os.chmod(lp, FILE_MODE)
        _own(lp)
        d = os.path.dirname(lp)
        # Exact-boundary prefix check: a sibling like <root>2 must not
        # match <root>.
        while d == root_abs or d.startswith(root_abs + os.sep):
            os.chmod(d, DIR_MODE)
            _own(d)
            if d == root_abs:
                break
            d = os.path.dirname(d)

    # Group staged parts by their full partition-value tuple: driver memory
    # O(parts this batch) — the same listing the write itself produced.
    # Every `name=value` path segment under the staging root is a partition
    # key (default four plus whatever extra_staging_cols added); values are
    # percent-decoded to undo Hive path escaping.
    groups: dict[tuple[tuple[str, str], ...], list[tuple[str, str]]] = {}
    under = len(staging_dir.rstrip("/"))
    for p, _mtime, _size in st.list_files(staging_dir):
        segs = p[under:].split("/")
        fname = segs[-1]
        if fname.startswith(("_", ".")):
            continue
        ext_m = _PART_EXT_RE.search(fname)
        if not ext_m:
            continue
        kv = tuple(
            sorted(
                (s.split("=", 1)[0], unquote(s.split("=", 1)[1]))
                for s in segs[:-1]
                if "=" in s
            )
        )
        groups.setdefault(kv, []).append((p, ext_m.group(0)))

    sidecar_dirs: set[str] = set()
    # Templates without ${attempt} can render the SAME dest for two staged
    # groups; serialize per rendered path so racing place() calls cannot
    # both pass the exists() check and lose one group's rows.
    import threading

    dest_locks: dict[str, threading.Lock] = {}
    dest_locks_guard = threading.Lock()

    def _lock_for(dest: str) -> threading.Lock:
        with dest_locks_guard:
            return dest_locks.setdefault(dest, threading.Lock())

    def _bumped(orig_dest: str, n: int) -> str:
        """``orig_dest`` with attempt suffix ``_n`` APPENDED to its base
        (reference retry naming, RecordPathFactory.kt:56-75).  Appending —
        never stripping — keeps bins whose own name ends in digits (e.g.
        ``20240101_0000``) intact."""
        head, name = orig_dest.rsplit("/", 1)
        ext = _PART_EXT_RE.search(name).group(0)
        return f"{head}/{name[: -len(ext)]}_{n}{ext}"

    def place(key: tuple[tuple[str, str], ...], parts: list[tuple[str, str]]) -> str:
        kv = dict(key)
        parts = sorted(parts)
        ext = parts[0][1]
        orig_dest = f"{target}/{render_final_path(template, topic, kv, ext)}"
        sidecar_dirs.add(orig_dest.rsplit("/", 1)[0])
        codec = ext.rsplit(".", 1)[1] if ext.count(".") > 1 else None
        is_csv = ".csv" in ext
        part_header: list[bytes | None] = [None]

        def _divert(d: str) -> str:
            # A later batch's records for an old bin may carry a DIFFERENT
            # CSV header (new map keys ⇒ new columns); blindly appending
            # would misalign rows.  Divert to the reference's attempt
            # naming: the first ``_N`` destination whose header matches or
            # that does not exist yet.
            if not (is_csv and st.exists(d)):
                return d
            if part_header[0] is None:
                part_header[0] = _csv_header(st.read(parts[0][0]), codec)
            n, cand = 0, d
            while st.exists(cand) and _csv_header(st.read(cand), codec) != part_header[0]:
                n += 1
                cand = _bumped(d, n)
            return cand

        # Lock on the FINAL (possibly bumped) destination: holding only the
        # original path's lock while writing a bumped path races with a
        # concurrent place() whose own rendered-or-diverted destination is
        # that bumped path (it holds a different lock; both could pass the
        # exists()/read-merge-write sequence and drop one group's rows).
        # Re-run the divert under each newly acquired lock — conditions may
        # have changed between the handoff.
        lock = _lock_for(orig_dest)
        lock.acquire()
        locked_path = orig_dest
        try:
            while True:
                dest = _divert(orig_dest)
                if dest == locked_path:
                    break
                nxt = _lock_for(dest)
                lock.release()
                lock = nxt
                lock.acquire()
                locked_path = dest
            return _write_parts(dest, parts, is_csv, codec)
        finally:
            lock.release()

    def _write_parts(dest: str, parts, is_csv, codec) -> str:
        # One part and no destination yet: a metadata-only move.  A refused
        # rename falls through to the copy path rather than silently
        # dropping the part.
        if len(parts) == 1 and st.rename_no_replace(parts[0][0], dest):
            _store_attrs(dest)
            return dest
        # Append/merge path (existing destination or a bin split across
        # parts): reference-parity decompress-append-recompress, O(file).
        # Staged parts are read checksum-verified.
        chunks = [st.read(dest)] if st.exists(dest) else []
        chunks += [st.read(p) for p, _e in parts]
        merged = _merge_csv_like(chunks, is_csv=is_csv, codec=codec)
        head, name = dest.rsplit("/", 1)
        st.replace(dest, merged, tmp=f"{head}/.{name}.tmp")
        _store_attrs(dest)
        return dest

    # py4j is thread-safe (one gateway connection per thread); object-store
    # rename latency, not CPU, is the bottleneck this pool hides.
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        final_paths = list(pool.map(lambda kv: place(*kv), groups.items()))

    if schema_json is not None:
        for d in sorted(sidecar_dirs):
            sidecar = f"{d}/schema-{topic}.json"
            if st.create_exclusive(sidecar, schema_json.encode("utf-8")):
                _store_attrs(sidecar)
    st.delete(staging_dir, recursive=True)
    return sorted(final_paths)
