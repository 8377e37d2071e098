"""WARC source — read Common Crawl's on-disk format as a DataFrame.

Web crawls ship as WARC (ISO 28500): a file is a sequence of records,
each a small ``WARC/1.x`` header block (named fields, a Content-Length)
followed by the captured payload — for ``response`` records an embedded
HTTP/1.1 message whose body is the fetched page.  ``.warc.gz`` files
compress EACH RECORD as its own gzip member so readers can seek to a
record without decompressing the file; a plain whole-file gzip and an
uncompressed ``.warc`` also occur in the wild.  This module parses all
three from the public spec with stdlib ``zlib`` only.

Spark shape at 100 TB (a Common Crawl monthly is ~90 TB of .warc.gz):
``binaryFile`` distributes one task per WARC file (crawl files are ~1 GB
— the unit the format was designed around, and gzip members make the
file the natural split), and ONE Arrow-batched ``mapInPandas`` kernel
per task parses records, splits the embedded HTTP message, and decodes
the page text with the record's own charset — so the raw crawl bytes
cross into Python exactly once and everything downstream
(``strip_html`` → gates → dedup → packing → shards) is the repo's
existing JVM/Arrow pipeline.  Malformed records degrade per-record into
``decode_status`` rows (the multimodal/audio quarantine contract), never
task failures — a 100 TB crawl always contains hostile bytes.

Reference analogue: the Avro container source (``sources/avro.py``,
reference ``source/*SourceStorage.kt``) — same binaryFile + pure-Python
decoder architecture, different public container spec.
"""

from __future__ import annotations

import gzip
import io
import re
import uuid
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "parse_warc_records",
    "read_warc",
    "read_warc_stream",
    "warc_responses_as_documents",
    "warc_noncontent_records",
    "warc_crawl_health",
    "warc_bytes",
]


_CRLF = b"\r\n"
_CHARSET_RE = re.compile(rb"charset=[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE)
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset=[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE
)


def _gunzip_members(payload: bytes) -> bytes:
    """Decompress a gzip stream with ANY number of members (the .warc.gz
    record-per-member layout and whole-file gzip both land here).
    ``zlib.decompressobj(wbits=31)`` stops at each member boundary;
    ``unused_data`` chains to the next member.  A corrupt member or
    trailing garbage STOPS the chain but keeps every member decoded so
    far — a ~1 GB crawl file must degrade per-record, not vanish because
    its tail is damaged (the record parser then reports the truncation
    on the partial payload)."""
    out, rest = [], payload
    first = True
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(rest))
        except zlib.error:
            if first:
                # Nothing decoded at all — genuine bad_gzip (a VALID
                # empty gzip member decodes fine and must NOT raise:
                # empty rotation files are not corruption).
                raise
            break
        first = False
        rest = d.unused_data
        if not d.eof:  # truncated final member: keep what decoded
            break
    return b"".join(out)


def _parse_headers(block: bytes) -> dict:
    """Name→value dict from a WARC or HTTP header block (first line is
    the version/status line, skipped; continuation lines folded)."""
    headers: dict = {}
    last = None
    for line in block.split(_CRLF)[1:]:
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] = headers[last] + b" " + line.strip()
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            continue
        last = name.strip().lower().decode("ascii", "replace")
        headers[last] = value.strip()
    return headers


def _decode_body(body: bytes, http_content_type: bytes | None) -> str:
    """Bytes → text using the HTTP charset, then an HTML ``<meta charset>``
    probe over the first 1024 bytes, then UTF-8 with replacement — the
    tolerant cascade a crawl ingest needs (headers lie constantly)."""
    enc = None
    if http_content_type:
        m = _CHARSET_RE.search(http_content_type)
        if m:
            enc = m.group(1).decode("ascii", "replace")
    if enc is None:
        m = _META_CHARSET_RE.search(body[:1024])
        if m:
            enc = m.group(1).decode("ascii", "replace")
    for candidate in ([enc] if enc else []) + ["utf-8"]:
        try:
            return body.decode(candidate)
        except (LookupError, UnicodeDecodeError):
            continue
    return body.decode("utf-8", "replace")


def parse_warc_records(payload: bytes, decode_text: bool = True):
    """Yield one dict per WARC record in ``payload`` (raw ``.warc`` bytes
    or any gzip flavor).  Fields: record_ix, record_id, warc_type,
    target_uri, warc_date, http_status, content_type, text, payload,
    decode_status.  ``response``/``resource`` records with a textual
    content type decode to ``text`` (charset cascade) and carry a NULL
    binary payload; non-textual payloads ship as bytes with NULL text —
    each record's bytes leave the kernel exactly once.  A malformed
    record yields one ``decode_status`` row and parsing resumes at the
    next well-formed header (driver-side kernel, exposed for tests)."""
    if payload[:2] == b"\x1f\x8b":
        try:
            payload = _gunzip_members(payload)
        except zlib.error:
            yield _bad_row(0, "bad_gzip")
            return
    pos, ix = 0, 0
    n = len(payload)
    while pos < n:
        # Resync: records start at a 'WARC/' magic at payload start or
        # right after the spec's record separator (CRLF CRLF) — the
        # boundary requirement keeps a resync from adopting body CONTENT
        # that merely quotes a WARC header (page text about the format,
        # WARC-in-WARC archives) as a phantom record.  After a malformed
        # record this skips garbage instead of aborting the whole file.
        start = _find_magic(payload, pos)
        if start < 0:
            if ix == 0 and payload.strip():
                yield _bad_row(ix, "no_warc_records")
            break
        hdr_end = payload.find(_CRLF + _CRLF, start)
        if hdr_end < 0:
            yield _bad_row(ix, "truncated_header")
            return
        headers = _parse_headers(payload[start:hdr_end])
        try:
            length = int(
                headers.get("content-length", b"").decode("ascii", "replace")
            )
        except ValueError:
            yield _bad_row(ix, "bad_content_length")
            ix += 1
            pos = hdr_end + 4
            continue
        if length < 0:
            # A negative length would move the scan position BACKWARDS and
            # re-discover this same record forever; treat it like any other
            # unparseable Content-Length and resync past the header.
            yield _bad_row(ix, "bad_content_length")
            ix += 1
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        body = payload[body_start : body_start + length]
        pos = body_start + length + 4  # records end with two CRLFs
        if len(body) < length:
            # Corrupt oversized length (or a truncated tail).  Yield the one
            # damaged record and resync at the next 'WARC/' magic so a
            # mid-file corrupt length field loses only this record, not
            # every record after it.
            yield _bad_row(ix, "truncated_body")
            ix += 1
            pos = hdr_end + 4
            continue
        warc_type = headers.get("warc-type", b"").decode("ascii", "replace")
        rec = {
            "record_ix": ix,
            "record_id": headers.get("warc-record-id", b"")
            .decode("ascii", "replace")
            .strip("<>"),
            "warc_type": warc_type,
            "target_uri": headers.get("warc-target-uri", b"").decode(
                "utf-8", "replace"
            )
            or None,
            "warc_date": headers.get("warc-date", b"").decode("ascii", "replace")
            or None,
            "http_status": None,
            "content_type": None,
            "text": None,
            "payload": None,
            "decode_status": "ok",
        }
        ctype = headers.get("content-type", b"")
        body_ctype: bytes | None = ctype or None
        if warc_type in ("response", "revisit") and ctype.startswith(
            b"application/http"
        ):
            # Embedded HTTP message: status line + headers + blank + body.
            split = body.find(_CRLF + _CRLF)
            if split < 0:
                rec["decode_status"] = "bad_http"
                yield rec
                ix += 1
                continue
            http_headers = _parse_headers(body[:split])
            status_line = body[: body.find(_CRLF)]
            parts = status_line.split()
            if len(parts) >= 2 and parts[1].isdigit():
                rec["http_status"] = int(parts[1])
            body = body[split + 4 :]
            body_ctype = http_headers.get("content-type")
        if body_ctype is not None:
            rec["content_type"] = (
                body_ctype.split(b";")[0].strip().decode("ascii", "replace")
            )
        textual = rec["content_type"] is not None and (
            rec["content_type"].startswith("text/")
            or rec["content_type"]
            in ("application/json", "application/xhtml+xml", "application/xml")
        )
        if decode_text and textual:
            rec["text"] = _decode_body(body, body_ctype)
        else:
            rec["payload"] = bytes(body)
        yield rec
        ix += 1


def _find_magic(payload: bytes, pos: int) -> int:
    """Next 'WARC/' magic at a plausible RECORD BOUNDARY: offset 0 or
    preceded by the CRLF CRLF record separator.  Body bytes that merely
    contain the magic mid-line are skipped."""
    while True:
        start = payload.find(b"WARC/", pos)
        if start <= 0:
            return start
        if payload[start - 4 : start] == _CRLF + _CRLF:
            return start
        pos = start + 1


def _bad_row(ix: int, status: str) -> dict:
    return {
        "record_ix": ix,
        "record_id": None,
        "warc_type": None,
        "target_uri": None,
        "warc_date": None,
        "http_status": None,
        "content_type": None,
        "text": None,
        "payload": None,
        "decode_status": status,
    }


_OUT_SCHEMA = (
    "file string, record_ix long, record_id string, warc_type string, "
    "target_uri string, warc_date string, http_status int, "
    "content_type string, text string, payload binary, decode_status string"
)


def _parse_kernel(decode_text: bool):
    """Shared mapInPandas kernel for the batch and streaming readers: one
    (path, content) row per WARC file in, parsed record rows out."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = list(
                    parse_warc_records(bytes(content), decode_text=decode_text)
                )
                if not rows:
                    continue
                out = pd.DataFrame(rows)
                # FULL path, not the basename: (file, record_ix) is the
                # capture identity id-less records fall back to, and
                # crawl layouts reuse basenames across directories
                # (crawl-01/part-00000.warc.gz, crawl-02/part-00000...).
                out.insert(0, "file", path)
                out["record_ix"] = out["record_ix"].astype("int64")
                out["http_status"] = out["http_status"].astype("Int32")
                yield out

    return kernel


# Spark's binaryFile source hard-fails on files over Int.MaxValue bytes
# (the whole file becomes ONE byte-array cell).  Files at/over the cap are
# quarantined from the LISTING (binaryFile pushes length filters down to
# the file index), so a rogue fat .warc.gz yields one loud per-file row
# instead of an opaque task failure or silent OOM.
BINARYFILE_MAX_BYTES = (1 << 31) - 1


def _oversize_rows(binary: DataFrame, max_bytes: int) -> DataFrame:
    """One ``file_too_large`` quarantine row per over-cap file, built from
    listing metadata only — ``content`` is never selected, so the bytes
    are never read."""
    null_s = F.lit(None).cast("string")
    return binary.filter(F.col("length") > max_bytes).select(
        F.col("path").alias("file"),
        F.lit(0).cast("long").alias("record_ix"),
        null_s.alias("record_id"),
        null_s.alias("warc_type"),
        null_s.alias("target_uri"),
        null_s.alias("warc_date"),
        F.lit(None).cast("int").alias("http_status"),
        null_s.alias("content_type"),
        null_s.alias("text"),
        F.lit(None).cast("binary").alias("payload"),
        F.lit("file_too_large").alias("decode_status"),
    )


def read_warc(
    spark: SparkSession,
    paths: list[str] | str,
    decode_text: bool = True,
    max_bytes: int = BINARYFILE_MAX_BYTES,
) -> DataFrame:
    """DataFrame of WARC records under ``paths`` (``*.warc`` /
    ``*.warc.gz``, local or any Hadoop ``scheme://``) — one task per
    file via ``binaryFile``, one Arrow crossing per task.  Columns:
    (file, record_ix, record_id, warc_type, target_uri, warc_date,
    http_status, content_type, text, payload, decode_status).  Files
    larger than ``max_bytes`` (default: the 2 GiB ``binaryFile`` cap;
    Common Crawl's ~1 GB convention fits comfortably) surface as one
    ``file_too_large`` row each instead of failing the scan."""
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        raise ValueError("read_warc: empty path list")
    max_bytes = min(max_bytes, BINARYFILE_MAX_BYTES)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(paths)
    )
    parsed = (
        binary.filter(F.col("length") <= max_bytes)
        .select("path", "content")
        .mapInPandas(_parse_kernel(decode_text), schema=_OUT_SCHEMA)
    )
    return parsed.unionByName(_oversize_rows(binary, max_bytes))


def read_warc_stream(
    spark: SparkSession,
    crawl_dir: str,
    decode_text: bool = True,
    max_files_per_trigger: int | None = None,
    max_bytes: int = BINARYFILE_MAX_BYTES,
) -> DataFrame:
    """Structured Streaming WARC source: a ``binaryFile`` file stream over
    ``crawl_dir`` decoded by the same parse kernel as the batch reader —
    crawler output lands as ``.warc.gz`` files and each becomes one
    micro-batch unit; the stream checkpoint is the seen-file ledger
    (engine-managed exactly-once).
    Compose with ``warc_responses_as_documents`` and the
    ``streaming_curation_sink`` for the live "crawl stream in, training
    rows out" path."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    bin_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("pathGlobFilter", "*.warc*")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    max_bytes = min(max_bytes, BINARYFILE_MAX_BYTES)
    binary = reader.load(crawl_dir)
    parsed = (
        binary.filter(F.col("length") <= max_bytes)
        .select("path", "content")
        .mapInPandas(_parse_kernel(decode_text), schema=_OUT_SCHEMA)
    )
    return parsed.unionByName(_oversize_rows(binary, max_bytes))


def warc_responses_as_documents(records: DataFrame) -> DataFrame:
    """Project parsed WARC records to the corpus ``documents`` shape the
    curation pipeline starts from: successful (HTTP 2xx) textual
    ``response`` records → (doc_id, url, fetched_at, text).  ``doc_id``
    is ``xxhash64(record_id)`` — the record id is unique per capture, so
    re-crawls of one URL stay distinct documents for ``dedup_by_url`` /
    content dedup to adjudicate.  Records WITHOUT a WARC-Record-ID header
    (tolerated by the parser) fall back to the capture's own identity,
    (file, record_ix, uri) — hashing the shared empty string would
    collapse every id-less page onto ONE doc_id and cross-wire them in
    downstream joins/windows.  Pure JVM projection, no shuffle."""
    identity = F.coalesce(
        F.nullif(F.col("record_id"), F.lit("")),
        F.concat_ws("#", F.col("file"), F.col("record_ix"), F.col("target_uri")),
    )
    return (
        records.filter(
            (F.col("warc_type") == "response")
            & (F.col("decode_status") == "ok")
            & F.col("text").isNotNull()
            & (F.col("http_status") >= 200)
            & (F.col("http_status") < 300)
        )
        .select(
            F.xxhash64(identity).alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.to_timestamp("warc_date").alias("fetched_at"),
            "text",
        )
    )


def warc_noncontent_records(records: DataFrame) -> DataFrame:
    """The records ``warc_responses_as_documents`` DROPS — revisits,
    redirect chains (3xx), client/server errors, non-textual payloads,
    request/metadata records, and quarantined captures — projected for
    crawl-health profiling: (file, record_ix, url, warc_type,
    http_status, status_class, content_type, decode_status).
    ``status_class`` buckets the HTTP status ("2xx".."5xx", NULL when the
    capture carries none).  Pure JVM projection, no shuffle — the
    complement of the documents projection, so the two together account
    for every parsed record exactly once."""
    kept = (
        (F.col("warc_type") == "response")
        & (F.col("decode_status") == "ok")
        & F.col("text").isNotNull()
        & (F.col("http_status") >= 200)
        & (F.col("http_status") < 300)
    )
    status_class = F.when(
        F.col("http_status").isNotNull(),
        F.concat(F.floor(F.col("http_status") / 100).cast("string"), F.lit("xx")),
    )
    return records.filter(~F.coalesce(kept, F.lit(False))).select(
        "file",
        "record_ix",
        F.col("target_uri").alias("url"),
        "warc_type",
        "http_status",
        status_class.alias("status_class"),
        "content_type",
        "decode_status",
    )


def warc_crawl_health(records: DataFrame) -> DataFrame:
    """Crawl-health rollup over the NON-document records: one row per
    (warc_type, status_class, decode_status) with capture and distinct-URL
    counts — the profiler's view of redirect chains, revisit dedup rate,
    error rates, and quarantine volume.  ONE map-side-combined aggregation
    over the dropped complement."""
    return (
        warc_noncontent_records(records)
        .groupBy("warc_type", "status_class", "decode_status")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.count_distinct(F.col("url")).alias("n_urls"),
        )
    )


def warc_bytes(
    records: list[dict],
    gzip_per_record: bool = True,
    version: str = "1.0",
) -> bytes:
    """Serialize records to WARC bytes — the fixture/synthetic-corpus
    builder (exact inverse of ``parse_warc_records`` for well-formed
    input).  Each record dict: ``uri``, ``body`` (bytes or str), and
    optionally ``date``, ``status``, ``content_type``, ``warc_type``,
    ``record_id``.  ``gzip_per_record=True`` writes the standard
    member-per-record ``.warc.gz`` layout."""
    chunks = []
    for r in records:
        body = r["body"]
        if isinstance(body, str):
            body = body.encode("utf-8")
        status = int(r.get("status", 200))
        ctype = r.get("content_type", "text/html; charset=utf-8")
        http = (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("ascii") + body
        rid = r.get("record_id") or f"urn:uuid:{uuid.uuid4()}"
        hdr = (
            f"WARC/{version}\r\n"
            f"WARC-Type: {r.get('warc_type', 'response')}\r\n"
            f"WARC-Record-ID: <{rid}>\r\n"
            f"WARC-Date: {r.get('date', '2024-01-01T00:00:00Z')}\r\n"
            f"WARC-Target-URI: {r['uri']}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode("ascii")
        raw = hdr + http + _CRLF + _CRLF
        if gzip_per_record:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(raw)
            chunks.append(buf.getvalue())
        else:
            chunks.append(raw)
    return b"".join(chunks)
