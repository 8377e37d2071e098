"""Flattening projections (SURVEY O6/O7/O8) + attempt-suffix schema routing
(SURVEY §1.3).

Reference semantics (format/CsvAvroDataConverter.kt:16-91):
- structs recurse with dot-joined names ``a.b``;
- maps become one column per key ``prefix.key`` (DATA-dependent!);
- arrays one column per index ``prefix.0`` (data-dependent length);
- bytes/fixed → base64 WITHOUT padding; null → "" (CSV);
- JSON output (format/JsonAvroDataConverter.kt:10-51) keeps nesting.

Spark-first: struct flattening is a pure ``select`` projection.  The
data-dependent map keys and array lengths come from one aggregation
(``discover_dynamic_columns``) or, in the restructure job, from the header
fingerprints that attempt routing already collected; the projection is
built from them, with no per-record Python (SURVEY §4 "custom work"
item 2).

The reference's "attempt" mechanism (worker/RestructureWorker.kt:148-163):
records whose flattened header mismatches an existing file get suffix
``_1``, ``_2``…  Here: every record carries a deterministic header
fingerprint column; one aggregation collects the distinct fingerprints,
and each attempt's records are written to their own suffixed directory
with the header its fingerprints define.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType


def _qcol(name: str) -> Column:
    """Column reference with literal (possibly dotted) name — backtick-quoted
    so Spark does not parse ``i.a`` as struct access."""
    return F.col("`" + name.replace("`", "``") + "`")


def flatten_struct_columns(df: DataFrame, sep: str = ".") -> DataFrame:
    """O6/O7 struct recursion: expand every StructType column to scalar
    columns with dot-joined names (``key.projectId``).  Maps/arrays are left
    intact (see flatten_for_csv for the data-dependent expansion)."""
    cols: list[Column] = []

    def q(name: str) -> str:
        # same backtick-doubling as _qcol — a literal backtick in a field
        # name must not terminate the quote
        return "`" + name.replace("`", "``") + "`"

    def expand(prefix: str, dtype, path: str) -> None:
        if isinstance(dtype, StructType):
            for f in dtype.fields:
                expand(f"{prefix}{sep}{f.name}", f.dataType, f"{path}.{q(f.name)}")
        else:
            cols.append(F.expr(path).alias(prefix))

    for field in df.schema.fields:
        expand(field.name, field.dataType, q(field.name))
    return df.select(*cols)


def discover_dynamic_columns(df: DataFrame) -> dict[str, list]:
    """O7 two-pass schema discovery: for each MapType column collect the
    distinct key set; for each ArrayType column the max length.  ONE
    aggregation job over the data (SURVEY §7.3 hard-part 2).

    Column order divergence (documented): the reference uses first-seen
    order per file; we use deterministic sorted key order globally.
    """
    # NB: flattened column names contain literal dots ("i.a"); _qcol quotes
    # them so Spark does not parse the dot as struct access.
    aggs = []
    map_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, MapType)]
    arr_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType)]
    for c in map_cols:
        # collect_SET, not collect_list: the partial aggregation dedups
        # whole key-arrays map-side, so the buffer holds one entry per
        # DISTINCT key combination (a handful) instead of one per row —
        # collect_list shipped every row's key array to a single reducer,
        # O(n) driver-side state at scale.
        aggs.append(F.array_sort(F.array_distinct(F.flatten(F.collect_set(F.map_keys(_qcol(c)))))).alias(f"__keys_{c}"))
    for c in arr_cols:
        aggs.append(F.max(F.size(_qcol(c))).alias(f"__len_{c}"))
    if not aggs:
        return {}
    row = df.agg(*aggs).collect()[0]
    out: dict[str, list] = {}
    for c in map_cols:
        out[c] = list(row[f"__keys_{c}"] or [])
    for c in arr_cols:
        out[c] = list(range(max(row[f"__len_{c}"] or 0, 0)))
    return out


def base64_nopad(col: Column) -> Column:
    """Reference byte encoding: base64 WITHOUT padding
    (CsvAvroDataConverter.kt:94)."""
    return F.rtrim(F.base64(col), F.lit("="))


def flatten_for_csv(
    df: DataFrame, sep: str = ".", dynamic: dict[str, list] | None = None
) -> DataFrame:
    """O7 full CSV flattening: recurse structs, expand maps to per-key
    columns and arrays to per-index columns (data-dependent: ``dynamic``
    as ``discover_dynamic_columns`` returns it, discovered in one
    aggregation when not given), bytes → unpadded base64, null → "" —
    everything a string, like the reference's CSV rows."""
    flat = flatten_struct_columns(df, sep)
    if dynamic is None:
        dynamic = discover_dynamic_columns(flat)
    cols: list[Column] = []
    # _qcol(name), not F.col(name): flattened names carry literal dots.
    for field in flat.schema.fields:
        name, dtype = field.name, field.dataType
        # try_element_at / get: null (→ "") on absent key / short array, even
        # under ANSI mode — a record's maps/arrays rarely populate the full
        # discovered header, exactly the reference's empty-cell case.
        if isinstance(dtype, MapType):
            for key in dynamic.get(name, []):
                inner = F.try_element_at(_qcol(name), F.lit(key))
                if isinstance(dtype.valueType, BinaryType):
                    # bytes inside maps get the same unpadded base64 as
                    # top-level/array bytes (CsvAvroDataConverter.kt:94) —
                    # a raw cast('string') would emit mojibake
                    inner = base64_nopad(inner)
                cols.append(
                    F.coalesce(inner.cast("string"), F.lit("")).alias(f"{name}{sep}{key}")
                )
        elif isinstance(dtype, ArrayType):
            for i in dynamic.get(name, []):
                inner = F.get(_qcol(name), i)
                if isinstance(dtype.elementType, BinaryType):
                    inner = base64_nopad(inner)
                if isinstance(dtype.elementType, StructType):
                    # array<struct> recurses to per-field columns
                    # (prefix.i.field), matching the reference's elementwise
                    # record flattening instead of a struct-to-string blob
                    for f2 in dtype.elementType.fields:
                        inner2 = inner.getField(f2.name)
                        if isinstance(f2.dataType, BinaryType):
                            inner2 = base64_nopad(inner2)
                        cols.append(
                            F.coalesce(inner2.cast("string"), F.lit("")).alias(
                                f"{name}{sep}{i}{sep}{f2.name}"
                            )
                        )
                    continue
                cols.append(F.coalesce(inner.cast("string"), F.lit("")).alias(f"{name}{sep}{i}"))
        elif isinstance(dtype, BinaryType):
            cols.append(F.coalesce(base64_nopad(_qcol(name)), F.lit("")).alias(name))
        else:
            cols.append(F.coalesce(_qcol(name).cast("string"), F.lit("")).alias(name))
    return flat.select(*cols)


def to_json_lines(df: DataFrame) -> DataFrame:
    """O8 JSON projection: schema-preserving single-column JSON-lines
    (format/JsonAvroConverter.kt:30-49).  ``df.write.json`` is the sink
    form; this column form feeds membership checks (O22)."""
    return df.select(F.to_json(F.struct(*[_qcol(c) for c in df.columns])).alias("json"))


def _header_descriptor(df: DataFrame) -> Column:
    """§1.3 attempt routing: structured form of the record's data-dependent
    flattened HEADER — sorted map keys and array lengths per column as one
    JSON string.  Only data-dependent columns participate
    (RecordConverterFactory.kt:96-135: headers derive from the record);
    static schema fields appear in every header and a null value does NOT
    change it (null renders as "", CsvAvroDataConverter.kt:81-84)."""
    fields: dict[str, Column] = {}
    for f in df.schema.fields:
        if isinstance(f.dataType, MapType):
            fields[f.name] = F.array_sort(
                F.coalesce(F.map_keys(_qcol(f.name)), F.array().cast("array<string>"))
            )
        elif isinstance(f.dataType, ArrayType):
            fields[f.name] = F.coalesce(F.size(_qcol(f.name)), F.lit(0))
    if not fields:
        return F.lit("{}")
    return F.to_json(F.struct(*[v.alias(k) for k, v in fields.items()]))


def _header_contains(wide: dict, narrow: dict) -> bool:
    """Reference acceptance rule (RecordConverterFactory.kt:96-135 via
    CsvAvroConverterTest.kt:88-157 "sub-schema accepted"): a record fits an
    existing file when its headers are a SUBSET of the file's — map keys
    contained, arrays no longer."""
    for col, nv in narrow.items():
        wv = wide.get(col)
        if isinstance(nv, list):
            if not set(nv) <= set(wv or []):
                return False
        else:
            if nv > (wv or 0):
                return False
    return True


def _dynamic_columns(headers: list[dict]) -> dict[str, list]:
    """``discover_dynamic_columns`` of the records whose header fingerprints
    are ``headers``: per map column the sorted union of the keys, per array
    column the indices below the largest length."""
    out: dict[str, list] = {}
    for h in headers:
        for col, v in h.items():
            if isinstance(v, list):
                out[col] = sorted(set(out.get(col, [])) | set(v))
            else:
                out[col] = list(range(max(len(out.get(col, [])), v)))
    return out


def route_by_schema_attempt(df: DataFrame) -> tuple[DataFrame, DataFrame, dict[int, dict]]:
    """Assign each record its attempt index, mirroring
    RecordPathFactory.kt:56-75's retry loop set-wise: distinct header
    shapes are processed in first-occurrence order, each routed to the
    FIRST earlier attempt whose header CONTAINS it (sub-schema records
    absorb into the wider file with ``""`` cells —
    CsvAvroConverterTest.kt:88-157), else to a new attempt.

    Driver state is one row per DISTINCT header shape (bounded by schema
    variance, not record count); the subset scan is O(shapes²).

    Attempt numbering is BATCH-LOCAL (first-occurrence order within this
    frame) — nothing persists the canonical-header list across service
    iterations, so append-mode re-runs may assign the same index to a
    different shape.  Each part FILE still carries its own correct header
    (Spark writes a header per file), and the template finalize path
    additionally diverts on header mismatch at merge time
    (plans/layout.py); a cross-run canonical-header store is the remaining
    divergence from the reference's on-disk header check.

    Returns ``(routed, persisted, headers)``: the routed frame, the
    persisted intermediate it is built on, and per attempt its dynamic
    columns (``discover_dynamic_columns`` of that attempt's records, for
    ``flatten_for_csv(..., dynamic=...)``) — derived from the collected
    fingerprints, so neither the attempt list nor the headers need another
    pass over the data.  The CALLER must ``persisted.unpersist()`` after
    the last action over ``routed`` (in a try/finally — a failed sink must
    not leak one cached lineage per topic iteration)."""
    import json as _json

    from pyspark import StorageLevel

    fp = df.withColumn("__fp", _header_descriptor(df)).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    # Two consumers — the distinct-header collect below AND the returned
    # routed plan — would each re-run the whole upstream decode/flatten
    # lineage (ADVICE r4: one extra full pass per topic write).  Persist
    # spill-safely so the pipeline materializes once; also pins
    # monotonically_increasing_id, which is partition-dependent and must
    # not be recomputed between the two consumers.
    fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
    firsts = sorted(
        fp.groupBy("__fp").agg(F.min("__mid").alias("m")).collect(),
        key=lambda r: r["m"],
    )
    canonicals: list[dict] = []
    attempt_of: dict[str, int] = {}
    members: dict[int, list[dict]] = {}
    for r in firsts:
        h = _json.loads(r["__fp"])
        attempt = next(
            (i for i, c in enumerate(canonicals) if _header_contains(c, h)), None
        )
        if attempt is None:
            canonicals.append(h)
            attempt = len(canonicals) - 1
        attempt_of[r["__fp"]] = attempt
        members.setdefault(attempt, []).append(h)
    mapping = F.create_map(
        *[F.lit(x) for kv in attempt_of.items() for x in kv]
    )
    out = fp.withColumn("attempt", mapping[F.col("__fp")]).drop("__fp", "__mid")
    headers = {a: _dynamic_columns(hs) for a, hs in members.items()}
    return out, fp, headers
