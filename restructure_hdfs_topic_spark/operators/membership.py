"""Record membership check (SURVEY O22,
format/CsvAvroConverterFactory.kt:107-126 / JsonAvroConverterFactory.kt:39-50).

The reference answers "does this output file contain this record?" by
comparing selected columns positionally (CSV) or the exact serialized line
(JSON).  Spark-first: a LEFT SEMI join on the selected columns — one
shuffle (broadcast when either side is small), no per-record probing.
The cleaner's extraction verification (O20/O21) composes this with a
per-file ALL aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _join_cond(target, records, on, null_safe: bool):
    pairs = [(c, c) if isinstance(c, str) else c for c in on]
    cond = None
    for rc, tc in pairs:
        clause = (
            records[rc].eqNullSafe(target[tc])
            if null_safe
            else records[rc] == target[tc]
        )
        cond = clause if cond is None else cond & clause
    return cond


def contains_records(
    target: DataFrame,
    records: DataFrame,
    on: list[str] | list[tuple[str, str]],
    null_safe: bool = True,
) -> DataFrame:
    """Rows of ``records`` present in ``target`` on the given columns.

    ``on``: column names shared by both frames, or (record_col, target_col)
    pairs when names differ.  ``null_safe`` (default) matches NULL=NULL —
    the cleaner's round-trip check wants a written NULL field to verify;
    pass False for ANSI-SQL equality (a NULL never matches), which is what
    a SQL oracle computes."""
    return records.join(
        target, _join_cond(target, records, on, null_safe), "left_semi"
    )
