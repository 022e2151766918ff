"""Canonical row hashing (op H1) — the reference's dedup key.

Semantics pinned by ``etl.go:59-68`` and its golden vectors
(``etl_test.go:9-53``): for each row,

    1. stringify every cell (NULL → "" — mysql/mysql.go:110-113),
    2. lowercase each cell string (etl.go:64),
    3. sort the cell *strings* lexicographically (etl.go:65 —
       column-order- and case-insensitive by design; "10" < "9"),
    4. concatenate with no separator,
    5. md5 → lowercase hex.

Golden vectors (etl_test.go:25,34,43):
    ["1","2","3","4"]    → 81dc9bdb52d04dc20036dbd8313ed055
    ["5","7","6","8"]    → 674f3c2c1a8a6f90461e8a66fb5550ba
    ["9","10","11","12"] → dfd9bfe9dab8fc185ea63bfdc614f9e7

This is a pure Catalyst expression, parsed from one SQL string in a
single driver call. Every function in it (``lower``, ``cast``,
``coalesce``, ``date_format``, ``array``, ``sort_array``, ``concat_ws``,
``md5``) is whole-stage-codegen'd; ``sort_array`` compares the cell
strings bytewise like step 3 asks, where ``array_sort``'s default
lambda comparator would be interpreted. No Python runs in the hot path,
so hashing 100 TB costs one projection over the scan.

Cross-engine fidelity: the same five steps are emitted as ANSI SQL for
the DuckDB oracle (:func:`row_hash_sql`). Both engines render ints and
shortest-round-trip doubles identically and both sort strings bytewise,
so hashes match bit-for-bit; timestamp cells use an explicit
``yyyy-MM-dd HH:mm:ss`` rendering on both sides to remove any
fractional-second formatting ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _cell_sql(name: str, dtype: T.DataType | None) -> str:
    """Canonical lowercase string rendering of one cell (steps 1-2).
    The name is backtick-quoted, so dots, spaces and backticks in it
    stay part of the name."""
    col = "`" + name.replace("`", "``") + "`"
    if isinstance(dtype, T.TimestampType):
        col = f"date_format({col}, '{TS_FMT_SPARK}')"
    return f"lower(coalesce(cast({col} as string), ''))"


def row_hash(cols: list[str], df: DataFrame | None = None) -> Column:
    """H1 as a single Catalyst expression (etl.go:59-68), built as one
    SQL string and parsed in one call.

    Pass ``df`` so timestamp columns get the explicit cross-engine
    rendering; plain string/numeric columns need no schema. Column
    names are matched literally, dotted and spaced ones included.
    """
    types = {f.name: f.dataType for f in df.schema.fields} if df is not None else {}
    cells = ", ".join(_cell_sql(c, types.get(c)) for c in cols)
    return F.expr(f"md5(concat_ws('', sort_array(array({cells}))))")


def with_row_hash(df: DataFrame, cols: list[str] | None = None, out: str = "row_h") -> DataFrame:
    """Attach the canonical hash column over ``cols`` (default: all)."""
    cols = cols or df.columns
    return df.withColumn(out, row_hash(cols, df))


# ---------------------------------------------------------------------------
# Oracle-side mirror (DuckDB SQL text) — used by __spark_entry__.oracle_sql
# ---------------------------------------------------------------------------

def row_hash_sql(cols: list[str], ts_cols: set[str] | None = None) -> str:
    """The same H1 pipeline as DuckDB SQL: md5(array_to_string(
    list_sort([lower(coalesce(cast(c as varchar), '')) …]), ''))."""
    ts_cols = ts_cols or set()
    cells = []
    for c in cols:
        rendered = f"strftime({c}, '{TS_FMT_DUCK}')" if c in ts_cols else f"CAST({c} AS VARCHAR)"
        cells.append(f"lower(coalesce({rendered}, ''))")
    arr = ", ".join(cells)
    return f"md5(array_to_string(list_sort([{arr}]), ''))"
