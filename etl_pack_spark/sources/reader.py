"""Scan path: projection ∘ range-filter ∘ sort ∘ limit (ops S1-S3, P1-P4).

The reference's read path generates paginated SQL text —
``SELECT <fields> FROM <t> [WHERE c BETWEEN lo AND hi] [ORDER BY o]
LIMIT off,n`` (mysql/reader/main.go:167) — and fans pages out over a
worker pool (provider.go:113-153). Offset pagination re-scans prefixes
(O(n^2) total work) and is non-deterministic without a unique total
order; Spark's split/partitioned reads give the same chunked-ingest
semantics with linear work, so we keep the reference's *query
semantics* (inclusive BETWEEN window, optional projection/order) and
discard its pagination mechanism entirely.

Everything here is a declarative plan: the projection becomes parquet
column pruning, the window becomes a pushed filter (check
``.explain`` → ``PushedFilters: [GreaterThanOrEqual(...), LessThanOrEqual(...)]``),
and at 100 TB with date-partitioned storage the same filter prunes
partitions before any I/O happens.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class ReadSpec:
    """Declarative description of one scan — the engine-side equivalent
    of the reference reader's CLI flags (mysql/reader/main.go:28-35).

    ``window`` is ``(column, lo, hi)`` with *inclusive* bounds, matching
    SQL BETWEEN (mysql/reader/main.go:146-148). ``order`` entries may
    end in `` DESC`` (mysql/reader/main_test.go:52-61).
    """

    table: str
    fields: list[str] = field(default_factory=list)  # empty = all (CLI default "*")
    window: tuple[str, object, object] | None = None
    order: list[str] = field(default_factory=list)
    limit: int | None = None


def sql_bound(expression: str) -> F.Column:
    """Mark a window bound as a SQL *expression* rather than a literal —
    the reference passes bound expressions like ``today()`` straight
    into its generated SQL (clickhouse/reader/main_test.go:46-49).
    Usage: ``ReadSpec(window=("d", sql_bound("current_date()"), ...))``.
    Any ``pyspark.sql.Column`` works as a bound; this helper just makes
    the raw-SQL form explicit."""
    return F.expr(expression)


def _order_cols(order: list[str]) -> list:
    cols = []
    for o in order:
        o = o.strip()
        if o.upper().endswith(" DESC"):
            cols.append(F.col(o[: -len(" DESC")].strip()).desc())
        elif o.upper().endswith(" ASC"):
            cols.append(F.col(o[: -len(" ASC")].strip()).asc())
        else:
            cols.append(F.col(o).asc())
    return cols


# Tables whose parquet event-time columns need normalizing to a proper
# TIMESTAMP (LTZ, UTC session). Fixture generations have varied:
# TIMESTAMP(NANOS) arrives as long nanos under nanosAsLong and is
# rebuilt at microsecond precision (integer div — no double round-trip,
# no precision loss); naive timestamp[us] arrives as TIMESTAMP_NTZ and
# is cast (UTC session → same instant). Watermarks/windows require LTZ.
NANOS_TS_TABLES: dict[str, list[str]] = {"events": ["ts"]}

# Runtime SQL confs the engine's semantics depend on. get_spark() sets
# them at build time, but queries must also be correct on a session the
# caller built (e.g. the driver's own) — these are all runtime-settable.
_REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Idempotently pin the runtime confs correctness depends on, and
    ship the package to executors."""
    for k, v in _REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """Make ``etl_pack_spark`` importable on executor Python workers.

    Pandas UDFs and stateful functions are pickled by module reference;
    a session whose workers start outside the repo (any caller-built
    session with a different cwd — e.g. the correctness driver) cannot
    import the package and every Python stage dies with
    ModuleNotFoundError. Shipping a package zip via addPyFile fixes
    that for local and cluster mode alike.
    """
    if spark.conf.get("spark.etl_pack_spark.shipped", "0") == "1":
        return
    import shutil
    import tempfile

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    # per-process unique dir: two drivers on one host must never race on
    # a shared archive path (addPyFile of a half-rewritten zip)
    archive = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(prefix="etl_pack_spark_pkg_"), "etl_pack_spark_pkg"),
        "zip",
        root_dir=repo_root,
        base_dir="etl_pack_spark",
    )
    spark.sparkContext.addPyFile(archive)
    spark.conf.set("spark.etl_pack_spark.shipped", "1")


# Spark writes its own schema JSON into every parquet footer under this
# key; schema inference reads it back verbatim when present.
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable (Spark's
    ``asNullable``, which every file relation applies)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _infers_differently(at) -> bool:
    """Whether parquet inference gives Arrow type ``at``, or a type nested
    in it, another Spark type than ``from_arrow_type`` does: nanosecond
    timestamps and durations (longs), times (which Spark rejects) and
    nulls (ints)."""
    import pyarrow.types as pat

    if pat.is_dictionary(at):
        return _infers_differently(at.value_type)
    if pat.is_timestamp(at):
        return at.unit == "ns"
    if pat.is_duration(at) or pat.is_time(at) or pat.is_null(at):
        return True
    return any(_infers_differently(at.field(i).type) for i in range(at.num_fields))


def footer_schema(file: str, ntz: bool = True) -> T.StructType | None:
    """The schema Spark infers for a parquet path whose first data file
    (in path order) is ``file``, read from that file's footer on the
    driver, or ``None`` when a type's inference differs from the Arrow
    mapping or has no Spark type (unsigned ints, float16). With
    ``mergeSchema`` off Spark reads that one footer too.

    A Spark-written file carries Spark's own schema JSON, which inference
    uses verbatim; another file maps its Arrow schema, naive timestamps to
    TIMESTAMP_NTZ when ``ntz`` (``spark.sql.parquet.inferTimestampNTZ.enabled``).
    No JVM is needed."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = pq.read_schema(file)
    js = (schema.metadata or {}).get(SPARK_ROW_METADATA)
    if js is not None:
        return _nullable(T.StructType.fromJson(json.loads(js)))
    if any(_infers_differently(f.type) for f in schema):
        return None
    try:
        return _nullable(from_arrow_schema(schema, prefer_timestamp_ntz=ntz))
    except TypeError:  # PySparkTypeError: an Arrow type with no Spark type
        return None


def _local_parquet_files(spark: SparkSession, path: str) -> list[str] | None:
    """The data files Spark's listing would read under ``path`` when it
    is a local file or a flat local directory, else ``None``: another
    filesystem, a relative path, a glob, partition or other
    subdirectories, or summary files (which Spark would read the schema
    from)."""
    from etl_pack_spark.sinks.fsio import _local_path

    local = _local_path(path)
    if local is None:
        return None
    if not path.startswith("file:"):
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        if not default_fs.startswith("file:"):
            return None
    path = local
    # relative paths resolve against the JVM's start directory, which a
    # later chdir in Python does not move
    if not os.path.isabs(path) or any(ch in path for ch in "*?[{"):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for entry in os.scandir(path):
        name = entry.name
        if name.startswith(("_metadata", "_common_metadata")):
            return None
        if (name.startswith(".") or (name.startswith("_") and "=" not in name)
                or name.endswith("._COPYING_")):
            continue  # Spark's hidden-path filter
        if not entry.is_file():
            return None
        files.append(entry.path)
    return sorted(files)


def open_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the same schema and no Spark
    job: the schema comes from the first data file's footer
    (:func:`footer_schema`), the one file Spark's own inference reads,
    and is passed with ``.schema(...)``. Any path the footer read cannot
    vouch for (not local and absolute, partitioned, empty, an uncovered
    type, ``mergeSchema`` on) takes the plain inferred read."""
    schema = None
    try:
        merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"
        files = None if merge else _local_parquet_files(spark, path)
        if files:
            ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
            schema = footer_schema(files[0], ntz=ntz.lower() == "true")
    except Exception:  # noqa: BLE001 — any footer hiccup: Spark infers
        schema = None
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """S1/S2 equivalent over the repo's parquet fixtures. A JDBC source
    plugs in via :func:`etl_pack_spark.sources.jdbc.jdbc_read` with the
    same downstream plan."""
    ensure_session_confs(spark)
    df = open_parquet(spark, f"{sf_dir}/{table}.parquet")
    for c in NANOS_TS_TABLES.get(table, []):
        field = dict((f.name, f.dataType) for f in df.schema.fields).get(c)
        if field is None:
            continue
        if field.simpleString() == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif field.simpleString() == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Expose the fixture tables as temp views so the pure-SQL API
    (``spark.sql``) works against the engine's sources — same Catalyst
    plans as the DataFrame path."""
    for t in tables or TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def windowed_read(
    spark: SparkSession,
    sf_dir: str,
    spec: ReadSpec,
    df: DataFrame | None = None,
) -> DataFrame:
    """Apply P1 (projection), P2 (inclusive range window), P3 (sort),
    P4 (limit) on top of a table scan.

    Note the reference sorts each *page* of the source query, not the
    global output (SURVEY §2 P3); Spark's orderBy here is a strictly
    stronger global sort. A global sort is a range-shuffle — at scale
    only ask for it when the consumer needs total order (the optional
    ``order`` mirrors the reference's optional ``-order``).
    """
    out = df if df is not None else read_table(spark, sf_dir, spec.table)
    if spec.window is not None:
        c, lo, hi = spec.window
        # Column bounds (see sql_bound) pass through as expressions;
        # plain values stay literals. Literal bounds reach the scan as
        # pushed filters; deterministic expressions constant-fold there.
        lo_c = lo if isinstance(lo, F.Column) else F.lit(lo)
        hi_c = hi if isinstance(hi, F.Column) else F.lit(hi)
        out = out.where(F.col(c).between(lo_c, hi_c))
    if spec.fields:
        out = out.select(*spec.fields)
    if spec.order:
        out = out.orderBy(*_order_cols(spec.order))
    if spec.limit is not None:
        out = out.limit(spec.limit)
    return out
