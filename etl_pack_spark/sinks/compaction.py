"""Parquet compaction & clustering — lake maintenance for the sink side.

Incremental loads (plans/transfer.py) append small files every run; at
100 TB that means millions of files and scan planning that drowns in
footer reads. ``compact`` rewrites a table to ~``target_file_mb`` files
and optionally RANGE-CLUSTERS rows by given columns so parquet
row-group min/max statistics become selective: a filter on the cluster
column then prunes whole files/row-groups at planning time (the same
effect the reference's per-day tables give it, done Spark-native).

``repartitionByRange`` gives globally disjoint per-file key ranges (one
range-partition shuffle, sampled boundaries — AQE-friendly);
``sortWithinPartitions`` orders rows inside each file so row-group
stats are tight at any file size.

Object-store readiness: file inventory goes through the Hadoop
FileSystem API (``Path.getFileSystem``), so ``file:``, ``hdfs:``,
``s3a:``, ``abfs:`` paths all list correctly — never ``os.walk``,
which silently returns nothing for URI paths and would plan 1 output
file from 0 input bytes. Footer-statistics reads are distributed as a
small Spark job over the file list (one task per ~few hundred files),
because at the millions-of-small-files state compaction exists to fix,
a serial driver loop over footers IS the bottleneck.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from etl_pack_spark.sinks.fsio import _local_path


@dataclass(frozen=True)
class CompactionStats:
    in_files: int
    in_bytes: int
    out_files: int
    out_path: str


def list_parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive ``(file_uri, bytes)`` inventory of a table directory
    via the Hadoop FileSystem API — scheme-aware (file:/hdfs:/s3a:/…),
    unlike ``os.walk`` which only sees driver-local POSIX paths.
    Metadata sidecars (``_SUCCESS``, ``.crc``) are excluded."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(f"compaction input does not exist: {path}")
    out: list[tuple[str, int]] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((p, int(st.getLen())))
    return out


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    files = list_parquet_files(spark, path)
    return len(files), sum(n for _, n in files)


def compact(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: float = 256,
    cluster_by: list[str] | None = None,
) -> CompactionStats:
    """Rewrite ``in_path`` to ``out_path`` at ~target_file_mb per file,
    range-clustered by ``cluster_by`` when given.

    Runs as ONE Spark data job: a scan, at most one range shuffle, a
    write. File count derives from actual input bytes, so repeated
    compaction is stable. Output is written to a separate path — for an
    atomic in-place swap use the CLI's ``--compact`` (staged/backup/
    rename via :mod:`etl_pack_spark.sinks.atomic`) or a transactional
    table format. An empty input listing is a loud error, not a 1-file
    plan from 0 bytes (an object-store path typo must not "succeed").
    """
    n_in, in_bytes, n_out, _ = _plan_out_files(spark, in_path, target_file_mb)
    df: DataFrame = spark.read.parquet(in_path)
    if cluster_by:
        df = df.repartitionByRange(n_out, *cluster_by).sortWithinPartitions(*cluster_by)
    else:
        df = df.coalesce(n_out)
    df.write.mode("overwrite").parquet(out_path)
    out_files, _ = _dir_stats(spark, out_path)
    return CompactionStats(n_in, in_bytes, out_files, out_path)


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, bounds: dict | None = None
):
    """Z-order (Morton) key over 2+ numeric/timestamp columns as a pure
    Column expression: each column min-max-normalized to ``bits`` bits,
    then bit-interleaved. Sorting by this key clusters rows so that
    parquet min/max stats are selective on EVERY participating
    dimension at once — the multi-dimensional pruning a single-column
    range cluster can't give (its second dimension's per-file ranges
    stay ~full-width). The interleave is ~bits×dims shift/and/or
    terms, all inside whole-stage codegen.

    ``bits * len(cols)`` must fit in 63 bits (bit 63 is the long's
    sign and would invert the range ordering; shifts past 63 wrap mod
    64 on the JVM and would silently conflate dimensions) — the guard
    raises instead. Bounds come from ``bounds`` (``{col: (mn, mx)}``,
    e.g. parquet footer stats) when given, else ONE tiny agg over the
    data — the only driver-side data is 2×len(cols) scalars.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    ndims = len(cols)
    if bits * ndims > 63:
        raise ValueError(
            f"zorder_key needs bits*len(cols) <= 63 (got {bits}*{ndims}="
            f"{bits * ndims}); pass bits={63 // ndims} for {ndims} columns"
        )

    def as_double(c: str):
        # temporal types can't CAST to double under ANSI — normalize to
        # epoch numbers (only ordering matters for the interleave);
        # try_cast keeps non-numeric strings NULL instead of erroring
        t = df.schema[c].dataType.typeName()
        if t.startswith("timestamp"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if t == "date":
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        return F.col(c).try_cast("double")

    num = {c: as_double(c) for c in cols}
    if bounds is None:
        row = df.agg(
            *[F.min(num[c]).alias(f"mn_{c}") for c in cols],
            *[F.max(num[c]).alias(f"mx_{c}") for c in cols],
        ).collect()[0]
        bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}
    top = (1 << bits) - 1
    terms = []
    for d, c in enumerate(cols):
        mn, mx = bounds[c]
        if mn is None or mx is None:  # all-NULL column: constant dim
            mn, mx = 0.0, 0.0
        span = (mx - mn) or 1.0
        v = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                ((num[c] - F.lit(mn)) / F.lit(span) * top).cast("long"),
            ),
        )
        v = F.coalesce(v, F.lit(0))
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), i * ndims + d)
            )
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


# parquet physical types whose footer min/max are trustworthy as
# numeric z-order bounds. BYTE_ARRAY (strings) is deliberately OUT: a
# string column whose lexicographic min/max happen to parse as numbers
# ('10' < '9') would yield inverted bounds that silently degrade the
# clustering; BOOLEAN and INT96 (legacy nanos timestamps, surfaced as
# datetime objects) likewise fall back to the agg scan.
_NUMERIC_PHYSICAL = {"INT32", "INT64", "FLOAT", "DOUBLE"}


def _file_footer_bounds(uri: str, cols: list[str]) -> dict | None:
    """(min, max) per requested column from ONE parquet file's footer.
    ``None`` means "fall back to the agg scan": a column missing stats,
    or a non-numeric physical type (see ``_NUMERIC_PHYSICAL``)."""
    import pyarrow.parquet as pq

    path = _local_path(uri)
    if path is None:  # non-file scheme: object store via pyarrow fs
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(uri)
        f = pq.ParquetFile(fs.open_input_file(rel))
    else:
        f = pq.ParquetFile(path)
    md = f.metadata
    mins: dict = {c: None for c in cols}
    maxs: dict = {c: None for c in cols}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if name not in mins:
                continue
            if col.physical_type not in _NUMERIC_PHYSICAL:
                return None
            st = col.statistics
            if st is None or not st.has_min_max:
                return None
            lo, hi = st.min, st.max
            if isinstance(lo, bool) or not isinstance(lo, (int, float)):
                return None
            lo, hi = float(lo), float(hi)
            mins[name] = lo if mins[name] is None else min(mins[name], lo)
            maxs[name] = hi if maxs[name] is None else max(maxs[name], hi)
    if any(mins[c] is None for c in cols):
        return None
    return {c: (mins[c], maxs[c]) for c in cols}


def _merge_bounds(a: dict | None, b: dict | None) -> dict | None:
    if a is None or b is None:
        return None
    return {
        c: (min(a[c][0], b[c][0]), max(a[c][1], b[c][1])) for c in a
    }


def _footer_bounds(
    spark: SparkSession,
    in_path: str,
    cols: list[str],
    files: list[str] | None = None,
) -> dict | None:
    """Per-column (min, max) from parquet FOOTER statistics — metadata
    reads only, no data scan. None when any column lacks stats or is a
    non-numeric type (the caller then falls back to the one-agg scan).

    The footer reads run as a SPARK JOB over the Hadoop-listed file
    inventory (~300 files per task, merged with ``treeReduce`` so the
    driver sees one dict per partition, never one per file) — on the
    millions-of-small-files tables compaction targets, a serial driver
    loop over footers would dominate the whole job.
    """
    try:
        import pyarrow.parquet as pq  # noqa: F401
    except ImportError:
        return None
    if files is None:
        files = [p for p, _ in list_parquet_files(spark, in_path)]
    if not files:
        return None
    cols = list(cols)

    def one(uri: str) -> dict | None:
        try:
            return _file_footer_bounds(uri, cols)
        except Exception:
            return None

    if len(files) <= 16:  # not worth a job's scheduling overhead
        out = one(files[0])
        for f in files[1:]:
            out = _merge_bounds(out, one(f))
        return out
    n_parts = max(1, math.ceil(len(files) / 300))
    rdd = spark.sparkContext.parallelize(files, n_parts).map(one)
    return rdd.treeReduce(_merge_bounds)


def _plan_out_files(
    spark: SparkSession, in_path: str, target_file_mb: float
) -> tuple[int, int, int, list[str]]:
    """(n_in, in_bytes, n_out, file_uris) — the inventory is returned
    so callers never pay the recursive listing twice (on the
    millions-of-files tables compaction targets, the listing IS a
    dominant cost)."""
    if target_file_mb <= 0:
        raise ValueError(f"target_file_mb must be > 0, got {target_file_mb}")
    inv = list_parquet_files(spark, in_path)
    n_in, in_bytes = len(inv), sum(n for _, n in inv)
    if n_in == 0:
        raise ValueError(
            f"no parquet files under {in_path!r} — refusing to compact an "
            "empty listing (wrong path / scheme?)"
        )
    n_out = max(1, math.ceil(in_bytes / (target_file_mb * (1 << 20))))
    return n_in, in_bytes, n_out, [p for p, _ in inv]


def _leaf_dirs(spark: SparkSession, root: str) -> list[tuple[str, int, int]]:
    """LEAF directories (those directly containing parquet files)
    under a partitioned table root, via the Hadoop FileSystem API —
    each leaf is one partition and one compaction unit. Returns
    ``(path, n_parquet_files, bytes)`` so the fragmentation decision
    costs no second listing."""
    jvm = spark._jvm
    hroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = hroot.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hroot):
        raise FileNotFoundError(f"compaction root does not exist: {root}")
    leaves: list[tuple[str, int, int]] = []

    def descend(p):
        n, nbytes, subdirs = 0, 0, []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue  # hidden: stage/backup dirs, _SUCCESS, .crc
            if st.isDirectory():
                subdirs.append(st.getPath())
            elif name.endswith(".parquet"):
                n += 1
                nbytes += int(st.getLen())
        if n:
            leaves.append((p.toString(), n, nbytes))
        for d in subdirs:
            descend(d)

    descend(hroot)
    return leaves


def compact_partitions(
    spark: SparkSession,
    root: str,
    target_file_mb: float = 256,
    min_files: int = 2,
    min_avg_mb: float | None = None,
    cluster_by: list[str] | None = None,
) -> list[CompactionStats]:
    """SELECTIVE in-place compaction of a partitioned table: rewrite
    only the fragmented leaves, leave healthy ones untouched.

    At 100 TB a full-table compact re-shuffles petabyte-years of
    already-healthy data to fix the handful of partitions the last
    incremental loads fragmented; the recurring maintenance job must
    be incremental in the same sense the loads are. A leaf is
    fragmented when it has ≥ ``min_files`` files AND its mean file
    size is under ``min_avg_mb`` (default: half of ``target_file_mb``
    — files near target size are left alone). Each fragmented leaf is
    rewritten independently (its own small Spark job) and swapped in
    atomically via :mod:`etl_pack_spark.sinks.atomic` — a crash leaves
    every leaf either old or new, never half; an interrupted swap is
    recovered on the next run.

    Leaf discovery is Hadoop-FS (any scheme); the atomic SWAP is
    POSIX-rename, so in-place rewriting requires a locally-mounted
    path — on object stores use a transactional table format instead;
    a remote ``root`` raises ``NotImplementedError``.
    Returns one :class:`CompactionStats` per REWRITTEN leaf (skipped
    leaves are absent: the common steady-state run returns []).
    """
    import os

    from etl_pack_spark.sinks.atomic import (
        posix_path,
        publish_swap,
        recover_swap,
        stage_dir,
    )

    # the swap is POSIX-only: a remote root fails here, at entry,
    # not as an os.walk that silently lists nothing
    local_root = posix_path(root)
    if min_avg_mb is None:
        min_avg_mb = target_file_mb / 2
    out: list[CompactionStats] = []

    # recovery pre-pass: a leaf that crashed mid-swap exists ONLY as
    # its hidden backup (the leaf dir itself is gone, so leaf
    # discovery would never visit it) — restore those first; a leaf
    # that crashed BEFORE its swap left an orphaned hidden staging dir
    # instead — delete those (nothing else ever visits dot-prefixed
    # siblings, so orphans would accumulate dead bytes forever)
    import shutil as _shutil

    for r, dirs, _ in os.walk(local_root):
        for d in list(dirs):
            if d.startswith(".") and d.endswith(".bak"):
                recover_swap(os.path.join(r, d[1:-4]))
                dirs.remove(d)
            elif d.startswith(".compact_part_"):
                _shutil.rmtree(os.path.join(r, d), ignore_errors=True)
                dirs.remove(d)

    for leaf, n, nbytes in _leaf_dirs(spark, root):
        local = _local_path(leaf)
        if n < min_files or nbytes / n >= min_avg_mb * (1 << 20):
            continue
        staged = stage_dir(local, prefix="compact_part_")
        st = compact(
            spark, leaf, staged,
            target_file_mb=target_file_mb, cluster_by=cluster_by,
        )
        publish_swap(staged, local)
        out.append(CompactionStats(st.in_files, st.in_bytes, st.out_files, leaf))
    return out


def compact_zorder(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    zorder_by: list[str],
    target_file_mb: float = 256,
    bits: int = 16,
) -> CompactionStats:
    """:func:`compact` with Z-ORDER clustering: one range shuffle on
    the interleaved key + in-file sort, so files carry tight min/max
    ranges on every ``zorder_by`` column simultaneously. Same
    single-DATA-job shape and stable file sizing as :func:`compact`:
    normalization bounds come from the parquet FOOTERS (metadata
    only, read as a distributed job) when every column carries numeric
    stats, falling back to one tiny agg scan otherwise."""
    n_in, in_bytes, n_out, files = _plan_out_files(spark, in_path, target_file_mb)
    df = spark.read.parquet(in_path)
    z = zorder_key(
        df, zorder_by, bits,
        bounds=_footer_bounds(spark, in_path, zorder_by, files=files),
    )
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_out, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode("overwrite").parquet(out_path)
    out_files, _ = _dir_stats(spark, out_path)
    return CompactionStats(n_in, in_bytes, out_files, out_path)
