"""Transfer pipeline assembly (ops X1-X4): one incremental dedup load.

The reference wires generator → executor-pool → gRPC sender → converter
pool → insert pool across two processes (provider.go:90-110,
consumer.go:26-75). All of that is scheduling, which Spark owns; the
*pipeline* collapses to a four-line plan (SURVEY §3.4):

    src  = windowed_read(source, fields, window)        # S1-S3, P1-P3
    new  = incremental_load(src, open_parquet(target))  # H1+H3
    append_table(new, target)                           # S4/S5, X4

Both opens read their schema from the parquet footers, so a warm
firing runs two Spark jobs: the broadcast of the target's hashes and
the write (one, the write, while the target does not exist yet).

Cron (X1, provider.go:69-87) becomes an external scheduler invoking
:func:`run_transfer` — each invocation is one "firing". A resident
streaming variant lives in :mod:`etl_pack_spark.streaming.incremental`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from etl_pack_spark.operators.dedup import incremental_load
from etl_pack_spark.sinks.writers import WriteResult, append_table
from etl_pack_spark.sources.reader import ReadSpec, open_parquet, windowed_read


@dataclass(frozen=True)
class TransferConfig:
    """Provider+Consumer config merged (provider.go:17-31,
    consumer.go:16-23) minus transport: what to read, whether to dedup
    against the target, where to append."""

    source_dir: str
    table: str
    target_path: str
    fields: list[str] = field(default_factory=list)
    window: tuple[str, object, object] | None = None
    order: list[str] = field(default_factory=list)
    increment: bool = True          # provider.go:24 Increment flag
    partition_by: list[str] = field(default_factory=list)


def run_transfer(spark: SparkSession, cfg: TransferConfig) -> WriteResult:
    """One firing of the reference's cron job (provider.go:90-110) as a
    single Spark plan. Idempotent under re-run exactly like the
    reference: H3 drops rows already present.

    Scale notes: the snapshot read applies the same window predicate to
    the *target* (mirroring the snapshot SQL of
    mysql/writer/main.go:135-141) so a partitioned target prunes to the
    increment window — H2 cost tracks the window, not the table.
    """
    spec = ReadSpec(table=cfg.table, fields=cfg.fields, window=cfg.window, order=cfg.order)
    src = windowed_read(spark, cfg.source_dir, spec)

    tgt = None
    if cfg.increment and _target_exists(spark, cfg.target_path):
        tgt = open_parquet(spark, cfg.target_path)
        if cfg.window is not None and cfg.window[0] in tgt.columns:
            tgt = windowed_read(spark, "", ReadSpec(table="", window=cfg.window), df=tgt)
        if cfg.fields:
            tgt = tgt.select(*cfg.fields)

    new_rows = incremental_load(src, tgt)
    return append_table(new_rows, cfg.target_path, partition_by=cfg.partition_by or None)


def _target_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware (r9): the load target is read and appended through
    Spark, so existence must be answered by the path's OWN filesystem —
    a driver-local os.path miss on an object-store target would skip
    the H2/H3 dedup and re-append every firing's rows."""
    from etl_pack_spark.sinks.fsio import exists

    return exists(spark, path)
