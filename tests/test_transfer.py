"""X1-X4: the flagship incremental transfer pipeline end-to-end."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from etl_pack_spark.plans.transfer import TransferConfig, run_transfer
from etl_pack_spark.sinks.writers import append_table

WIN = ("l_shipdate", datetime.datetime(1996, 1, 1), datetime.datetime(1996, 12, 31))


def test_append_table_counts(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    res = append_table(df, str(tmp_path / "region_out"))
    assert res.rows == df.count()


def test_transfer_is_idempotent(spark, sf_dir, tmp_path):
    """Run the same windowed incremental load twice: the second firing
    must append nothing (H3 idempotence — the property the whole
    reference design exists to provide)."""
    target = str(tmp_path / "lineitem_tgt")
    cfg = TransferConfig(source_dir=sf_dir, table="lineitem", target_path=target, window=WIN)

    first = run_transfer(spark, cfg)
    assert first.rows > 0
    second = run_transfer(spark, cfg)
    assert second.rows == 0

    src_cnt = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(F.col(WIN[0]).between(WIN[1], WIN[2]))
        .count()
    )
    assert spark.read.parquet(target).count() == src_cnt


def test_firing_job_counts(spark, sf_dir, tmp_path, count_jobs):
    """A firing into a missing target runs one Spark job (the write). A
    warm firing runs two: the broadcast of the target's row hashes and
    the write. Both opens read their schema from the parquet footers,
    and the anti-join's build side is the plain hash projection, with
    no distinct shuffle before it."""
    target = str(tmp_path / "lineitem_jobs")
    w1 = ("l_shipdate", datetime.datetime(1995, 1, 1), datetime.datetime(1996, 6, 30))
    w2 = ("l_shipdate", datetime.datetime(1996, 1, 1), datetime.datetime(1996, 12, 31))
    cold, cold_jobs = count_jobs(lambda: run_transfer(spark, TransferConfig(sf_dir, "lineitem", target, window=w1)))
    warm, warm_jobs = count_jobs(lambda: run_transfer(spark, TransferConfig(sf_dir, "lineitem", target, window=w2)))
    assert (cold_jobs, warm_jobs) == (1, 2)
    assert cold.rows > 0 and warm.rows > 0
    assert spark.read.parquet(target).count() == (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(F.col("l_shipdate").between(w1[1], w2[2]))
        .count()
    )


def test_partitioned_target_prunes_snapshot(spark, sf_dir, tmp_path):
    """With a target partitioned by the cursor's month, the H2 snapshot
    read must prune partitions via the window predicate — this is what
    keeps incremental cost O(window) instead of O(target) at scale."""
    target = str(tmp_path / "orders_part")
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    append_table(src, target, partition_by=["o_month"])

    tgt = spark.read.parquet(target).where(F.col("o_month") == "1996-03")
    plan = tgt._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_month" in plan  # pruned scan

    # and the windowed incremental load over the partitioned target is
    # idempotent exactly like the flat-target case
    cfg = TransferConfig(
        source_dir=sf_dir, table="orders", target_path=str(tmp_path / "o2"),
        window=("o_orderdate", datetime.datetime(1996, 1, 1), datetime.datetime(1996, 6, 30)),
    )
    assert run_transfer(spark, cfg).rows > 0
    assert run_transfer(spark, cfg).rows == 0


def test_transfer_picks_up_new_window(spark, sf_dir, tmp_path):
    """Advance the cursor window (the cron-firing-over-time pattern,
    provider.go:69-87): only genuinely new rows land."""
    target = str(tmp_path / "lineitem_tgt2")
    w1 = ("l_shipdate", datetime.datetime(1996, 1, 1), datetime.datetime(1996, 6, 30))
    w2 = ("l_shipdate", datetime.datetime(1996, 1, 1), datetime.datetime(1996, 12, 31))
    r1 = run_transfer(spark, TransferConfig(sf_dir, "lineitem", target, window=w1))
    r2 = run_transfer(spark, TransferConfig(sf_dir, "lineitem", target, window=w2))
    total = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where(F.col("l_shipdate").between(w2[1], w2[2]))
        .count()
    )
    assert r1.rows + r2.rows == total
    assert spark.read.parquet(target).count() == total


def test_write_sink_formats_roundtrip(spark, sf_dir, tmp_path):
    from etl_pack_spark.sinks.writers import write_sink
    from etl_pack_spark.sources.formats import read_source

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    for fmt, read_fmt in [("parquet", "parquet"), ("orc", "orc"), ("csv", "csv"), ("json", "json")]:
        out = str(tmp_path / fmt)
        res = write_sink(nation, out, fmt=fmt, mode="overwrite")
        assert res.rows == nation.count()
        tags = (
            {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32", "n_comment": "string"}
            if fmt == "csv" else None
        )
        back = read_source(spark, out, read_fmt, schema_tags=tags)
        assert back.count() == nation.count()


def test_write_sink_tsv_is_tab_separated(spark, sf_dir, tmp_path):
    import glob

    from etl_pack_spark.sinks.writers import write_sink

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").limit(3)
    out = str(tmp_path / "tsv")
    write_sink(nation.select("n_nationkey", "n_name"), out, fmt="tsv", mode="overwrite")
    part = glob.glob(f"{out}/part-*")[0]
    lines = open(part).read().strip().splitlines()
    assert lines[0] == "n_nationkey\tn_name"
    assert all("\t" in l for l in lines[1:])


class TestWriterGoldenSql:
    """Ported golden vectors for the writer's literal-SQL shims
    (header, FromUniversal rendering, multi-VALUES assembly)."""

    def test_header_with_and_without_columns(self):
        from etl_pack_spark.sinks.writers import insert_header

        assert insert_header("DB.table", ["col1", "col2", "col3"]) == \
            "INSERT INTO DB.table (col1,col2,col3) VALUES "
        assert insert_header("DB.table", []) == "INSERT INTO DB.table VALUES "

    def test_message_to_query_golden(self):
        from etl_pack_spark.sinks.writers import insert_batch_sql

        n, sql = insert_batch_sql(
            "DB.table",
            ["col1", "col2", "col3"],
            ["int64", "uint32", "string"],   # uint32: unsupported -> quoted
            ["-1", "2", "Hello!", "-3", "4", "World!"],
        )
        assert n == 2
        assert sql == ("INSERT INTO DB.table (col1,col2,col3) VALUES "
                       "(-1,'2','Hello!'),(-3,'4','World!')")

    def test_bad_datetime_aborts(self):
        import pytest as _pt

        from etl_pack_spark.sinks.writers import insert_batch_sql

        with _pt.raises(ValueError):
            insert_batch_sql("DB.table", ["col1"], ["datetime"], ["-1", "-3"])

    def test_datetime_and_quote_escaping(self):
        from etl_pack_spark.sinks.writers import render_insert_literal

        assert render_insert_literal(
            "datetime", "2022-06-19T12:30:45.999+07:00"
        ) == "'2022-06-19 12:30:45'"
        assert render_insert_literal("datetime", "2022-06-19T12:30:45Z") == \
            "'2022-06-19 12:30:45'"
        assert render_insert_literal("string", "it's") == "'it''s'"
        assert render_insert_literal("int64", "-9") == "-9"


def test_insert_batch_sql_rejects_malformed_shapes():
    import pytest as _pt

    from etl_pack_spark.sinks.writers import insert_batch_sql

    with _pt.raises(ValueError, match="multiple"):
        insert_batch_sql("t", ["c"], ["string"], [])
    with _pt.raises(ValueError, match="multiple"):
        insert_batch_sql("t", [], ["string"], ["x"])
    with _pt.raises(ValueError, match="multiple"):
        insert_batch_sql("t", ["a", "b"], ["string", "string"], ["1", "2", "3"])
