"""H1 golden vectors (reference etl_test.go:9-53) + cross-engine parity."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from etl_pack_spark.operators.hashing import row_hash, row_hash_sql, with_row_hash

GOLDEN = [
    # (cells, md5) — etl_test.go:25,34,43
    (("1", "2", "3", "4"), "81dc9bdb52d04dc20036dbd8313ed055"),
    (("5", "7", "6", "8"), "674f3c2c1a8a6f90461e8a66fb5550ba"),  # order-insensitive
    (("9", "10", "11", "12"), "dfd9bfe9dab8fc185ea63bfdc614f9e7"),  # "10" < "9" lexicographic
]


def test_golden_vectors(spark):
    df = spark.createDataFrame([c for c, _ in GOLDEN], "col1 string, col2 string, col3 string, col4 string")
    got = df.withColumn("h", row_hash(["col1", "col2", "col3", "col4"])).select("col1", "h").collect()
    by_first = {r["col1"]: r["h"] for r in got}
    assert by_first["1"] == GOLDEN[0][1]
    assert by_first["5"] == GOLDEN[1][1]
    assert by_first["9"] == GOLDEN[2][1]


def test_case_insensitive_and_null(spark):
    df = spark.createDataFrame([("A", None), ("a", "")], "x string, y string")
    hs = [r["h"] for r in df.select(row_hash(["x", "y"]).alias("h")).collect()]
    # NULL and "" both render as "" (mysql/mysql.go:110-113) and
    # lowercase folds A/a — so both rows hash identically.
    assert hs[0] == hs[1]


def test_column_order_insensitive(spark):
    df = spark.createDataFrame([("b", "a")], "x string, y string")
    h1 = df.select(row_hash(["x", "y"]).alias("h")).first()["h"]
    h2 = df.select(row_hash(["y", "x"]).alias("h")).first()["h"]
    assert h1 == h2


def test_dotted_quoted_and_spaced_names(spark):
    """Column names are matched literally: a top-level ``a.b`` is not a
    struct path, and backticks and spaces stay part of the name (the
    shape ClickHouse ``Nested`` columns flatten into). The hash ignores
    names, so the same rows hash equal under plain names."""
    rows = [("1", "X", None), ("10", "9", "y")]
    odd = spark.createDataFrame(rows, "`a.b` string, `c``d` string, `e f` string")
    plain = spark.createDataFrame(rows, "p string, q string, r string")
    got = [r[0] for r in odd.select(row_hash(odd.columns, odd)).collect()]
    want = [r[0] for r in plain.select(row_hash(plain.columns, plain)).collect()]
    assert got == want
    assert with_row_hash(odd, out="h").select("h").collect() == with_row_hash(
        plain, out="h"
    ).select("h").collect()


def test_duckdb_parity_customer(spark, sf_dir):
    """The same hash expression in Spark and DuckDB must agree on real
    mixed-type rows (int64, string, int32, double) — this is what the
    driver's oracle comparison relies on."""
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    spark_rows = (
        with_row_hash(df, cols, out="h").select("c_custkey", "h").orderBy("c_custkey").collect()
    )
    sql = row_hash_sql(cols)
    duck = duckdb.sql(
        f"SELECT c_custkey, {sql} AS h FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey"
    ).fetchall()
    assert [(r["c_custkey"], r["h"]) for r in spark_rows] == duck


def test_duckdb_parity_timestamps(spark, sf_dir):
    """Timestamp cells use the pinned yyyy-MM-dd HH:mm:ss rendering on
    both engines (lineitem.l_shipdate)."""
    cols = ["l_orderkey", "l_linenumber", "l_shipdate"]
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_orderkey") < 100)
    spark_rows = sorted(
        (r["l_orderkey"], r["l_linenumber"], r["h"])
        for r in with_row_hash(df, cols, out="h").collect()
    )
    sql = row_hash_sql(cols, ts_cols={"l_shipdate"})
    duck = sorted(
        duckdb.sql(
            f"SELECT l_orderkey, l_linenumber, {sql} AS h FROM "
            f"'{sf_dir}/lineitem.parquet' WHERE l_orderkey < 100"
        ).fetchall()
    )
    assert spark_rows == duck
