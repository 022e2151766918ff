"""H2/H3 semantics (reference etl_test.go:101-238, five filter cases)
+ exact_dedup extension."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import etl_pack_spark.operators.dedup as dd
from etl_pack_spark.operators.dedup import (
    exact_dedup,
    incremental_filter,
    incremental_load,
    snapshot_hashes,
)

ROWS = [("1", "2", "3", "4"), ("5", "6", "7", "8"), ("9", "10", "11", "12")]
SCHEMA = "col1 string, col2 string, col3 string, col4 string"


def _batch(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_nil_snapshot_passthrough(spark):
    # etl.go:28-30: nil dict → batch passes through untouched
    src = _batch(spark)
    assert incremental_filter(src, None).count() == 3


def test_empty_snapshot_passthrough(spark):
    src = _batch(spark)
    empty = spark.createDataFrame([], "h string")
    assert incremental_filter(src, empty).count() == 3


def test_nonmatching_hash_passthrough(spark):
    src = _batch(spark)
    snap = spark.createDataFrame([("deadbeef",)], "h string")
    assert incremental_filter(src, snap).count() == 3


def test_partial_filter(spark):
    # one matching hash → that row dropped (etl_test.go "partial" case)
    src = _batch(spark)
    snap = snapshot_hashes(src.where(F.col("col1") == "1"))
    out = incremental_filter(src, snap)
    got = {r["col1"] for r in out.collect()}
    assert got == {"5", "9"}


def test_full_filter_empty_result(spark):
    # all hashes match → empty output (reference sends nothing, etl.go:40-42)
    src = _batch(spark)
    out = incremental_filter(src, snapshot_hashes(src))
    assert out.count() == 0


def test_incremental_load_complement(spark, sf_dir):
    """FIXTURES.md H-family: target = subset of source → new rows =
    complement."""
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    tgt = src.where(F.col("c_custkey") % 2 == 0)
    new = incremental_load(src, tgt)
    assert {r["c_custkey"] % 2 for r in new.collect()} == {1}
    assert new.count() == src.count() - tgt.count()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "B")], "id int, txt string"
    )
    # hash over txt only → "a" dups and case-folded "b"/"B" dups collapse,
    # survivor = min id
    out = exact_dedup(df, cols=["txt"], keep_order_col="id")
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


class TestMembershipPrefilter:
    """r15 (round-14 VERDICT #7): the map-side occupied-bucket
    pre-filter — same answers as the plain anti-join whether engaged
    or not, broadcast-only pre-legs, shuffled volume cut to the
    candidate sliver, engagement window."""

    @staticmethod
    def _filter(src, snap, engage: bool):
        """incremental_filter with the engagement window forced open
        (any snapshot size engages) or shut (none does)."""
        with pytest.MonkeyPatch.context() as mp:
            if engage:
                mp.setattr(dd, "PREFILTER_MIN_ROWS", -1)
                mp.setattr(dd, "PREFILTER_MAX_ROWS", 1 << 62)
            else:
                mp.setattr(dd, "PREFILTER_MAX_ROWS", -1)
            return incremental_filter(src, snap)

    def _src_snap(self, spark, n_src=2000, n_overlap=300):
        src = spark.range(n_src).select(
            F.col("id").cast("string").alias("col1"),
            (F.col("id") * 7).cast("string").alias("col2"),
        )
        seen = src.where(F.col("id").cast("long") < n_overlap) \
            if "id" in src.columns else None
        # snapshot = hashes of the first n_overlap rows
        seen = src.limit(0).unionByName(
            spark.range(n_overlap).select(
                F.col("id").cast("string").alias("col1"),
                (F.col("id") * 7).cast("string").alias("col2"),
            ))
        return src, snapshot_hashes(seen)

    def test_forced_prefilter_equals_plain_anti_join(self, spark):
        src, snap = self._src_snap(spark)
        plain = {tuple(r) for r in
                 self._filter(src, snap, engage=False).collect()}
        pre = {tuple(r) for r in
               self._filter(src, snap, engage=True).collect()}
        assert pre == plain
        assert len(pre) == 1700  # 2000 - 300 overlapped

    def test_prefilter_plan_is_broadcast_legs_plus_exact_arbiter(
            self, spark):
        src, snap = self._src_snap(spark)
        plain = self._filter(src, snap, engage=False)
        assert "Union" not in \
            plain._jdf.queryExecution().executedPlan().toString()
        df = self._filter(src, snap, engage=True)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan
        # two broadcast legs on the bucket column, exact LeftAnti kept
        assert plan.count("BroadcastHashJoin") >= 2
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_prefilter_cuts_candidate_volume(self, spark):
        """Volume evidence: the exact join's input (bucket hits) is the
        overlap plus a small false-positive sliver, not the source."""
        from etl_pack_spark.operators.dedup import (
            HASH_COL,
            _BUCKET_COL,
            _membership_prefilter,  # noqa: F401 (documented internal)
        )
        from etl_pack_spark.operators.hashing import row_hash

        src, snap = self._src_snap(spark, n_src=5000, n_overlap=200)
        keyed = src.withColumn(HASH_COL, row_hash(src.columns, src))
        snap_k = snap.withColumnRenamed("h", HASH_COL)
        n = snap_k.count()
        m = 1 << max(20, (n * 16 - 1).bit_length())
        bucket = F.pmod(F.xxhash64(F.col(HASH_COL)), F.lit(m))
        occupied = snap_k.select(bucket.alias(_BUCKET_COL)).distinct()
        candidates = keyed.withColumn(_BUCKET_COL, bucket).join(
            F.broadcast(occupied), _BUCKET_COL, "left_semi").count()
        # 200 true members + expected FP ~ (5000-200) * 200/2^20 < ~10
        assert 200 <= candidates <= 260
        assert candidates < 5000 * 0.1

    def test_auto_mode_window(self, spark, monkeypatch):
        """The pre-filter engages only between the broadcast floor and the
        bounded-broadcast ceiling; outside it the plan is the plain
        anti-join (no union legs)."""
        src, snap = self._src_snap(spark)
        # small snapshot (300 hashes) under the floor: plain plan
        plan = incremental_filter(src, snap) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan
        # shrink the floor so the same snapshot engages the pre-filter
        monkeypatch.setattr(dd, "PREFILTER_MIN_ROWS", 10)
        engaged = incremental_filter(src, snap)
        plan2 = engaged._jdf.queryExecution().executedPlan().toString()
        assert "Union" in plan2
        assert {tuple(r) for r in engaged.collect()} == {
            tuple(r) for r in
            self._filter(src, snap, engage=False).collect()}
        # above the ceiling: documented fallback to the plain join
        monkeypatch.setattr(dd, "PREFILTER_MAX_ROWS", 100)
        plan3 = incremental_filter(src, snap) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan3
