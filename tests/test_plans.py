"""Plan-shape assertions: the physical plans we promise at scale.

These lock in the properties that make the engine viable at 100 TB —
filters reaching the parquet scan, small dims broadcasting, partial
(map-side) aggregation, and no accidental cartesian products — so a
refactor that silently regresses a plan fails CI, not a cluster run.
"""

from __future__ import annotations

import pytest

from etl_pack_spark import suite


def plan_of(spark, sf_dir, name: str) -> str:
    df = suite.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_window_scan_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "p2_window")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: untouched columns never reach the scan
    assert "l_extendedprice" not in plan


def test_star_join_broadcasts_dim(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_revenue_by_nation")
    assert "BroadcastHashJoin" in plan


def test_agg_is_partial(spark, sf_dir):
    # two HashAggregate nodes = map-side partial + final (no raw-row shuffle)
    plan = plan_of(spark, sf_dir, "agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_anti_join_strategy(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "h3_anti_join")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_in_lsh_paths(spark, sf_dir):
    for name in ("dedup_minhash_lsh", "ann_lsh_neardup"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_snapshot_distinct_is_aggregated(spark, sf_dir):
    # H2 must dedup hashes via aggregate (partial-combinable), and the
    # hash expression must be JVM-side (no Python eval in the plan).
    # H2 lives under h3_anti_join in the driver registry; the standalone
    # query fn still pins its plan shape here.
    df = suite.q_h2_snapshot(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hashing_stays_jvm_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "h1_row_hash")
    assert "md5" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_broadcasts_stats_not_corpus(spark, sf_dir):
    # the idf/stats side is at most |query terms| rows -> broadcast;
    # the postings (corpus-sized) side must NOT be the broadcast side
    plan = plan_of(spark, sf_dir, "bm25_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cdc_scd2_single_exchange(spark, sf_dir):
    # the SCD-2 CORE keeps its shape: dedup-then-lead over (key, ts),
    # both windows sharing ONE hash exchange on the business key — no
    # join, no second shuffle of the change stream
    from pyspark.sql import functions as F

    from etl_pack_spark.plans.merge import scd2_build
    from etl_pack_spark.sources.reader import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    core = scd2_build(ev, ["user_id", "event_type"], "ts")
    cp = core._jdf.queryExecution().executedPlan().toString()
    assert cp.count("Exchange hashpartitioning") == 1
    assert "Join" not in cp
    # the r5 registry slot adds the snapshot-diff rider: bounded extra
    # work — one conditional-agg snapshot pass + the diff groupBy, and
    # the ONLY join is the reconcile-op map broadcast onto history
    # (never a shuffled join of the event stream against itself)
    plan = plan_of(spark, sf_dir, "cdc_scd2")
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_contamination_broadcasts_eval_grams(spark, sf_dir):
    # train corpus must never shuffle: eval gram set broadcasts into a
    # left-semi join
    plan = plan_of(spark, sf_dir, "contamination_eval")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_mixture_resample_no_corpus_shuffle(spark, sf_dir):
    # per-domain counts broadcast back; the corpus side is map-only
    # (explode of sequence(1, copies)) — its only exchange is the
    # domain-count aggregation over a handful of groups
    plan = plan_of(spark, sf_dir, "mixture_resample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_spread_small_scan_is_conditional(spark, sf_dir):
    """Fixture scans (few splits) get the repartition; a frame already
    matching cluster parallelism does not — the x4 anti-join keys on
    the row hash, so an unconditional repartition would be a pure extra
    full shuffle at scale."""
    from etl_pack_spark.operators.partitioning import spread_small_scan
    from etl_pack_spark.sources.reader import read_table

    small = read_table(spark, sf_dir, "lineitem")
    spread = spread_small_scan(small, "l_orderkey")
    assert "RepartitionByExpression" in spread._jdf.queryExecution().logical().toString()

    wide = small.repartition(spark.sparkContext.defaultParallelism * 2)
    kept = spread_small_scan(wide, "l_orderkey")
    assert kept is wide  # untouched: no extra shuffle on a wide input


def test_stats_fallback_keeps_results(spark, monkeypatch):
    """Each plan-stats consumer has a conservative branch for when the
    stats read fails, and it must return the same rows. The read is
    made to raise inside ``guards._plan_stats``, so the one stats
    fallback in the package is what runs."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    import etl_pack_spark.operators.dedup as dd
    from etl_pack_spark.operators import guards
    from etl_pack_spark.operators.partitioning import spread_small_scan

    src = spark.range(2000).select(
        F.col("id").cast("string").alias("a"), (F.col("id") * 7).alias("b")
    )
    snap = dd.snapshot_hashes(src.where(F.col("b") < 2100))  # 300 rows
    model = spark.range(50).select(
        F.col("id").cast("string").alias("a"), (F.col("id") * 2).alias("v")
    )
    # open the engagement window around the 300-row snapshot, so the
    # fallback's bounded probe has to reproduce the engaged verdict
    monkeypatch.setattr(dd, "PREFILTER_MIN_ROWS", 10)

    def run():
        filtered = dd.incremental_filter(src, snap)
        joined = src.join(guards.maybe_broadcast(model), "a")
        spread = spread_small_scan(src, "a")
        plans = (
            filtered._jdf.queryExecution().executedPlan().toString(),
            joined._jdf.queryExecution().logical().toString(),
        )
        rows = [sorted(map(tuple, f.collect())) for f in (filtered, joined, spread)]
        return plans, rows

    with_stats = run()
    assert guards.known_row_count(spark.range(3)) == 3
    real = guards._plan_stats
    monkeypatch.setattr(
        guards, "_plan_stats", lambda df: real(SimpleNamespace(_jdf=None))
    )
    assert guards.known_row_count(spark.range(3)) is None
    without = run()

    assert without[1] == with_stats[1]
    assert len(with_stats[1][0]) == 1700 and len(with_stats[1][1]) == 50
    for (filtered_plan, joined_plan) in (with_stats[0], without[0]):
        assert "Union" in filtered_plan  # pre-filter engaged either way
        assert "strategy=broadcast" in joined_plan  # hinted either way


def test_guards_is_the_only_stats_and_probe_module():
    """``operators/guards.py`` is the one module that reads plan stats
    or runs a bounded size probe; every other site calls it."""
    import pathlib
    import re

    root = pathlib.Path(suite.__file__).parent
    pattern = re.compile(
        r"\.stats\(\)|\.limit\([^)]*\)\.count\(\)|\.limit\([^)]*\)\.take\("
    )
    offenders = [
        f"{path.relative_to(root)}:{text.count(chr(10), 0, m.start()) + 1}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "operators" / "guards.py"
        for text in [path.read_text()]
        for m in pattern.finditer(text)
    ]
    assert offenders == []
