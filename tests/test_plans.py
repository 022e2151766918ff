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

    # spread_small_scan's other fallback: the partition count cannot be
    # planned (``df.rdd`` raises), so it repartitions by the key
    planned = []

    def no_rdd(df):
        planned.append(df)
        raise RuntimeError("partition count unavailable")

    monkeypatch.setattr(type(src), "rdd", property(no_rdd))
    spread = spread_small_scan(src, "a")
    assert planned
    assert sorted(map(tuple, spread.collect())) == with_stats[1][2]


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


# Public package names that only tests call, each a deliberate public
# surface. A new test-only public name needs an entry here, with its
# reason; an entry whose name is gone or now has a caller must go.
TEST_ONLY_PUBLIC = {
    # DuckDB twins, each pinned by a test against its DataFrame operator
    "nb_langid_score_sql": "DuckDB twin of nb_langid_score",
    "c4_clean_sql": "DuckDB twin of c4_clean",
    "curation_funnel_sql": "DuckDB twin of curation_funnel",
    "html_strip_sql": "DuckDB twin of html_strip",
    "registry_contamination_report_sql": "DuckDB twin of registry_contamination_report",
    "quality_drift_sql": "DuckDB twin of quality_drift",
    "build_postings_sql": "DuckDB twin of build_postings",
    "ann_recall_sql": "DuckDB twin of ann_recall",
    "normalize_text_sql": "DuckDB twin of normalize_text",
    # the reference's own surface
    "normalize_schema": "the reference's schema normalization",
    "insert_batch_sql": "the reference's batch INSERT statement",
    "write_sink": "the reference's sink dispatch",
    "clickhouse_fetch_pages": "the reference's paginated ClickHouse scan",
    "snapshot_query": "the reference's JDBC snapshot read",
    "register_tables": "SQL surface, pinned by tests/test_sql_surface.py",
    "stream_transfer": "the reference's cron loop as an availableNow stream",
    # checks that a test applies to a live operator's output
    "decode_pieces": "inverts bpe_encode",
    "pq_reconstruct": "decodes pq_encode codes",
    "pack_stats": "summarizes pack_sequences output",
    "corpus_stats_from_store": "reads the postings store's corpus stats",
    "expect_no_nulls": "data-quality check on an operator's output",
    "expect_unique": "data-quality check on an operator's output",
    "expect_between": "data-quality check on an operator's output",
    # entry points that README or COVERAGE documents
    "train_bpe": "documented BPE trainer",
    "audio_features": "documented audio operator",
    "audio_dhash": "documented audio near-dup signature",
    "expect": "documented data-quality entry point",
    "bm25_topk_store": "documented BM25 over the postings store",
    "dedup_stream": "documented streaming exact dedup",
    "stream_media_dedup_ingest": "documented image near-dup ingest",
    "stream_url_dedup_ingest": "documented URL dedup ingest",
}


def _unreferenced_package_names(with_tests: bool) -> list[tuple[str, str]]:
    """``(path, name)`` of every top-level ``def``/``class`` of the
    package that no word names outside its own definition. The callers
    searched are the package, the tools, ``bench.py``, ``perfbench/``
    and, when ``with_tests``, the tests. A re-export in an
    ``__init__.py`` is not a caller."""
    import ast
    import collections
    import pathlib
    import re

    pkg = pathlib.Path(suite.__file__).parent
    repo = pkg.parent
    files = [
        *sorted(pkg.rglob("*.py")),
        *(sorted((repo / "tests").rglob("*.py")) if with_tests else []),
        *sorted((repo / "tools").rglob("*.py")),
        repo / "bench.py",
        *sorted((repo / "perfbench").rglob("*.py")),
    ]
    word = re.compile(r"\w+")
    texts = {path: path.read_text() for path in files}
    total = collections.Counter(
        w
        for path, text in texts.items()
        if path.name != "__init__.py"
        for w in word.findall(text)
    )
    unreferenced = []
    for path in sorted(pkg.rglob("*.py")):
        lines = texts[path].splitlines()
        for node in ast.parse(texts[path]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            own = "\n".join(lines[node.lineno - 1:node.end_lineno])
            if total[node.name] == word.findall(own).count(node.name):
                unreferenced.append((str(path.relative_to(pkg)), node.name))
    return unreferenced


def test_every_package_function_is_referenced():
    """Every top-level ``def``/``class`` of the package is named as a
    word somewhere outside its own definition: in the package, the
    tests, the tools, ``bench.py`` or ``perfbench/``. A function that
    nothing names, or only an ``__init__.py`` re-export, is dead code."""
    assert _unreferenced_package_names(with_tests=True) == []


def test_test_only_public_names_are_allow_listed():
    """A public top-level name that only tests call is a key of
    ``TEST_ONLY_PUBLIC``, and every key is such a name: one that is no
    longer defined, or that code outside the tests now calls, must
    leave the list."""
    test_only = {
        name
        for _, name in _unreferenced_package_names(with_tests=False)
        if not name.startswith("_")
    }
    assert sorted(test_only - TEST_ONLY_PUBLIC.keys()) == []
    assert sorted(TEST_ONLY_PUBLIC.keys() - test_only) == []


def test_tests_pass_no_absolute_cwd():
    """No test passes a literal absolute ``cwd=``: a CLI subprocess run
    from one checkout with another checkout's path as its cwd imports
    and tests the other checkout's package. Tests derive the repo root
    from ``__file__`` instead."""
    import ast
    import os
    import pathlib

    tests = pathlib.Path(__file__).parent
    found = []
    for path in sorted(tests.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.keyword)
                and node.arg == "cwd"
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
                and os.path.isabs(node.value.value)
            ):
                found.append(f"{path.name}:{node.value.lineno}")
    assert found == []


def test_footer_schema_maps_arrow_types(tmp_path):
    """``sources.reader.footer_schema`` (no JVM) over parquet files that
    pyarrow writes: each covered Arrow type maps to the Spark type that
    parquet schema inference gives it, every field nullable; a Spark
    schema stored in the footer is used verbatim; unsigned 64-bit ints,
    nanosecond timestamps (also nested), durations, times and nulls return
    ``None`` (the opener then lets Spark infer)."""
    import datetime
    import decimal
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from etl_pack_spark.sources.reader import SPARK_ROW_METADATA, footer_schema

    ts = datetime.datetime(2020, 1, 2, 3, 4, 5)
    day = datetime.date(2020, 1, 2)
    covered = [
        (pa.array([True]), T.BooleanType()),
        (pa.array([1], pa.int8()), T.ByteType()),
        (pa.array([1], pa.int16()), T.ShortType()),
        (pa.array([1], pa.int32()), T.IntegerType()),
        (pa.array([1], pa.int64()), T.LongType()),
        (pa.array([1.5], pa.float32()), T.FloatType()),
        (pa.array([1.5], pa.float64()), T.DoubleType()),
        (pa.array(["x"], pa.string()), T.StringType()),
        (pa.array(["x"], pa.large_string()), T.StringType()),
        (pa.array([b"x"], pa.binary()), T.BinaryType()),
        (pa.array([b"x"], pa.large_binary()), T.BinaryType()),
        (pa.array([b"xy"], pa.binary(2)), T.BinaryType()),
        (pa.array([day], pa.date32()), T.DateType()),
        (pa.array([day], pa.date64()), T.DateType()),
        (pa.array([ts], pa.timestamp("us")), T.TimestampNTZType()),
        (pa.array([ts], pa.timestamp("ms")), T.TimestampNTZType()),
        (pa.array([ts], pa.timestamp("us", tz="UTC")), T.TimestampType()),
        (pa.array([decimal.Decimal("1.25")], pa.decimal128(10, 2)), T.DecimalType(10, 2)),
        (pa.array([[1.0]], pa.list_(pa.float32())), T.ArrayType(T.FloatType(), True)),
        (pa.array([[1]], pa.large_list(pa.int64())), T.ArrayType(T.LongType(), True)),
        (pa.array([[1.0, 2.0]], pa.list_(pa.float32(), 2)), T.ArrayType(T.FloatType(), True)),
        (pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
         T.MapType(T.StringType(), T.LongType(), True)),
        (pa.array([{"x": 1, "y": [ts]}],
                  pa.struct([("x", pa.int64()), ("y", pa.list_(pa.timestamp("us")))])),
         T.StructType([T.StructField("x", T.LongType(), True),
                       T.StructField("y", T.ArrayType(T.TimestampNTZType(), True), True)])),
    ]

    def write(name: str, table: pa.Table) -> str:
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path)
        return path

    for i, (arr, want) in enumerate(covered):
        path = write(f"c{i}", pa.table({"c": arr}))
        assert footer_schema(path) == T.StructType([T.StructField("c", want, True)]), arr.type
    # with inferTimestampNTZ off, naive timestamps infer as TIMESTAMP
    naive = write("naive", pa.table({"c": pa.array([ts], pa.timestamp("us"))}))
    assert footer_schema(naive, ntz=False)[0].dataType == T.TimestampType()

    for arr in (
        pa.array([1], pa.uint64()),
        pa.array([ts], pa.timestamp("ns")),
        pa.array([[ts]], pa.list_(pa.timestamp("ns"))),
        pa.array([1], pa.duration("us")),
        pa.array([1], pa.time64("us")),
        pa.array([None], pa.null()),
    ):
        assert footer_schema(write(str(arr.type), pa.table({"c": arr}))) is None, arr.type

    # a Spark-written footer: its own schema JSON wins, made nullable
    spark_schema = T.StructType([T.StructField("c", T.LongType(), False)])
    meta = {SPARK_ROW_METADATA: json.dumps(spark_schema.jsonValue()).encode()}
    s1 = write("s1", pa.table({"c": pa.array([1], pa.int32())}).replace_schema_metadata(meta))
    assert footer_schema(s1) == T.StructType([T.StructField("c", T.LongType(), True)])


def test_driver_memory_sizes_from_the_box():
    """With ``SPARK_GRAFT_DRIVER_MEM`` unset the driver heap is a
    quarter of ``MemTotal``, between 1 and 48 GiB; the variable wins
    when set. No JVM."""
    from etl_pack_spark.session import driver_memory

    box = "MemTotal:       16479424 kB\nMemFree:         9000000 kB\n"
    assert driver_memory({}, box) == "4023m"
    assert driver_memory({"SPARK_GRAFT_DRIVER_MEM": "6g"}, box) == "6g"
    assert driver_memory({}, "MemTotal: 2097152 kB\n") == "1024m"
    assert driver_memory({}, "MemTotal: 1073741824 kB\n") == "49152m"
    assert driver_memory({}, "") == "48g"
