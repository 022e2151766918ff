"""Train/eval contamination detection — synthetic leaks plus a DuckDB
oracle parity check on the documents fixture."""

from __future__ import annotations

from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from etl_pack_spark.operators.contamination import (
    contamination_report,
    contamination_report_sql,
    decontaminate,
)
from etl_pack_spark.sources.reader import read_table

# `python -m etl_pack_spark.cli` imports the package from its cwd: run
# this checkout's CLI, wherever the checkout is
REPO_ROOT = str(Path(__file__).resolve().parents[1])


def _df(spark, rows, schema="doc_id long, text string"):
    return spark.createDataFrame(rows, schema)


LEAK = "the quick brown fox jumps over the lazy dog today"


def test_detects_planted_leak(spark):
    train = _df(spark, [
        (1, f"intro text {LEAK} and more filler words here"),
        (2, "completely unrelated content about spark partitions and shuffles"),
        (3, f"{LEAK} {LEAK}"),  # repeated leak still counts distinct grams
    ])
    evald = _df(spark, [(100, f"benchmark question: {LEAK}")])
    rep = {r["doc_id"]: r["hits"] for r in
           contamination_report(train, evald, n=8).collect()}
    assert 1 in rep and 3 in rep and 2 not in rep
    # doc 3 repeats the leak: distinct-gram hits, so <= doc 1's span count
    assert rep[3] <= rep[1] + 3


def test_decontaminate_drops_flagged(spark):
    train = _df(spark, [
        (1, f"padding {LEAK} padding"),
        (2, "clean document with its own original phrasing throughout"),
    ])
    evald = _df(spark, [(100, LEAK)])
    kept = [r["doc_id"] for r in decontaminate(train, evald, n=8).collect()]
    assert kept == [2]


def test_short_docs_no_grams(spark):
    train = _df(spark, [(1, "too short"), (2, "")])
    evald = _df(spark, [(100, "also short")])
    assert contamination_report(train, evald, n=8).count() == 0


def test_oracle_parity_on_fixture(spark, sf_dir):
    """Self-contamination of the documents fixture against its own
    first 20 docs — guaranteed hits (every doc overlaps itself), checked
    row-for-row against the DuckDB twin."""
    docs = read_table(spark, sf_dir, "documents")
    evald = docs.where(F.col("doc_id") < 20).select("doc_id", "text")
    got = sorted(
        (r["doc_id"], r["hits"])
        for r in contamination_report(docs, evald, n=8).collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW ev AS SELECT doc_id, text FROM documents WHERE doc_id < 20"
    )
    want = sorted(map(tuple, con.execute(
        contamination_report_sql("documents", "ev", n=8)
    ).fetchall()))
    assert got == want
    assert len(got) >= 20  # at minimum the eval docs themselves


def test_decontaminate_broadcast_guarded(spark, monkeypatch):
    """r8 broadcast sweep: the flagged-id anti-join build side grows
    with corpus size for a fixed eval set (a contaminated mirror-crawl
    flags a large corpus fraction), so it routes through
    guards.maybe_broadcast — hinted below the bound, unhinted (AQE
    decides) past it, identical survivors either way."""
    from etl_pack_spark.operators import guards
    from etl_pack_spark.operators.contamination import decontaminate

    train = _df(
        spark,
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota") for i in range(6)]
        + [(100 + i, f"unique text {i} with no overlap at all here ok") for i in range(4)],
    )
    evald = _df(spark, [(999, "alpha beta gamma delta epsilon zeta eta theta iota")])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def anti_is_broadcast(df) -> bool:
            # the eval-set SEMI join stays broadcast by construction in
            # both cases; the guarded join is the flagged-id LeftAnti
            plan = df._jdf.queryExecution().executedPlan().toString()
            return any(
                "BroadcastHashJoin" in line and "LeftAnti" in line
                for line in plan.splitlines()
            )

        small = decontaminate(train, evald, n=8)
        assert anti_is_broadcast(small)

        monkeypatch.setattr(guards, "MAX_BROADCAST_MODEL_ROWS", 0)
        big = decontaminate(train, evald, n=8)
        assert not anti_is_broadcast(big)
        assert sorted(r["doc_id"] for r in small.collect()) == sorted(
            r["doc_id"] for r in big.collect()
        ) == [100, 101, 102, 103]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_eval_contamination_per_item(spark):
    """Eval-item grain (r9): a fully-leaked eval item approaches frac 1,
    a clean item reports frac 0 (PRESENT — a rate needs clean rows),
    and n_hit counts distinct grams shared with ANY train doc."""
    from etl_pack_spark.operators.contamination import eval_contamination

    train = _df(spark, [
        (1, f"intro text {LEAK} and more filler words here"),
        (2, "completely unrelated content about spark partitions and shuffles"),
    ])
    evald = _df(spark, [
        (100, LEAK),  # 10 tokens -> 3 distinct 8-grams, all in train doc 1
        (101, "pristine benchmark item with nine unusual zebra xylophone tokens"),
    ])
    rows = {r["doc_id"]: r for r in
            eval_contamination(train, evald, n=8).collect()}
    assert rows[100]["n_grams"] == 3 and rows[100]["n_hit"] == 3
    assert rows[100]["contaminated_frac"] == 1.0
    assert rows[101]["n_hit"] == 0 and rows[101]["contaminated_frac"] == 0.0
    # partial leak: only the grams covering the leaked span hit
    evald2 = _df(spark, [(200, f"{LEAK} with an uncontaminated trailing clause here")])
    r = eval_contamination(train, evald2, n=8).collect()[0]
    assert 0 < r["n_hit"] < r["n_grams"]
    assert 0 < r["contaminated_frac"] < 1


def test_eval_contamination_oracle_parity(spark, sf_dir):
    from etl_pack_spark.operators.contamination import (
        eval_contamination,
        eval_contamination_sql,
    )

    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 7)
    evald = docs.where(F.col("doc_id") % 10 == 7)
    got = sorted(map(tuple,
        eval_contamination(train, evald, n=8)
        .select("doc_id", "n_grams", "n_hit", "contaminated_frac").collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(
        "SELECT doc_id, n_grams, n_hit, contaminated_frac FROM ("
        + eval_contamination_sql(
            "(SELECT * FROM documents WHERE doc_id % 10 <> 7)",
            "(SELECT * FROM documents WHERE doc_id % 10 = 7)",
            n=8,
        ) + ")"
    ).fetchall()))
    assert got == want and len(got) > 0
    # every eval doc with >= 1 gram is present (clean ones at frac 0)
    n_eval_with_grams = evald.where(
        F.size(F.split(F.lower("text"), "[^a-z0-9]+")) >= 8
    ).count()
    assert len(got) >= n_eval_with_grams // 2  # loose lower bound


class TestEvalRegistry:
    """r12: the persisted eval-fingerprint registry — cross-run
    decontamination against every benchmark ever registered, one
    corpus scan, no eval text ever re-read."""

    def test_register_report_decontaminate_roundtrip(self, spark, tmp_path):
        from etl_pack_spark.operators.contamination import (
            decontaminate_registered,
            register_eval_set,
            registered_eval_sets,
            registry_contamination_report,
        )

        store = str(tmp_path / "evalreg")
        bench_a = _df(spark, [(1, LEAK + " question one"),
                              (2, LEAK + " question two")])
        bench_b = _df(spark, [(3, "completely different held out "
                                  "benchmark text with eight plus words "
                                  "of content here")])
        n_a = register_eval_set(spark, bench_a, store, "bench_a")
        n_b = register_eval_set(spark, bench_b, store, "bench_b")
        assert n_a > 0 and n_b > 0
        # idempotent: a retried firing appends nothing
        assert register_eval_set(spark, bench_a, store, "bench_a") == 0
        inv = {r["eval_set"]: r["n_grams"]
               for r in registered_eval_sets(spark, store).collect()}
        assert inv == {"bench_a": n_a, "bench_b": n_b}
        train = _df(spark, [
            (10, "clean document with the usual entirely original "
                 "wording that overlaps no benchmark in the registry"),
            (11, LEAK + " some trailing context"),          # hits bench_a
            (12, "completely different held out benchmark text with "
                 "eight plus words of content here padded"),  # hits bench_b
        ])
        rep = {(r["doc_id"], r["eval_set"]): r["hits"]
               for r in registry_contamination_report(
                   spark, train, store).collect()}
        assert any(k == (11, "bench_a") for k in rep)
        assert any(k == (12, "bench_b") for k in rep)
        assert not any(d == 10 for d, _ in rep)
        kept = {r["doc_id"] for r in decontaminate_registered(
            spark, train, store).collect()}
        assert kept == {10}

    def test_per_set_shingle_widths(self, spark, tmp_path):
        """r13 (round-12 VERDICT #3): the width is per EVAL SET — mixed
        code/prose suites live in ONE store; the loud-mismatch posture
        moved to contradicting a set's OWN registered width."""
        import pytest as _pytest

        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registered_eval_sets,
            registry_contamination_report,
        )

        store = str(tmp_path / "evalreg5")
        bench = _df(spark, [(1, LEAK)])
        register_eval_set(spark, bench, store, "b", n=5)
        # a DIFFERENT set at a different width in the same store is the
        # supported mixed-suite case now
        assert register_eval_set(spark, bench, store, "c", n=8) > 0
        widths = {r["eval_set"]: r["n"]
                  for r in registered_eval_sets(spark, store).collect()}
        assert widths == {"b": 5, "c": 8}
        # contradicting an EXISTING set's width is loud, not a silent
        # zero-match space
        with _pytest.raises(ValueError, match="5-gram"):
            register_eval_set(spark, bench, store, "b", n=8)
        # omitted n takes the set's own stored width
        assert register_eval_set(spark, bench, store, "b") == 0
        assert register_eval_set(spark, bench, store, "c") == 0
        # a missing manifest (not a registry) is loud too
        with _pytest.raises(ValueError, match="manifest"):
            registry_contamination_report(
                spark, _df(spark, [(1, LEAK)]), str(tmp_path / "nostore"))
        # non-plain-token set names rejected before any work (r13,
        # ADVICE: names land in oracle SQL string literals)
        for bad in ("a/b", "a b", 'a"b', "a'b", ""):
            with _pytest.raises(ValueError, match="eval_set"):
                register_eval_set(spark, bench, store, bad)

    def test_registration_executes_lineage_once(self, spark, tmp_path):
        """r13 (round-12 VERDICT #2): the stamped gram frame is
        persisted before the count, so the shingle + anti-join lineage
        runs ONCE per registration — the lease hold covers one job.
        Pinned by tagging the eval side with a mapInPandas stage that
        appends a marker line per execution."""
        import os

        from etl_pack_spark.operators.contamination import register_eval_set

        marker = str(tmp_path / "scans.log")

        def tag(it):
            with open(marker, "a") as fh:
                fh.write("scan\n")
                fh.flush()
                os.fsync(fh.fileno())
            yield from it

        eval_df = _df(spark, [(1, LEAK + " question one"),
                              (2, LEAK + " question two")])
        tagged = eval_df.coalesce(1).mapInPandas(tag, eval_df.schema)
        store = str(tmp_path / "reg_once")
        assert register_eval_set(spark, tagged, store, "b") > 0
        with open(marker) as fh:
            n_scans = len(fh.readlines())
        assert n_scans == 1, (
            f"eval lineage executed {n_scans}x during one registration"
        )

    def test_mixed_width_store_oracle_parity(self, spark, sf_dir):
        """round-12 VERDICT #3 done-condition: two sets at DIFFERENT
        widths in one store, one report call, DuckDB hash-grain
        parity (per-set train shingling at each set's own width)."""
        import tempfile

        import duckdb as _duckdb

        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registry_contamination_report,
            registry_contamination_report_sql,
        )

        docs = read_table(spark, sf_dir, "documents")
        store = tempfile.mkdtemp(prefix="evalreg_mixed_") + "/reg"
        register_eval_set(
            spark, docs.where("doc_id % 10 = 7"), store, "prose8", n=8)
        register_eval_set(
            spark, docs.where("doc_id % 10 = 3"), store, "code5", n=5)
        got = sorted(
            (r["doc_id"], r["eval_set"], r["hits"])
            for r in registry_contamination_report(spark, docs, store)
            .collect()
        )
        con = _duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * "
            f"FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        con.execute("CREATE VIEW s7 AS SELECT * FROM documents "
                    "WHERE doc_id % 10 = 7")
        con.execute("CREATE VIEW s3 AS SELECT * FROM documents "
                    "WHERE doc_id % 10 = 3")
        want = sorted(map(tuple, con.execute(
            registry_contamination_report_sql(
                "documents", {"prose8": "s7", "code5": "s3"},
                n={"prose8": 8, "code5": 5})
        ).fetchall()))
        assert got == want and len(got) > 0
        # both widths actually contribute rows
        sets_hit = {s for _, s, _ in got}
        assert sets_hit == {"prose8", "code5"}

    def test_mixed_width_report_scans_corpus_once(self, spark, sf_dir):
        """r13: every registered width's shingle stream is built off
        ONE corpus tokenization — the executed plan reads the train
        parquet exactly once even with two widths in the store."""
        import tempfile

        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registry_contamination_report,
        )

        docs = read_table(spark, sf_dir, "documents")
        store = tempfile.mkdtemp(prefix="evalreg_scan_") + "/reg"
        register_eval_set(
            spark, docs.where("doc_id % 10 = 7"), store, "w8", n=8)
        register_eval_set(
            spark, docs.where("doc_id % 10 = 3"), store, "w5", n=5)
        rep = registry_contamination_report(spark, docs, store)
        plan = rep._jdf.queryExecution().executedPlan().toString()
        assert plan.count("documents.parquet") == 1, plan

    def test_legacy_store_without_width_column(self, spark, tmp_path):
        """A store written before the per-set upgrade (rows without an
        ``n`` column) keeps matching at its manifest width."""
        import json as _json

        from etl_pack_spark.operators.contamination import (
            eval_ngram_set,
            registered_eval_sets,
            registry_contamination_report,
        )
        from etl_pack_spark.sinks.fsio import write_text

        store = str(tmp_path / "legacy_reg")
        bench = _df(spark, [(1, LEAK)])
        import time as _time
        from pyspark.sql import functions as SF

        eval_ngram_set(bench, "text", 8).select(
            "gh", SF.lit("old_bench").alias("eval_set"),
            SF.lit(int(_time.time() * 1000)).alias("registered_at_ms"),
        ).coalesce(1).write.parquet(store)
        write_text(spark, store + "/_eval_registry.json",
                   _json.dumps({"n": 8}))
        inv = {r["eval_set"]: r["n"]
               for r in registered_eval_sets(spark, store).collect()}
        assert inv == {"old_bench": 8}
        rep = registry_contamination_report(
            spark, _df(spark, [(10, LEAK + " trailing")]), store
        ).collect()
        assert len(rep) == 1 and rep[0]["eval_set"] == "old_bench"

    def test_legacy_store_appends_stay_single_schema(self, spark, tmp_path):
        """Appending into a legacy store keeps the legacy file schema
        (mixed per-file schemas would make every row's width depend on
        which footer Spark's inference picks); a non-manifest width
        there is a loud error, and a legacy-named set (pre-r13 rule
        allowed spaces) stays re-registerable."""
        import json as _json
        import time as _time

        import pytest as _pytest
        from pyspark.sql import functions as SF

        from etl_pack_spark.operators.contamination import (
            eval_ngram_set,
            register_eval_set,
            registered_eval_sets,
            registry_contamination_report,
        )
        from etl_pack_spark.sinks.fsio import write_text

        store = str(tmp_path / "legacy_reg2")
        eval_ngram_set(_df(spark, [(1, LEAK)]), "text", 8).select(
            "gh", SF.lit("bench v2").alias("eval_set"),
            SF.lit(int(_time.time() * 1000)).alias("registered_at_ms"),
        ).coalesce(1).write.parquet(store)
        write_text(spark, store + "/_eval_registry.json",
                   _json.dumps({"n": 8}))
        # grandfathered name: idempotent top-up still works
        assert register_eval_set(
            spark, _df(spark, [(1, LEAK)]), store, "bench v2") == 0
        # a NEW set at the manifest width appends in the legacy schema
        other = _df(spark, [(2, "completely different held out "
                                "benchmark text with eight plus words")])
        assert register_eval_set(spark, other, store, "newset") > 0
        assert "n" not in spark.read.parquet(store).columns
        inv = {r["eval_set"]: r["n"]
               for r in registered_eval_sets(spark, store).collect()}
        assert inv == {"bench v2": 8, "newset": 8}
        # both sets visible to the one-scan report
        train = _df(spark, [
            (10, LEAK + " trailing"),
            (11, "completely different held out benchmark text with "
                 "eight plus words padded"),
        ])
        sets_hit = {r["eval_set"] for r in registry_contamination_report(
            spark, train, store).collect()}
        assert sets_hit == {"bench v2", "newset"}
        # mixing widths into a legacy store is refused loudly
        with _pytest.raises(ValueError, match="new store"):
            register_eval_set(spark, other, store, "wide", n=10)
        # a NEW bad name is still rejected (the rule applies forward)
        with _pytest.raises(ValueError, match="eval_set"):
            register_eval_set(spark, other, store, "bad name")

    def test_manifest_only_store_reads_empty(self, spark, tmp_path):
        """The documented crash window — manifest written, process died
        before the first data append — must read as an EMPTY registry
        (empty report, registration proceeds), not an AnalysisException
        about schema inference."""
        import json as _json

        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registry_contamination_report,
        )
        from etl_pack_spark.sinks.fsio import write_text

        store = str(tmp_path / "crashed_reg")
        import os

        os.makedirs(store, exist_ok=True)
        write_text(spark, store + "/_eval_registry.json",
                   _json.dumps({"n": 8}))
        train = _df(spark, [(10, LEAK + " trailing")])
        assert registry_contamination_report(
            spark, train, store).count() == 0
        # the next registration firing recovers the store
        assert register_eval_set(
            spark, _df(spark, [(1, LEAK)]), store, "b") > 0
        assert registry_contamination_report(
            spark, train, store).count() == 1

    def test_sql_twin_missing_width_is_loud(self):
        import pytest as _pytest

        from etl_pack_spark.operators.contamination import (
            registry_contamination_report_sql,
        )

        with _pytest.raises(ValueError, match="missing eval sets"):
            registry_contamination_report_sql(
                "t", {"a": "ta", "b": "tb"}, n={"a": 8})
        with _pytest.raises(ValueError, match="at least one"):
            registry_contamination_report_sql("t", {})

    def test_registration_holds_the_ingest_lease(self, spark, tmp_path):
        import pytest as _pytest

        from etl_pack_spark.operators.contamination import register_eval_set
        from etl_pack_spark.streaming.incremental import _stamp_lease

        store = str(tmp_path / "evalreg_leased")
        with _stamp_lease(spark, store):
            with _pytest.raises(RuntimeError, match="ingest lease"):
                register_eval_set(spark, _df(spark, [(1, LEAK)]), store, "b")
        assert register_eval_set(
            spark, _df(spark, [(1, LEAK)]), store, "b") > 0

    def test_registry_report_oracle_parity(self, spark, sf_dir):
        """The (doc, eval_set, hits) grain against DuckDB: two eval
        slices of the documents fixture registered, whole fixture as
        train — row-for-row with the string-shingle twin."""
        import duckdb as _duckdb

        import tempfile

        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registry_contamination_report,
            registry_contamination_report_sql,
        )

        docs = read_table(spark, sf_dir, "documents")
        store = tempfile.mkdtemp(prefix="evalreg_parity_") + "/reg"
        register_eval_set(
            spark, docs.where("doc_id % 10 = 7"), store, "slice7")
        register_eval_set(
            spark, docs.where("doc_id % 10 = 3"), store, "slice3")
        got = sorted(
            (r["doc_id"], r["eval_set"], r["hits"])
            for r in registry_contamination_report(spark, docs, store)
            .collect()
        )
        con = _duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * "
            f"FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        con.execute("CREATE VIEW s7 AS SELECT * FROM documents "
                    "WHERE doc_id % 10 = 7")
        con.execute("CREATE VIEW s3 AS SELECT * FROM documents "
                    "WHERE doc_id % 10 = 3")
        want = sorted(map(tuple, con.execute(
            registry_contamination_report_sql(
                "documents", {"slice7": "s7", "slice3": "s3"}, n=8)
        ).fetchall()))
        assert got == want and len(got) > 0

    def test_registry_join_broadcast_guarded(self, spark, tmp_path,
                                             monkeypatch):
        """The registry side of the one-scan report rides
        guards.maybe_broadcast: hinted while benchmark-sized, unhinted
        (AQE decides) past the model bound — identical hits either
        way, so an over-accumulated registry degrades to a shuffled
        join instead of a forced-broadcast OOM."""
        from etl_pack_spark.operators import guards
        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registry_contamination_report,
        )

        store = str(tmp_path / "reg")
        register_eval_set(spark, _df(spark, [(1, LEAK)]), store, "b")
        train = _df(spark, [(10, LEAK + " trailing words")])
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            def is_broadcast(df):
                plan = df._jdf.queryExecution().executedPlan().toString()
                return "BroadcastHashJoin" in plan

            small = registry_contamination_report(spark, train, store)
            assert is_broadcast(small)
            monkeypatch.setattr(guards, "MAX_BROADCAST_MODEL_ROWS", 0)
            big = registry_contamination_report(spark, train, store)
            assert not is_broadcast(big)
            assert sorted(map(tuple, small.collect())) == \
                sorted(map(tuple, big.collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestRegistryMaintenance:
    def test_registry_compaction_preserves_manifest_and_report(
            self, spark, tmp_path):
        """r13 (round-12 VERDICT #5): the registry fragments one file
        per registration; the generic in-place compaction is its
        maintenance path — the width manifest must survive the swap
        and the report must be unchanged."""
        import glob
        import subprocess
        import sys

        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registry_contamination_report,
        )

        store = str(tmp_path / "reg")
        for i, n in ((0, 8), (1, 5), (2, 8)):
            register_eval_set(
                spark, _df(spark, [(i, LEAK + f" variant {i} extra "
                                       "words to shingle")]),
                store, f"set{i}", n=n)
        train = _df(spark, [(10, LEAK + " variant 1 extra words "
                                 "to shingle plus trailing")])
        before = sorted(map(tuple, registry_contamination_report(
            spark, train, store).collect()))
        n_files_before = len(glob.glob(store + "/*.parquet"))
        assert n_files_before >= 3  # fragmented: one file per append
        r = subprocess.run(
            [sys.executable, "-m", "etl_pack_spark.cli",
             "--compact", store, "--target", store, "--in-place"],
            capture_output=True, text=True, cwd=REPO_ROOT,
        )
        assert r.returncode == 0, r.stderr
        import os

        assert os.path.isfile(store + "/_eval_registry.json")
        after = sorted(map(tuple, registry_contamination_report(
            spark, train, store).collect()))
        assert after == before and len(after) > 0
        assert len(glob.glob(store + "/*.parquet")) < n_files_before
