"""Near-dup family: minhash-LSH, exact jaccard, simhash."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pack_spark.operators import neardup
from etl_pack_spark.sources.reader import read_table


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different content about spark catalyst optimizer plans"),
        (4, "short"),  # below shingle size → dropped
        (5, "The Quick Brown Fox Jumps Over The Lazy Dog Near The River Bank"),  # case-dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_lsh_finds_planted_neardups(spark):
    pairs = neardup.minhash_lsh_dedup_pairs(_docs(spark), "doc_id", "text", threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got          # one-token difference, jaccard 10/12
    assert (1, 5) in got          # tokenization lowercases → identical
    assert not any(3 in p or 4 in p for p in got)


def test_lsh_candidates_subset_of_exact(spark, sf_dir):
    """LSH output must be a subset of the exact-jaccard pairs (it can
    miss, never invent)."""
    docs = read_table(spark, sf_dir, "documents")
    lsh = {(r["id_a"], r["id_b"])
           for r in neardup.minhash_lsh_dedup_pairs(docs, "doc_id", "text").collect()}
    exact = {(r["id_a"], r["id_b"])
             for r in neardup.ngram_jaccard_pairs(docs, "doc_id", "text").collect()}
    assert lsh <= exact
    assert len(exact) > 0  # fixture has planted dup pairs


def test_exact_jaccard_values(spark):
    pairs = neardup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.5)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals[(1, 5)] == 1.0
    # doc1/doc2: 13 tokens → 11 shingles each, 10 shared → 10/12
    assert abs(vals[(1, 2)] - 10 / 12) < 1e-12


def test_simhash_pairs_find_neardups(spark):
    pairs = neardup.simhash_neardup_pairs(_docs(spark), "doc_id", "text", max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 5)] == 0          # identical token multisets
    assert (1, 2) in got             # one-word difference
    assert not any(3 in p for p in got)  # unrelated doc excluded


def test_simhash_similar_docs_close(spark):
    sig = neardup.simhash_signature(_docs(spark), "doc_id", "text")
    by_id = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert by_id[1] == by_id[5]  # same tokens → identical simhash
    assert len(by_id[1]) == 16

    def hamming(a, b):
        return sum(
            bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b)
        )

    assert hamming(by_id[1], by_id[2]) < hamming(by_id[1], by_id[3])


def test_simhash_signature_matches_duckdb_twin(spark, sf_dir):
    """The signature equals its DuckDB twin row for row on the fixture
    corpus."""
    from etl_pack_spark.oracle import duck_connect

    docs = read_table(spark, sf_dir, "documents")
    got = {r["doc_id"]: r["simhash"]
           for r in neardup.simhash_signature(docs, "doc_id", "text").collect()}
    con = duck_connect(sf_dir)
    try:
        want = dict(con.execute(
            neardup.simhash_signature_sql("documents", "doc_id", "text")
        ).fetchall())
    finally:
        con.close()
    assert got and got == want


def test_simhash_signature_builds_in_few_driver_calls(spark, sf_dir, monkeypatch):
    """The signature is built from SQL strings: one build makes at most
    200 py4j round trips, where a Column-at-a-time build of the same
    plan makes thousands."""
    docs = read_table(spark, sf_dir, "documents")
    neardup.simhash_signature(docs, "doc_id", "text")  # first-use lookups
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    neardup.simhash_signature(docs, "doc_id", "text")
    monkeypatch.undo()
    assert 0 < len(calls) <= 200


def test_ngram_jaccard_candidate_path_matches_brute_force(spark, sf_dir):
    """r15 rewrite pin: the shared-shingle candidate path (threshold>0)
    must emit EXACTLY the pairs the all-pairs BNLJ baseline emits —
    same ids, bit-identical jaccard doubles. The brute-force plan is
    reachable via threshold<=0, so both are compared post-filtered at
    the same cut."""
    docs = read_table(spark, sf_dir, "documents")
    fast = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in neardup.ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.8).collect()}
    brute = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in neardup.ngram_jaccard_pairs(
                 docs, "doc_id", "text", threshold=0.0).collect()
             if r["jaccard"] >= 0.8}
    assert fast == brute
    assert len(fast) > 0  # fixture has planted dup pairs


def test_ngram_jaccard_zero_threshold_keeps_disjoint_pairs(spark):
    """threshold<=0 is the one case where a zero-intersection pair is
    a legitimate result — the candidate equi-join must NOT be used
    there (it can only see co-shingled pairs)."""
    rows = [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in neardup.ngram_jaccard_pairs(
               docs, "doc_id", "text", threshold=0.0).collect()}
    assert got == {(1, 2): 0.0}


def test_ngram_jaccard_guard_fires(spark):
    """The O(n²) baseline must refuse corpora above its cap and point
    at the LSH path."""
    import pytest

    from etl_pack_spark.operators import neardup

    docs = spark.range(50).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
    with pytest.raises(ValueError, match="minhash_lsh_dedup_pairs"):
        neardup.ngram_jaccard_pairs(docs, "doc_id", "text", max_docs=10)


# ---------------------------------------------------------------------------
# Incremental near-dup (new batch vs persisted signature store)
# ---------------------------------------------------------------------------

def test_incremental_matches_duplicate_against_store(spark):
    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.tokenize import shingle_rows

    base = "the quick brown fox jumps over the lazy dog again and again today"
    old = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark execution plans")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base), (11, "unrelated fresh content nothing like before")],
        "doc_id long, text string",
    )
    sig_old = neardup.minhash_signature(
        shingle_rows(old, "doc_id", "text", 3, distinct=False), "doc_id"
    )
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
           neardup.minhash_match_incremental(new, sig_old, "doc_id", "text").collect()}
    assert got[(10, 1)] == 1.0          # exact duplicate of stored doc
    assert (11, 2) not in got and (11, 1) not in got


def test_incremental_equals_full_run_restricted_to_new(spark, sf_dir):
    """Folding a batch against the store finds EXACTLY the pairs a full
    self-match would report that touch >= 1 new doc — the incremental
    == full invariant, mirroring the exact-dedup flagship's."""
    from pyspark.sql import functions as F

    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.tokenize import shingle_rows
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}

    sig_old = neardup.minhash_signature(
        shingle_rows(old, "doc_id", "text", 3, distinct=False), "doc_id"
    )
    inc = {
        (frozenset((r["id_a"], r["id_b"])), r["est_jaccard"])
        for r in neardup.minhash_match_incremental(
            new, sig_old, "doc_id", "text", min_est=0.5
        ).collect()
    }
    # full self-match: the same operator against an EMPTY store
    full = {
        (frozenset((r["id_a"], r["id_b"])), r["est_jaccard"])
        for r in neardup.minhash_match_incremental(
            docs, sig_old.limit(0), "doc_id", "text", min_est=0.5
        ).collect()
        if {r["id_a"], r["id_b"]} & new_ids
    }
    assert inc == full
    assert len(inc) > 0


def test_incremental_id_a_is_always_new(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.tokenize import shingle_rows
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    sig_old = neardup.minhash_signature(
        shingle_rows(old, "doc_id", "text", 3, distinct=False), "doc_id"
    )
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    for r in neardup.minhash_match_incremental(
        new, sig_old, "doc_id", "text"
    ).collect():
        assert r["id_a"] in new_ids


def test_incremental_match_oracle_parity(spark, sf_dir):
    """The incremental matcher == its DuckDB twin, bit-exact (same md5
    signature arithmetic, same banding, same matching-fraction
    estimator) — the same compare the driver gate applies."""
    from etl_pack_spark.operators.tokenize import shingle_rows
    from etl_pack_spark.oracle import duck_connect

    docs = read_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    sig_old = neardup.minhash_signature(
        shingle_rows(old, "doc_id", "text", 3, distinct=False), "doc_id"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in neardup.minhash_match_incremental(
            new, sig_old, "doc_id", "text"
        ).collect()
    )
    con = duck_connect(sf_dir)
    want = sorted(map(tuple, con.execute(neardup.minhash_match_incremental_sql(
        "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "doc_id", "text",
    )).fetchall()))
    assert got == want
    assert len(got) > 0


class TestHeavyHitterCap:
    """Default-on hot-bucket caps: mass-duplicated signatures must not
    dominate candidate generation; distinct near-pairs survive."""

    def test_simhash_block_cap_drops_flood_keeps_pair(self, spark, count_jobs):
        from etl_pack_spark.operators import neardup

        flood = [(i, "the same flooded boilerplate page text repeated "
                     "everywhere across the crawl again and again")
                 for i in range(40)]
        base = ("a genuinely unique document about distributed query "
                "engines their shuffle strategies broadcast joins "
                "partition pruning adaptive execution code generation "
                "vectorized readers columnar storage predicate pushdown "
                "statistics collection and cost based optimization")
        near = [(100, base), (101, base + " appendix")]
        df = spark.createDataFrame(flood + near, "doc_id long, text string")
        capped, jobs = count_jobs(lambda: neardup.simhash_neardup_pairs(
            df, "doc_id", "text", max_block_freq=10
        ).collect())
        uncapped = neardup.simhash_neardup_pairs(
            df, "doc_id", "text", max_block_freq=None
        )
        got_u = {frozenset((r["id_a"], r["id_b"])) for r in uncapped.collect()}
        got_c = {frozenset((r["id_a"], r["id_b"])) for r in capped}
        assert frozenset((100, 101)) in got_u
        assert frozenset((100, 101)) in got_c          # unique pair survives
        # the 40-doc flood (780 pairs) is capped away
        assert len(got_u) > 700 and len(got_c) < 10
        # one collect of the overfull keys serves the emptiness test, the
        # warning's count and the anti-join's build side
        assert jobs == 9

    def test_minhash_bucket_cap_same_semantics(self, spark):
        from etl_pack_spark.operators import neardup

        flood = [(i, "flood flood flood flood flood flood flood flood")
                 for i in range(30)]
        base2 = ("orthogonal content about perceptual hashing of images "
                 "and audio fingerprints in data pipelines with banded "
                 "signatures bucket joins candidate verification exact "
                 "jaccard scoring and incremental signature stores for "
                 "streaming ingest at corpus scale")
        near = [(200, base2), (201, base2 + " appendix")]
        df = spark.createDataFrame(flood + near, "doc_id long, text string")
        capped = neardup.minhash_lsh_dedup_pairs(
            df, "doc_id", "text", max_bucket=8
        )
        got = {frozenset((r["id_a"], r["id_b"])) for r in capped.collect()}
        assert frozenset((200, 201)) in got
        assert all(100 <= min(p) for p in got)          # no flood pairs

    def test_default_cap_has_fixture_headroom(self, spark, sf_dir):
        """The default cap must sit FAR above every natural bucket on
        the fixture corpus (so the 50 oracle rows are bit-identical
        whether or not either engine implements the cap): no minhash
        band bucket or simhash block within 10x of the default."""
        from etl_pack_spark.operators import neardup
        from etl_pack_spark.operators.tokenize import shingle_rows

        docs = read_table(spark, sf_dir, "documents")
        margin = neardup.DEFAULT_MAX_BUCKET // 10
        sig = neardup.minhash_signature(
            shingle_rows(docs, "doc_id", "text", 3, distinct=False), "doc_id"
        )
        banded = neardup._banded(sig, "doc_id", 16, 8)
        assert neardup.overfull_buckets(
            banded, ["band", "bk"], margin
        ).count() == 0
        ssig = neardup.simhash_signature(docs, "doc_id", "text")
        blocks = ssig.select(
            "doc_id",
            F.posexplode(F.array(
                *[F.substring("simhash", 1 + c * 4, 4) for c in range(4)]
            )).alias("blk_idx", "blk"),
        )
        assert neardup.overfull_buckets(
            blocks, ["blk_idx", "blk"], margin
        ).count() == 0

    def test_overfull_buckets_surfaces_skew(self, spark):
        """The skew-report helper names the hot bucket with its count —
        what a 100 TB operator inspects before the candidate join."""
        from etl_pack_spark.operators import neardup

        rows = spark.createDataFrame(
            [(i, 0, "hot") for i in range(20)] + [(99, 0, "cold")],
            "doc_id long, blk_idx int, blk string",
        )
        got = neardup.overfull_buckets(rows, ["blk_idx", "blk"], 5).collect()
        assert len(got) == 1
        assert got[0]["blk"] == "hot" and got[0]["count"] == 20

    def test_engaged_cap_matches_oracle_sql(self, spark, tmp_path):
        """When the cap ENGAGES, Spark and the DuckDB oracle must still
        agree pair-for-pair — the cap is mirrored in the SQL
        generators, not an engine-side divergence."""
        import duckdb

        from etl_pack_spark.operators import neardup

        flood = [(i, "the same flooded boilerplate page text repeated "
                     "everywhere across the crawl again and again")
                 for i in range(40)]
        base = ("a genuinely unique document about distributed query "
                "engines their shuffle strategies broadcast joins "
                "partition pruning and adaptive execution at scale")
        rows = flood + [(100, base), (101, base + " appendix")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pq = str(tmp_path / "docs.parquet")
        df.coalesce(1).write.parquet(pq)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
        )
        for cap in (10, None):
            got = sorted(
                (r["id_a"], r["id_b"], r["hamming"])
                for r in neardup.simhash_neardup_pairs(
                    df, "doc_id", "text", max_block_freq=cap
                ).collect()
            )
            want = sorted(map(tuple, con.execute(
                neardup.simhash_neardup_pairs_sql(
                    "documents", "doc_id", "text", max_block_freq=cap
                )
            ).fetchall()))
            assert got == want, f"cap={cap}"
        # and the capped run genuinely dropped the flood
        assert len(want) > 700  # last iteration: cap=None keeps flood
        got10 = neardup.simhash_neardup_pairs(
            df, "doc_id", "text", max_block_freq=10
        ).count()
        assert got10 < 10
        # same engaged-cap parity for the minhash-LSH generator
        got_mh = sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in neardup.minhash_lsh_dedup_pairs(
                df, "doc_id", "text", max_bucket=8
            ).collect()
        )
        want_mh = sorted(
            (a, b, round(j, 9)) for a, b, j in con.execute(
                neardup.minhash_lsh_dedup_pairs_sql(
                    "documents", "doc_id", "text", max_bucket=8
                )
            ).fetchall()
        )
        assert got_mh == want_mh
        assert all(100 <= a for a, _, _ in got_mh) and len(got_mh) >= 1


class TestIncrementalCap:
    """r7: the incremental new-vs-store match carries the same adaptive
    heavy-hitter cap as the self-joins — occupancy measured on the
    union banding, overfull keys dropped from the store side, mirrored
    in the SQL twin."""

    def _corpus(self, spark, tmp_path):
        import duckdb

        flood_text = ("the same flooded boilerplate page text repeated "
                      "everywhere across the crawl again and again")
        base = ("a genuinely unique document about distributed query "
                "engines their shuffle strategies broadcast joins "
                "partition pruning and adaptive execution at scale")
        old = [(i, flood_text) for i in range(40)] + [(100, base)]
        new = [(200, flood_text), (201, base + " with one extra clause")]
        old_df = spark.createDataFrame(old, "doc_id long, text string")
        new_df = spark.createDataFrame(new, "doc_id long, text string")
        con = duckdb.connect()
        for name, df in (("old_docs", old_df), ("new_docs", new_df)):
            p = str(tmp_path / f"{name}.parquet")
            df.coalesce(1).write.parquet(p)
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        return old_df, new_df, con

    def test_engaged_cap_matches_oracle(self, spark, tmp_path):
        from etl_pack_spark.operators import neardup

        old_df, new_df, con = self._corpus(spark, tmp_path)
        store = neardup.minhash_signature(
            neardup.shingle_rows(old_df, "doc_id", "text", 3, distinct=False),
            "doc_id",
        )
        for cap in (10, None):
            got = sorted(
                (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
                for r in neardup.minhash_match_incremental(
                    new_df, store, "doc_id", "text", max_bucket=cap
                ).collect()
            )
            want = sorted(
                (a, b, round(j, 9)) for a, b, j in con.execute(
                    neardup.minhash_match_incremental_sql(
                        "old_docs", "new_docs", "doc_id", "text",
                        max_bucket=cap,
                    )
                ).fetchall()
            )
            assert got == want, f"cap={cap}"
            if cap is None:
                # uncapped: new flood doc matches the whole old flood
                assert sum(1 for a, _, _ in got if a == 200) >= 40
            else:
                # capped: flood bucket dropped, genuine near-dup kept
                assert all(a != 200 for a, _, _ in got)
                assert any(a == 201 and b == 100 for a, b, _ in got)


class TestHammingMatchIncremental:
    """r15: the hamming family's incremental matcher — streamed new-vs-
    store pairs must compose to exactly the full-batch block-match."""

    def _sigs(self, spark, rows):
        return spark.createDataFrame(rows, "id long, sig string")

    def test_incremental_composes_to_batch(self, spark):
        from etl_pack_spark.operators.neardup import (
            hamming_match_incremental,
            hamming_neardup_pairs,
        )

        # planted: 1~2 differ in 1 bit; 3 identical to 1; 4,5 far away;
        # 6 (new) near 2 (old)
        old = self._sigs(spark, [
            (1, "0000000000000000"),
            (2, "0000000000000001"),
            (4, "ffffffffffffffff"),
        ])
        new = self._sigs(spark, [
            (3, "0000000000000000"),
            (5, "aaaaaaaaaaaaaaaa"),
            (6, "0000000000000003"),
        ])
        inc = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]),
                r["hamming"])
               for r in hamming_match_incremental(
                   new, old, "id", "sig", max_hamming=2).collect()}
        batch_all = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]),
                      r["hamming"])
                     for r in hamming_neardup_pairs(
                         old.unionByName(new), "id", "sig",
                         max_hamming=2).collect()}
        batch_old = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]),
                      r["hamming"])
                     for r in hamming_neardup_pairs(
                         old, "id", "sig", max_hamming=2).collect()}
        # incremental = full-batch minus the old-old pairs
        assert inc == batch_all - batch_old
        assert (1, 3, 0) in inc and (2, 6, 1) in inc
        # id_a is always a new doc (or new-new reported once, a < b)
        for r in hamming_match_incremental(
                new, old, "id", "sig", max_hamming=2).collect():
            assert r["id_a"] in (3, 5, 6)

    def test_hot_block_cap_engages_on_union(self, spark):
        from etl_pack_spark.operators.neardup import hamming_match_incremental

        # a store flooded with one signature: the cap drops its blocks,
        # so a matching new item emits nothing instead of B pairs
        old = self._sigs(spark, [(i, "1234567812345678") for i in range(50)])
        new = self._sigs(spark, [(1000, "1234567812345678")])
        got = hamming_match_incremental(
            new, old, "id", "sig", max_hamming=0, max_block_freq=10
        ).collect()
        assert got == []
        # cap off: the flood pairs all come out
        got2 = hamming_match_incremental(
            new, old, "id", "sig", max_hamming=0, max_block_freq=None
        ).collect()
        assert len(got2) == 50
