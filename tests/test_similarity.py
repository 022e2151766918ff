"""Similarity search: brute-force cosine vs numpy ground truth; LSH
candidates ⊆ exact."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pack_spark.operators import similarity
from etl_pack_spark.sources.reader import read_table


def test_topk_matches_numpy(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    got = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=3)
    rows = {(r["q_id"], r["rk"]): r["n_id"] for r in got.collect()}

    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    for qi in range(10):
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != ids[qi]),
            key=lambda i: (-sims[qi, i], ids[i]),
        )
        for rk in range(1, 4):
            assert rows[(ids[qi], rk)] == ids[order[rk - 1]], (qi, rk)


def test_lsh_pairs_subset_of_exact(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    exact = {(r["id_a"], r["id_b"])
             for r in similarity.cosine_neardup_pairs(emb, threshold=0.4).collect()}
    approx = {(r["id_a"], r["id_b"])
              for r in similarity.lsh_neardup_pairs(
                  emb, dims=64, planes=4, tables=6, threshold=0.4).collect()}
    assert approx <= exact
    assert len(exact) > 0
    # OR-amplified recall should be non-trivial on the fixture
    assert len(approx) >= len(exact) // 3


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 50), k=5)
    ivf = similarity.ivf_topk(emb, k=5)
    truth = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    got = {(r["q_id"], r["n_id"]) for r in ivf.collect()}
    # probing 4/16 lists: partial recall by design, but well above chance
    assert len(got & truth) / len(truth) >= 0.5
    # every IVF hit is a real vector pairing with exact cosine: ranks
    # within a query are consistent (1..n contiguous)
    by_q = {}
    for r in ivf.collect():
        by_q.setdefault(r["q_id"], []).append(r["rk"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_block_matrix_path_matches_fast_path(spark, sf_dir, monkeypatch):
    """The distributed block-matrix path (corpus > BLOCK_ROWS) must be
    bit-identical to the single-block broadcast fast path — same pairs,
    same top-k, same doubles — since blocking must never change the
    math (both use the same chunked-cumsum left-fold kernel)."""
    emb = read_table(spark, sf_dir, "embeddings")
    fast_pairs = sorted(map(tuple, similarity.cosine_neardup_pairs(emb, threshold=0.4).collect()))
    fast_topk = sorted(map(tuple, similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 50)).collect()))
    # force multi-block: 500 fixture vectors -> 4 blocks, 10 block pairs
    monkeypatch.setattr(similarity, "BLOCK_ROWS", 128)
    blk_pairs = sorted(map(tuple, similarity.cosine_neardup_pairs(emb, threshold=0.4).collect()))
    blk_topk = sorted(map(tuple, similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 50)).collect()))
    assert blk_pairs == fast_pairs and len(fast_pairs) > 0
    assert blk_topk == fast_topk and len(fast_topk) > 0


def test_semantic_dedup_oracle_parity(spark, sf_dir):
    """SemDeDup (cluster -> within-cluster prune) matches the DuckDB
    twin bit-for-bit: same sampled centroids, same argmax tie-break,
    same left-fold cosine, same keep-lowest-id pair rule."""
    import duckdb

    emb = read_table(spark, sf_dir, "embeddings")
    got = sorted(
        (r["vec_id"], r["cid"]) for r in
        similarity.semantic_dedup(emb, nlist=16, threshold=0.4).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(map(tuple, con.execute(
        similarity.semantic_dedup_sql("embeddings", nlist=16, threshold=0.4)
    ).fetchall()))
    assert got == want
    n = emb.count()
    assert 0 < len(got) < n  # something pruned, something survives


def test_semantic_dedup_drops_planted_duplicate(spark):
    """An exact duplicate vector lands in the same cluster and the
    higher id is dropped; near-orthogonal rows all survive."""
    import math

    def basis(i, d=64):
        v = [0.0] * d
        v[i] = 1.0
        return v

    rows = [(i, basis(i)) for i in range(8)]  # ids 0..7 are centroids+selves
    rows.append((100, basis(3)))              # exact dup of id 3
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["cid"] for r in
           similarity.semantic_dedup(df, nlist=8, threshold=0.95).collect()}
    assert 100 not in out           # dropped: id 3 is its lower-id twin
    assert set(out) == set(range(8))
    assert math.isfinite(out[3])


def test_semantic_dedup_repartition_stable(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, similarity.semantic_dedup(emb, threshold=0.4).collect()))
    b = sorted(map(tuple, similarity.semantic_dedup(
        emb.repartition(11), threshold=0.4).collect()))
    assert a == b


def test_lsh_neardup_oracle_parity(spark, sf_dir):
    """The hyperplane-LSH pair set matches the DuckDB twin bit-exactly:
    md5-derived hyperplane coefficients are dyadic rationals, the
    projection sums share one left-associative order, and the re-rank
    cosine is the strict left-fold dot."""
    from etl_pack_spark.oracle import duck_connect

    emb = read_table(spark, sf_dir, "embeddings")
    got = sorted(map(tuple, similarity.lsh_neardup_pairs(
        emb, dims=64, planes=4, tables=6, threshold=0.4).collect()))
    want = sorted(map(tuple, duck_connect(sf_dir).execute(
        similarity.lsh_neardup_pairs_sql(
            "embeddings", dims=64, planes=4, tables=6, threshold=0.4
        )).fetchall()))
    assert got == want
    assert len(got) > 0


class TestAnnChooser:
    """One entry point over the ANN family: the dispatcher must land
    every method on its documented path with a uniform result shape."""

    @pytest.mark.parametrize("method", ["brute", "ivf_flat", "pq", "ivf_pq"])
    def test_every_method_returns_uniform_topk(self, spark, sf_dir, method):
        from etl_pack_spark.operators.similarity import ann_topk
        from etl_pack_spark.sources.reader import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        queries = emb.where("vec_id < 5")
        out = ann_topk(emb, queries, k=3, method=method, pq_k=16)
        rows = out.collect()
        assert out.columns == ["q_id", "n_id", "score", "rk", "method"]
        assert {r["method"] for r in rows} == {method}
        assert {r["q_id"] for r in rows} == {0, 1, 2, 3, 4}
        assert all(1 <= r["rk"] <= 3 and r["n_id"] != r["q_id"] for r in rows)
        per_q = {}
        for r in rows:
            per_q.setdefault(r["q_id"], []).append(r["rk"])
        assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    def test_auto_picks_brute_at_fixture_scale(self, spark, sf_dir):
        from etl_pack_spark.operators.similarity import ann_topk, cosine_topk
        from etl_pack_spark.sources.reader import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        queries = emb.where("vec_id < 3")
        out = ann_topk(emb, queries, k=3, method="auto")
        rows = out.collect()
        assert {r["method"] for r in rows} == {"brute"}
        want = {(r["q_id"], r["rk"], r["n_id"])
                for r in cosine_topk(emb, queries, 3).collect()}
        assert {(r["q_id"], r["rk"], r["n_id"]) for r in rows} == want

    def test_lsh_and_unknown_methods_rejected(self, spark, sf_dir):
        from etl_pack_spark.operators.similarity import ann_topk
        from etl_pack_spark.sources.reader import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = emb.where("vec_id < 2")
        with pytest.raises(ValueError, match="lsh_neardup_pairs"):
            ann_topk(emb, q, method="lsh")
        with pytest.raises(ValueError, match="method"):
            ann_topk(emb, q, method="hnsw")

    @pytest.mark.parametrize("method", ["ivf_flat", "ivf_pq"])
    def test_sparse_id_space(self, spark, sf_dir, method):
        """The IVF-family coarse sample is id-space-AGNOSTIC: a corpus
        whose ids are snowflake-style offsets (no id below nlist) must
        index and answer, not crash — the r5 `id < nlist` seeding
        required dense 0-based ids, which real corpora don't have."""
        from pyspark.sql import functions as F

        from etl_pack_spark.operators.similarity import ann_topk
        from etl_pack_spark.sources.reader import read_table

        OFF = 1_000_000_007
        emb = read_table(spark, sf_dir, "embeddings").withColumn(
            "vec_id", F.col("vec_id") + F.lit(OFF)
        )
        queries = emb.where(f"vec_id < {OFF + 5}")
        out = ann_topk(emb, queries, k=3, method=method, pq_k=16)
        rows = out.collect()
        assert {r["q_id"] for r in rows} == {OFF + i for i in range(5)}
        per_q = {}
        for r in rows:
            assert r["n_id"] != r["q_id"] and r["n_id"] >= OFF
            per_q.setdefault(r["q_id"], []).append(r["rk"])
        assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    def test_index_path_build_once_query_many(self, spark, sf_dir, tmp_path):
        """r7: the ivf_pq arm amortizes training through index_path —
        first call trains + saves, later calls load the frozen index;
        fresh-vs-loaded top-k must be bit-identical (doubles round-trip
        parquet exactly). A second call must NOT retrain: the loaded
        quantizers are frozen, so answers stay stable even if the
        corpus frame is re-derived."""
        from etl_pack_spark.operators.similarity import ann_topk
        from etl_pack_spark.sources.reader import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        queries = emb.where("vec_id < 5")
        path = str(tmp_path / "annidx")

        def rows(out):
            return sorted(
                (r["q_id"], r["rk"], r["n_id"], r["score"]) for r in out.collect()
            )

        fresh = rows(
            ann_topk(emb, queries, k=3, method="ivf_pq", pq_k=16)
        )
        built = rows(
            ann_topk(
                emb, queries, k=3, method="ivf_pq", pq_k=16, index_path=path
            )
        )
        loaded = rows(
            ann_topk(
                emb, queries, k=3, method="ivf_pq", pq_k=16, index_path=path
            )
        )
        assert fresh == built == loaded
        # the saved index is really there (coarse/books/codes)
        import os

        assert {"coarse", "books", "codes"} <= set(os.listdir(path))

    def test_semantic_dedup_sparse_id_space(self, spark, sf_dir):
        """assign_centroids shares the id-agnostic coarse sample."""
        from pyspark.sql import functions as F

        from etl_pack_spark.operators.similarity import semantic_dedup
        from etl_pack_spark.sources.reader import read_table

        OFF = 1_000_000_007
        emb = read_table(spark, sf_dir, "embeddings").withColumn(
            "vec_id", F.col("vec_id") + F.lit(OFF)
        )
        survivors = semantic_dedup(emb, nlist=16, threshold=0.4)
        n = survivors.count()
        assert 0 < n <= emb.count()


def test_ann_recall_semantics_and_oracle(spark):
    """r9 recall evaluation: hand-built approx/exact — hits counted per
    query, absent queries report 0 (never dropped), DuckDB twin
    agrees."""
    import duckdb

    from etl_pack_spark.operators.similarity import ann_recall, ann_recall_sql

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "q_id long, n_id long",
    )
    approx = spark.createDataFrame(
        # q1: 2/3 right (13 is a miss); q2: exact; q3: absent entirely
        [(1, 10), (1, 11), (1, 13), (2, 20), (2, 21)],
        "q_id long, n_id long",
    )
    got = {r["q_id"]: r for r in ann_recall(approx, exact).collect()}
    assert got[1]["n_exact"] == 3 and got[1]["n_hit"] == 2
    assert abs(got[1]["recall"] - round(2 / 3, 9)) < 1e-12
    assert got[2]["recall"] == 1.0
    assert got[3]["n_hit"] == 0 and got[3]["recall"] == 0.0
    con = duckdb.connect()
    con.register("ex", exact.toPandas())
    con.register("ap", approx.toPandas())
    want = {q: (ne, nh, rc) for q, ne, nh, rc in con.execute(
        ann_recall_sql("SELECT * FROM ap", "SELECT * FROM ex")
    ).fetchall()}
    assert want == {
        q: (r["n_exact"], r["n_hit"], r["recall"]) for q, r in got.items()
    }


def test_ann_recall_measures_ivf_against_brute(spark, sf_dir):
    """End-to-end: IVF-flat recall vs brute force on the fixture is in
    (0, 1]; brute vs itself is exactly 1 for every query."""
    from pyspark.sql import functions as F

    from etl_pack_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        ivf_topk,
    )
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5).persist()
    self_recall = ann_recall(exact, exact)
    assert all(r["recall"] == 1.0 for r in self_recall.collect())
    approx = ivf_topk(emb, nlist=16, nprobe=4, k=5).where(
        F.col("q_id") < 10
    )
    rec = ann_recall(approx, exact).collect()
    exact.unpersist()
    assert len(rec) == 10
    mean = sum(r["recall"] for r in rec) / len(rec)
    assert 0.0 < mean <= 1.0


def test_lsh_keys_evaluated_once_in_plan(spark, sf_dir):
    """r15 optimization pins: the LSH keying kernel must appear exactly
    ONCE in the executed plan (posexplode's implicit size filter used to
    be pushed below the projection, duplicating the ArrowEvalPython —
    guide §4.4), and the whole pipeline must stay off the row-at-a-time
    Python path."""
    emb = read_table(spark, sf_dir, "embeddings")
    df = similarity.lsh_neardup_pairs(
        emb, dims=64, planes=4, tables=6, threshold=0.4
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("keys_impl") == 1, plan
    assert "BatchEvalPython" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_lsh_keys_udf_matches_expression_form(spark, sf_dir):
    """r15: the vectorized key kernel must be bit-identical to the
    per-plane expression form (lsh_bucket_key) — same left-fold
    projections, same signs, same strings."""
    emb = read_table(spark, sf_dir, "embeddings").limit(50)
    keys_col = similarity._lsh_keys_udf(64, 4, 3)(F.col("embedding"))
    got = {
        r["vec_id"]: r["ks"]
        for r in emb.select("vec_id", keys_col.alias("ks")).collect()
    }
    expr_cols = [
        similarity.lsh_bucket_key("embedding", 64, 4, plane_offset=t * 4)
        .alias(f"bk_{t}")
        for t in range(3)
    ]
    want = {
        r["vec_id"]: [r["bk_0"], r["bk_1"], r["bk_2"]]
        for r in emb.select("vec_id", *expr_cols).collect()
    }
    assert got == want


def test_assign_kernel_matches_independent_argmax(spark, sf_dir):
    """r15: the map-only nearest-centroid kernel must reproduce the
    (c_sim DESC, cid ASC) argmax the struct-max aggregation computed,
    against an independent numpy reimplementation."""
    emb = read_table(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: r["cid"]
        for r in similarity.assign_centroids(emb, nlist=16).collect()
    }
    cent = similarity._collect_centroids(emb, 16, "vec_id", "embedding")
    C = np.stack(cent["cv"].to_numpy()).astype(np.float64)
    cn = cent["cn"].to_numpy()
    cids = cent["cid"].to_numpy()
    pdf = emb.toPandas()
    for vid, v in zip(pdf["vec_id"], pdf["embedding"]):
        v = np.asarray(v, dtype=np.float64)
        nrm = np.sqrt(np.cumsum(v * v)[-1])
        sims = [
            np.cumsum(v * C[j])[-1] / (nrm * cn[j]) for j in range(len(cids))
        ]
        assert got[vid] == cids[int(np.argmax(sims))], vid


def test_shared_coarse_sample_is_value_neutral(spark, sf_dir):
    """r15: passing one _collect_centroids result to both ivf_topk and
    quantize.ivf_pq_index (the ann_ivf_topk composition) must change
    no value vs each operator collecting its own sample — and the
    mis-sized guard must refuse a slice of a larger sample."""
    import pytest

    from etl_pack_spark.operators import quantize

    emb = read_table(spark, sf_dir, "embeddings")
    coarse = similarity._collect_centroids(emb, 16, "vec_id", "embedding")
    own = {tuple(r) for r in similarity.ivf_topk(emb).collect()}
    shared = {
        tuple(r) for r in similarity.ivf_topk(emb, coarse_pdf=coarse).collect()
    }
    assert own == shared
    cids_a, C_a, books_a, _ = quantize.ivf_pq_index(emb, 64, nlist=16, m=8, k=16)
    cids_b, C_b, books_b, _ = quantize.ivf_pq_index(
        emb, 64, nlist=16, m=8, k=16, coarse_pdf=coarse
    )
    assert (cids_a == cids_b).all()
    assert (C_a == C_b).all()
    assert (books_a == books_b).all()
    with pytest.raises(ValueError, match="coarse_pdf"):
        quantize.ivf_pq_index(emb, 64, nlist=8, m=8, k=16, coarse_pdf=coarse)


def test_single_block_neardup_spreads_small_scan(spark, sf_dir):
    """The single-block cosine_neardup_pairs fast path must not run its
    CPU-quadratic kernel on a 1-task fixture-scan layout (r15): the
    streamed corpus is conditionally spread before mapInPandas. Values
    are partitioning-independent (each streamed row scores against the
    static broadcast block), pinned by
    test_block_matrix_path_matches_fast_path."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_neardup_pairs(emb, threshold=0.4)
    assert "RepartitionByExpression" in (
        out._jdf.queryExecution().logical().toString()
    )


def test_ivf_topk_query_side_bounded_by_construction(spark, sf_dir):
    """r15 session 4: ivf_topk's query side is restricted (filter or
    broadcast semi-join) on the UNSPREAD source frame BEFORE the
    norm/centroid-similarity projections, so the bounded query batch
    can never drag a full-corpus Python pass or the fixture spread
    exchange — previously the restriction was applied above a
    corpus-wide ``crossed`` frame and relied on Catalyst pushdown.

    Pins: (a) the two query framings (default id-threshold vs an
    explicit query frame of the same ids) are row-identical — the
    semi-join restructure changed no value; (b) the fixture plan
    carries exactly ONE spread repartition (the assignment side) —
    the old shape printed the shared spread subtree under the query
    side too."""
    emb = read_table(spark, sf_dir, "embeddings")
    default_rows = {tuple(r) for r in similarity.ivf_topk(emb).collect()}
    q_frame = emb.where(F.col("vec_id") < 50).select("vec_id")
    semi_rows = {
        tuple(r) for r in similarity.ivf_topk(emb, queries=q_frame).collect()
    }
    assert default_rows == semi_rows
    # the spread is CONDITIONAL (it only fires when the fixture scan
    # underuses the cluster), so the pin is "never more than one" — a
    # duplicated spread subtree under the query side is the regression
    # this guards against; on a 1-core box (or a many-split fixture)
    # the count is legitimately 0 (r15 ADVICE)
    plan = similarity.ivf_topk(emb)._jdf.queryExecution().logical().toString()
    assert plan.count("RepartitionByExpression") <= 1
    # same pin on the explicit-queries semi-join path (r15 ADVICE: a
    # regression reattaching the spread/norm corpus subtree under the
    # semi-join would previously only fail the value check)
    plan_semi = (
        similarity.ivf_topk(emb, queries=q_frame)
        ._jdf.queryExecution().logical().toString()
    )
    assert plan_semi.count("RepartitionByExpression") <= 1


def test_ivf_assign_encode_matches_separate_kernels(spark, sf_dir):
    """r16 fuse (round-15 VERDICT #3): the ONE fused assign+encode
    corpus pass must be bit-identical to the two separate kernels it
    replaces — the PQ tier equals ivf_pq_index's own encode, and the
    flat tier fed through ivf_topk(assigned=...) equals the plain
    ivf_topk result."""
    from etl_pack_spark.operators import quantize

    emb = read_table(spark, sf_dir, "embeddings")
    coarse = similarity._collect_centroids(emb, 16, "vec_id", "embedding")
    cids, C, books = quantize.ivf_pq_quantizers(
        emb, 64, nlist=16, m=8, k=16, coarse_pdf=coarse
    )
    fused = quantize.ivf_assign_encode(emb, coarse, cids, C, books)
    # PQ tier: codes/cid identical to the standalone index build
    _, _, _, enc = quantize.ivf_pq_index(
        emb, 64, nlist=16, m=8, k=16, coarse_pdf=coarse
    )
    got = {(r["id"], r["cid"], tuple(r["codes"]))
           for r in fused.select("id", "cid", "codes").collect()}
    want = {(r["id"], r["cid"], tuple(r["codes"])) for r in enc.collect()}
    assert got == want
    # flat tier: the composed path is row-identical (exact doubles)
    flat_fused = similarity.ivf_topk(
        emb, coarse_pdf=coarse,
        assigned=fused.select(
            F.col("id").alias("n_id"), F.col("f_cid").alias("cid"),
            F.col("v").alias("nv"), F.col("norm").alias("nn"),
        ),
    )
    flat_plain = similarity.ivf_topk(emb, coarse_pdf=coarse)
    assert {tuple(r) for r in flat_fused.collect()} == {
        tuple(r) for r in flat_plain.collect()
    }


def test_ivf_topk_assigned_requires_matching_coarse(spark, sf_dir):
    """ivf_topk(assigned=...) must refuse to run without the coarse
    sample the assignment was computed against, and must refuse a
    frame that is not the ivf_assign_encode projection."""
    emb = read_table(spark, sf_dir, "embeddings")
    coarse = similarity._collect_centroids(emb, 16, "vec_id", "embedding")
    with pytest.raises(ValueError, match="coarse_pdf"):
        similarity.ivf_topk(emb, assigned=emb.limit(1))
    with pytest.raises(ValueError, match="missing columns"):
        similarity.ivf_topk(emb, coarse_pdf=coarse, assigned=emb.limit(1))


def test_lsh_hot_bucket_tiling_is_exact(spark, monkeypatch):
    """r16 (round-15 VERDICT #5): a bucket larger than
    LSH_BUCKET_TILE_ROWS is split into hash-chunks whose pair grid
    fans out across groups — the pair set and every cos_sim double
    must equal the untiled kernel's, and the engaged plan must carry
    the chunk-grid grouping."""
    rows = []
    # 12 identical vectors flood every bucket of every table; a few
    # distinct vectors keep the rest of the graph non-degenerate
    hot = [0.5] * 8
    for i in range(12):
        rows.append((i, hot))
    for i in range(12, 18):
        rows.append((i, [0.1 * ((i + j) % 5) + 0.01 for j in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    untiled = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in similarity.lsh_neardup_pairs(
            emb, dims=8, planes=2, tables=2, threshold=0.9
        ).collect()
    }
    monkeypatch.setattr(similarity, "LSH_BUCKET_TILE_ROWS", 4)
    tiled_df = similarity.lsh_neardup_pairs(
        emb, dims=8, planes=2, tables=2, threshold=0.9
    )
    assert "__bi" in tiled_df._jdf.queryExecution().logical().toString()
    tiled = {(r["id_a"], r["id_b"], r["cos_sim"]) for r in tiled_df.collect()}
    assert tiled == untiled
    # the flood itself must be fully present: all 66 identical-vector
    # pairs at cos 1.0
    flood = {(a, b) for a, b, _ in tiled if a < 12 and b < 12}
    assert len(flood) == 66
