"""Product quantization: training determinism, encoding invariance,
the ADC == L2²(query, reconstruction) identity, and recall vs exact."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pack_spark.operators.quantize import (
    pq_encode,
    pq_reconstruct,
    pq_topk,
    pq_train,
)
from etl_pack_spark.sources.reader import read_table

M, K, DIMS = 8, 16, 64


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, DIMS, m=M, k=K)


def test_train_shape_and_determinism(emb, books):
    assert books.shape == (M, K, DIMS // M)
    again = pq_train(emb, DIMS, m=M, k=K)
    assert np.array_equal(books, again)


def test_train_rejects_bad_m(emb):
    with pytest.raises(ValueError):
        pq_train(emb, DIMS, m=7)


def test_encode_shape_and_repartition_invariance(emb, books):
    enc = {r["id"]: tuple(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert len(enc) == emb.count()
    assert all(len(c) == M for c in enc.values())
    assert all(0 <= x < K for c in enc.values() for x in c)
    enc2 = {
        r["id"]: tuple(r["codes"])
        for r in pq_encode(emb.repartition(13), books).collect()
    }
    assert enc == enc2


def test_adc_equals_reconstruction_distance(emb, books):
    """pq_topk's adc_dist must equal the squared L2 distance between the
    raw query and the numpy-reconstructed corpus vector — the defining
    PQ identity, checked against a driver-side twin."""
    enc = pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < 5)
    got = pq_topk(enc, queries, books, k=10).collect()
    assert len(got) == 50

    pdf = emb.select("vec_id", "embedding").toPandas()
    vecs = {
        int(i): np.asarray(v, dtype=np.float64)
        for i, v in zip(pdf["vec_id"], pdf["embedding"])
    }
    codes = {r["id"]: np.asarray(r["codes"]) for r in enc.collect()}
    for r in got:
        recon = pq_reconstruct(books, codes[r["n_id"]][None, :])[0]
        want = float(((vecs[r["q_id"]] - recon) ** 2).sum())
        assert r["adc_dist"] == pytest.approx(want, rel=1e-9, abs=1e-12)


def test_topk_rank_is_sorted_and_excludes_self(emb, books):
    enc = pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < 3)
    rows = pq_topk(enc, queries, books, k=5).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["n_id"] != r["q_id"]
        by_q.setdefault(r["q_id"], []).append((r["rk"], r["adc_dist"]))
    for q, lst in by_q.items():
        lst.sort()
        assert [rk for rk, _ in lst] == [1, 2, 3, 4, 5]
        dists = [d for _, d in lst]
        assert dists == sorted(dists)


def test_recall_vs_exact_l2(emb):
    """PQ@10 must recover a healthy fraction of the exact L2 top-10.
    The fixture embeddings are near-iid (worst case for PQ), so this
    uses the higher-capacity 16×64 config (measured recall ≈ 0.57; the
    0.45 bound absorbs fixture drift)."""
    big = pq_train(emb, DIMS, m=16, k=64, iters=10)
    enc = pq_encode(emb, big)
    queries = emb.where(F.col("vec_id") < 20)
    got: dict[int, set] = {}
    for r in pq_topk(enc, queries, big, k=10).collect():
        got.setdefault(r["q_id"], set()).add(r["n_id"])

    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    hits = total = 0
    for qi in np.where(ids < 20)[0]:
        d = ((X - X[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        exact = set(ids[np.lexsort((ids, d))[:10]].tolist())
        hits += len(exact & got[int(ids[qi])])
        total += 10
    recall = hits / total
    assert recall >= 0.5, f"recall@10 = {recall:.3f}"


def test_pq_topk_bounds_query_collect(spark):
    """An accidentally corpus-sized query frame must fail fast with a
    clear error, not silently collect to the driver."""
    import numpy as np
    import pytest

    from etl_pack_spark.operators import quantize

    dims, m, k = 8, 2, 4
    rows = [(i, [float(i % 7), float(i % 3)] * 4) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = quantize.pq_train(df, dims=dims, m=m, k=k, sample_rows=64)
    enc = quantize.pq_encode(df, books)
    orig = quantize.MAX_QUERY_VECTORS
    try:
        quantize.MAX_QUERY_VECTORS = 10
        with pytest.raises(ValueError, match="query vectors"):
            quantize.pq_topk(enc, df, books).collect()
    finally:
        quantize.MAX_QUERY_VECTORS = orig


class TestIvfPq:
    """Composed IVF-PQ: coarse lists over residual codes — correctness
    vs a driver-side numpy twin, recall vs exact search, probe pruning."""

    def _emb(self, spark, sf_dir):
        from etl_pack_spark.sources.reader import read_table

        return read_table(spark, sf_dir, "embeddings")

    def _index(self, spark, sf_dir):
        import numpy as np

        from etl_pack_spark.operators.quantize import ivf_pq_index

        emb = self._emb(spark, sf_dir)
        dims = len(emb.select("embedding").first()[0])
        return emb, ivf_pq_index(emb, dims, nlist=16, m=8, k=16)

    def test_adc_matches_numpy_twin(self, spark, sf_dir):
        import numpy as np

        from etl_pack_spark.operators.quantize import ivf_pq_topk, pq_reconstruct

        emb, (cids, C, books, encoded) = self._index(spark, sf_dir)
        queries = emb.where("vec_id < 5")
        got = ivf_pq_topk(encoded, queries, cids, C, books, k=3, nprobe=4)
        rows = {(r["q_id"], r["n_id"]): r["adc_dist"] for r in got.collect()}
        assert len(rows) > 0
        # twin: reconstruct = centroid + decoded residual; adc == L2^2
        enc = encoded.toPandas().set_index("id")
        data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        cid_row = {c: i for i, c in enumerate(cids)}
        for (q, n), d in rows.items():
            codes = np.array(enc.loc[n, "codes"], dtype=np.int64)[None, :]
            recon = C[cid_row[enc.loc[n, "cid"]]] + pq_reconstruct(books, codes)[0]
            want = float(((data[q] - recon) ** 2).sum())
            assert abs(d - want) < 1e-9, (q, n)

    def test_recall_vs_exact_reasonable(self, spark, sf_dir):
        """Recall pin at 8-bit codebooks (k=256). Context: the fixture
        embeddings are near-random, ANN's worst case — PQ distortion,
        not IVF pruning, is the recall floor here (4-bit codes ~0.3,
        8-bit ~0.55, nprobe barely moves either); real clustered
        corpora sit far higher."""
        import numpy as np

        from etl_pack_spark.operators.quantize import ivf_pq_index, ivf_pq_topk

        emb = self._emb(spark, sf_dir)
        dims = len(emb.select("embedding").first()[0])
        cids, C, books, encoded = ivf_pq_index(emb, dims, nlist=16, m=16, k=256)
        queries = emb.where("vec_id < 20")
        got = ivf_pq_topk(encoded, queries, cids, C, books, k=5, nprobe=8)
        approx = {}
        for r in got.collect():
            approx.setdefault(r["q_id"], set()).add(r["n_id"])
        data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        hits = total = 0
        for q in approx:
            qd = sorted(
                ((float(((data[q] - v) ** 2).sum()), n)
                 for n, v in data.items() if n != q)
            )[:5]
            exact = {n for _, n in qd}
            hits += len(exact & approx[q])
            total += 5
        assert hits / total >= 0.4          # see docstring

    def test_probed_lists_only(self, spark, sf_dir):
        from etl_pack_spark.operators.quantize import ivf_pq_topk

        emb, (cids, C, books, encoded) = self._index(spark, sf_dir)
        queries = emb.where("vec_id < 3")
        got = ivf_pq_topk(encoded, queries, cids, C, books, k=50, nprobe=2)
        enc = {r["id"]: r["cid"] for r in encoded.collect()}
        # every returned neighbor must live in one of at most 2 lists/query
        per_q = {}
        for r in got.collect():
            per_q.setdefault(r["q_id"], set()).add(enc[r["n_id"]])
        assert per_q and all(len(ls) <= 2 for ls in per_q.values())


def test_pq_topk_repartition_invariant_with_duplicate_vectors(spark, sf_dir):
    """Review regression: duplicate vectors share codes, so ADC
    distances tie exactly — the local prune must keep the LOWEST id
    (full lexsort before truncation) or results depend on
    partitioning."""
    from pyspark.sql import functions as F

    from etl_pack_spark.operators.quantize import pq_encode, pq_topk, pq_train
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # replicate the corpus: every vector appears twice with a shifted id
    dup = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dup)
    dims = len(emb.select("embedding").first()[0])
    books = pq_train(corpus, dims)
    queries = emb.where("vec_id < 5")

    def run(parts):
        enc = pq_encode(corpus.repartition(parts), books)
        return sorted(
            (r["q_id"], r["rk"], r["n_id"])
            for r in pq_topk(enc, queries, books, k=4).collect()
        )

    assert run(3) == run(17)


def test_ivf_pq_save_load_roundtrip_bit_identical(spark, sf_dir, tmp_path):
    """Index lifecycle: build → save → load → query must answer
    bit-identically to the unsaved path (doubles round-trip parquet
    exactly) — the build-once / query-many posture a large deployment
    needs."""
    import numpy as np

    from etl_pack_spark.operators.quantize import (
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_save,
        ivf_pq_topk,
    )
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    cids, C, books, enc = ivf_pq_index(emb, dims, nlist=16, m=8, k=16)
    path = str(tmp_path / "ivfpq_index")
    ivf_pq_save(path, cids, C, books, enc)
    cids2, C2, books2, enc2 = ivf_pq_load(spark, path)
    assert np.array_equal(cids, cids2)
    assert np.array_equal(C, C2)          # bit-exact, not allclose
    assert np.array_equal(books, books2)
    queries = emb.where("vec_id < 20")

    def rows(e, ci, ce, bo):
        return sorted(
            (r["q_id"], r["rk"], r["n_id"], r["adc_dist"])
            for r in ivf_pq_topk(e, queries, ci, ce, bo, k=5, nprobe=4).collect()
        )

    assert rows(enc2, cids2, C2, books2) == rows(enc, cids, C, books)


def test_ivf_pq_sql_twin_matches_engine(spark, sf_dir):
    """The DuckDB oracle twin (Lloyd training unrolled in SQL) must
    reproduce the engine's IVF-PQ results — the same parity the driver
    gate checks, pinned here with a smaller framing so the pytest
    suite owns it too."""
    import duckdb

    from etl_pack_spark.operators.quantize import ivf_pq_index, ivf_pq_topk
    from etl_pack_spark.operators.quantize import ivf_pq_topk_sql
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    cids, C, books, enc = ivf_pq_index(
        emb, dims, nlist=8, m=4, k=8, iters=3
    )
    got = sorted(
        (r["q_id"], r["n_id"], round(r["adc_dist"], 6), r["rk"])
        for r in ivf_pq_topk(
            enc, emb.where("vec_id < 10"), cids, C, books, k=3, nprobe=2
        ).collect()
    )
    sql = ivf_pq_topk_sql(
        "embeddings", dims, nlist=8, m=4, kcent=8, iters=3,
        k=3, nprobe=2, query_pred="vec_id < 10",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(
        (a, b, round(d, 6), rk) for a, b, d, rk in con.execute(sql).fetchall()
    )
    assert got == want and len(got) > 0


def test_ivf_pq_sql_query_pred_whole_identifier_rewrite():
    """The oracle generator rewrites the query predicate onto its `id`
    alias whole-identifier-wise: a column that merely CONTAINS id_col
    (`alt_vec_id` under id_col='vec_id') must survive unmangled."""
    from etl_pack_spark.operators.quantize import ivf_pq_topk_sql

    sql = ivf_pq_topk_sql(
        "embeddings", 8, query_pred="vec_id < 50 AND alt_vec_id = 0"
    )
    line = next(l for l in sql.splitlines() if "SELECT id AS qid" in l)
    assert "(id < 50 AND alt_vec_id = 0)" in line


def test_ivf_pq_append_matches_full_encode(spark, sf_dir, tmp_path):
    """Incremental append: build the index on HALF the corpus, append
    the other half with the frozen quantizers — queries over the
    appended index must equal queries over a full encode under the
    same (half-trained) quantizers. No retrain on ingest."""
    from etl_pack_spark.operators.quantize import (
        ivf_pq_append,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_save,
        ivf_pq_topk,
    )
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    half_a = emb.where("vec_id % 2 = 0")
    half_b = emb.where("vec_id % 2 = 1")
    cids, C, books, enc_a = ivf_pq_index(half_a, dims, nlist=8, m=8, k=16)
    path = str(tmp_path / "idx")
    ivf_pq_save(path, cids, C, books, enc_a)
    merged = ivf_pq_append(spark, path, half_b)
    assert merged.count() == emb.count()
    queries = emb.where("vec_id < 10")

    def rows(e):
        return sorted(
            (r["q_id"], r["rk"], r["n_id"], r["adc_dist"])
            for r in ivf_pq_topk(e, queries, cids, C, books, k=5, nprobe=3).collect()
        )

    # reference: encode the FULL corpus with the same frozen quantizers
    # (reuse the append kernel against a fresh copy of the index)
    path2 = str(tmp_path / "idx2")
    ivf_pq_save(path2, cids, C, books, enc_a.limit(0))
    full = ivf_pq_append(spark, path2, emb)
    assert rows(merged) == rows(full)
    # and the loaded metadata still round-trips after the append
    cids2, C2, books2, enc2 = ivf_pq_load(spark, path)
    assert enc2.count() == emb.count()


def test_ivf_pq_append_retry_is_idempotent(spark, sf_dir, tmp_path):
    """Crash recovery: an orchestrator retrying a crashed append
    re-appends rows for ids already committed — the __batch stamp +
    latest-wins read must collapse them to one row per id with
    identical query results (no duplicate neighbors, the ADVICE r6
    failure mode). Also covers legacy pre-__batch stores via the
    mergeSchema read."""
    from etl_pack_spark.operators.quantize import (
        ivf_pq_append,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_save,
        ivf_pq_topk,
    )
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    half_a = emb.where("vec_id % 2 = 0")
    half_b = emb.where("vec_id % 2 = 1")
    cids, C, books, enc_a = ivf_pq_index(half_a, dims, nlist=8, m=8, k=16)
    path = str(tmp_path / "idx")
    ivf_pq_save(path, cids, C, books, enc_a)
    once = ivf_pq_append(spark, path, half_b)
    n_once = once.count()
    rows_once = sorted(
        (r["q_id"], r["rk"], r["n_id"], r["adc_dist"])
        for r in ivf_pq_topk(
            once, emb.where("vec_id < 10"), cids, C, books, k=5, nprobe=3
        ).collect()
    )
    # the retry: same batch appended again (duplicate ids on disk)
    twice = ivf_pq_append(spark, path, half_b)
    assert twice.count() == n_once  # collapsed, not doubled
    rows_twice = sorted(
        (r["q_id"], r["rk"], r["n_id"], r["adc_dist"])
        for r in ivf_pq_topk(
            twice, emb.where("vec_id < 10"), cids, C, books, k=5, nprobe=3
        ).collect()
    )
    assert rows_once == rows_twice
    # legacy store: codes written WITHOUT __batch still load (batch -1)
    legacy = str(tmp_path / "legacy")
    ivf_pq_save(legacy, cids, C, books, enc_a)
    enc_a.write.mode("overwrite").parquet(f"{legacy}/codes")  # strip stamp
    _, _, _, enc_legacy = ivf_pq_load(spark, legacy)
    assert enc_legacy.count() == enc_a.count()
    assert sorted(enc_legacy.columns) == ["cid", "codes", "id"]


def test_ivf_pq_compact_shrinks_store_same_answers(spark, sf_dir, tmp_path):
    """r7: compaction resolves the codes store to one latest row per id
    (crash-safe swap) — physical rows shrink to live ids, query answers
    are identical, and a later append still works."""
    import glob
    import os

    from etl_pack_spark.operators.quantize import (
        ivf_pq_append,
        ivf_pq_compact,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_save,
        ivf_pq_topk,
    )
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    half_a = emb.where("vec_id % 2 = 0")
    half_b = emb.where("vec_id % 2 = 1")
    cids, C, books, enc_a = ivf_pq_index(half_a, dims, nlist=8, m=8, k=16)
    path = str(tmp_path / "idx")
    ivf_pq_save(path, cids, C, books, enc_a)
    ivf_pq_append(spark, path, half_b)
    ivf_pq_append(spark, path, half_b)  # retry: superseded rows on disk
    raw_before = spark.read.parquet(f"{path}/codes").count()
    assert raw_before == emb.count() + half_b.count()  # dead rows present

    queries = emb.where("vec_id < 10")

    def rows():
        _, _, _, enc = ivf_pq_load(spark, path)
        return sorted(
            (r["q_id"], r["rk"], r["n_id"], r["adc_dist"])
            for r in ivf_pq_topk(enc, queries, cids, C, books, k=5, nprobe=3).collect()
        )

    before = rows()
    n = ivf_pq_compact(spark, path)
    assert n == emb.count()
    assert spark.read.parquet(f"{path}/codes").count() == emb.count()
    assert rows() == before
    # no leftover hidden stage/backup dirs (compaction stages are
    # .sigstore_stage_codes_*, its backup .codes.bak)
    assert not [d for d in glob.glob(f"{path}/.*") if os.path.isdir(d)]
    # the compacted store still accepts appends (batch ids preserved)
    ivf_pq_append(spark, path, half_b)
    assert rows() == before


@pytest.fixture(scope="module")
def half_index(spark, emb):
    """An IVF-PQ index built on the even ``vec_id`` half of the corpus,
    shared by the codes-store lifecycle tests (each saves its own copy)."""
    from etl_pack_spark.operators.quantize import ivf_pq_index

    dims = len(emb.select("embedding").first()[0])
    return ivf_pq_index(emb.where("vec_id % 2 = 0"), dims, nlist=8, m=8, k=16)


def _codes_files(path):
    import glob

    return sorted(glob.glob(f"{path}/codes/*.parquet"))


def _codes_of(spark, path):
    from etl_pack_spark.operators.quantize import ivf_pq_load

    _, _, _, enc = ivf_pq_load(spark, path)
    return {r["id"]: (r["cid"], tuple(r["codes"])) for r in enc.collect()}


def _relabelled(emb, src_id, new_id):
    """Row ``src_id``'s vector under id ``new_id`` — an update of
    ``new_id`` whose expected codes are ``src_id``'s build-time codes."""
    return emb.where(F.col("vec_id") == src_id).withColumn(
        "vec_id", F.lit(new_id).cast("long")
    )


def test_ivf_pq_compact_takes_codes_lease(spark, emb, half_index, tmp_path):
    """Compaction holds the codes store's lease: while another writer
    holds it, ``ivf_pq_compact`` raises and the store's parquet files
    are untouched (an append landing between compaction's read and its
    swap would go to the backup dir the swap deletes)."""
    from etl_pack_spark.operators.quantize import (
        ivf_pq_append,
        ivf_pq_compact,
        ivf_pq_save,
    )
    from etl_pack_spark.streaming.incremental import _stamp_lease

    cids, C, books, enc_a = half_index
    path = str(tmp_path / "idx")
    ivf_pq_save(path, cids, C, books, enc_a)
    ivf_pq_append(spark, path, emb.where("vec_id % 2 = 1"))
    before = _codes_files(path)
    with _stamp_lease(spark, f"{path}/codes"):
        with pytest.raises(RuntimeError, match="ingest lease"):
            ivf_pq_compact(spark, path)
        assert _codes_files(path) == before
    assert ivf_pq_compact(spark, path) == emb.count()  # released


def test_ivf_pq_append_takes_codes_lease(spark, emb, half_index, tmp_path):
    """An append holds the codes store's lease, like every stamped-store
    writer: a second writer raises instead of racing the stamp sidecar."""
    from etl_pack_spark.operators.quantize import ivf_pq_append, ivf_pq_save
    from etl_pack_spark.streaming.incremental import _stamp_lease

    cids, C, books, enc_a = half_index
    path = str(tmp_path / "idx")
    ivf_pq_save(path, cids, C, books, enc_a)
    before = _codes_files(path)
    with _stamp_lease(spark, f"{path}/codes"):
        with pytest.raises(RuntimeError, match="ingest lease"):
            ivf_pq_append(spark, path, _relabelled(emb, 0, 1))
    assert _codes_files(path) == before


def test_ivf_pq_append_stamps_survive_clock_step_back(
    spark, emb, half_index, tmp_path, monkeypatch
):
    """An update appended after the clock stepped back still wins:
    stamps come from the store's monotone stamper, not the raw clock."""
    import time

    from etl_pack_spark.operators.quantize import ivf_pq_append, ivf_pq_save

    cids, C, books, enc_a = half_index
    path = str(tmp_path / "idx")
    ivf_pq_save(path, cids, C, books, enc_a)
    built = _codes_of(spark, path)
    ivf_pq_append(spark, path, emb.where(F.col("vec_id") == 1))
    first = _codes_of(spark, path)[1]
    # an even id whose build-time codes differ from id 1's
    src = next(i for i in sorted(built) if built[i] != first)
    real = time.time
    monkeypatch.setattr(time, "time", lambda: real() - 3600)
    ivf_pq_append(spark, path, _relabelled(emb, src, 1))
    assert _codes_of(spark, path)[1] == built[src]


def test_ivf_pq_compaction_floors_later_stamps(
    spark, emb, half_index, tmp_path
):
    """Rows a bare clock stamped AHEAD of today (no stamp sidecar, as
    appends made before the monotone stamper left them) set the
    compaction watermark; an append after the compaction must still
    land above it and win, not read as a second base row for its id."""
    import time

    from etl_pack_spark.operators.quantize import (
        ivf_pq_append,
        ivf_pq_compact,
        ivf_pq_load,
        ivf_pq_save,
    )

    cids, C, books, enc_a = half_index
    path = str(tmp_path / "idx")
    ivf_pq_save(path, cids, C, books, enc_a)
    built = _codes_of(spark, path)
    future = int(time.time() * 1000) + 24 * 3_600_000
    enc_a.where("id = 0").withColumn("id", F.lit(1).cast("long")).withColumn(
        "__batch", F.lit(future).cast("long")
    ).write.mode("append").parquet(f"{path}/codes")
    ivf_pq_compact(spark, path)
    src = next(i for i in sorted(built) if built[i] != built[0])
    ivf_pq_append(spark, path, _relabelled(emb, src, 1))
    _, _, _, enc = ivf_pq_load(spark, path)
    rows = enc.where("id = 1").collect()
    assert [(r["cid"], tuple(r["codes"])) for r in rows] == [built[src]]


def test_ivf_pq_save_is_staged_and_manifested(spark, sf_dir, tmp_path):
    """r8 (ADVICE low): ivf_pq_save publishes coarse/books/codes plus
    the params manifest via ONE staged/backup/rename swap — a re-save
    over an existing index can never leave mixed generations visible,
    and an interrupted swap recovers to the previous complete index."""
    import os

    from etl_pack_spark.operators.quantize import (
        IVF_PQ_MANIFEST,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_manifest,
        ivf_pq_save,
    )
    from etl_pack_spark.sinks.atomic import backup_path
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "idx")
    cids, C, books, enc = ivf_pq_index(emb, dims, nlist=8, m=8, k=16)
    ivf_pq_save(path, cids, C, books, enc)
    # everything landed in the published dir, nothing half-staged
    assert sorted(d for d in os.listdir(path) if not d.startswith(".")) == [
        IVF_PQ_MANIFEST, "books", "coarse", "codes",
    ]
    assert ivf_pq_manifest(spark, path) == {
        "nlist": 8, "m": 8, "pq_k": 16, "dims": dims,
    }
    n = ivf_pq_load(spark, path)[3].count()
    # interrupted RE-save: the old index survives as the backup and the
    # next load recovers it whole (no mixed-generation state possible)
    os.replace(path, backup_path(path))
    assert ivf_pq_load(spark, path)[3].count() == n
    assert ivf_pq_manifest(spark, path) is not None


def test_ann_topk_index_path_param_mismatch_raises(spark, sf_dir, tmp_path):
    """r8 (ADVICE low): ann_topk(index_path=) must refuse an index
    built under different nlist/m/pq_k instead of silently answering
    queries with mismatched state (covers legacy manifest-less indexes
    too — validation reads the loaded arrays' own shapes)."""
    import pytest as _pytest

    from etl_pack_spark.operators.quantize import (
        ivf_pq_index,
        ivf_pq_save,
        validate_ivf_pq_index,
    )
    from etl_pack_spark.operators.similarity import ann_topk
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings").withColumnRenamed(
        "vec_id", "id"
    )
    dims = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "idx")
    cids, C, books, enc = ivf_pq_index(
        emb, dims, nlist=8, m=8, k=16, id_col="id"
    )
    ivf_pq_save(path, cids, C, books, enc)
    queries = emb.where("id < 5")
    # matching params: loads and answers
    ok = ann_topk(
        emb, queries, k=3, id_col="id", method="ivf_pq",
        nlist=8, m=8, pq_k=16, nprobe=3, index_path=path,
    )
    assert ok.count() > 0
    # mismatched nlist: must raise, not answer
    with _pytest.raises(ValueError, match="does not match"):
        ann_topk(
            emb, queries, k=3, id_col="id", method="ivf_pq",
            nlist=16, m=8, pq_k=16, nprobe=3, index_path=path,
        )
    # mismatched m changes dims-per-subvector too — still loud
    with _pytest.raises(ValueError, match="nlist|m:"):
        validate_ivf_pq_index(
            (cids, C, books, enc), nlist=8, m=4, pq_k=16, dims=dims
        )


def test_validate_ivf_pq_index_cross_checks_manifest(spark, sf_dir, tmp_path):
    """r9 (ADVICE low): when a manifest is present, validation also
    cross-checks it against the LOADED arrays — a disagreement means
    the directory mixes pieces of two builds (coarse/books from one,
    manifest from another), which loads cleanly and answers silently
    wrong. Legacy manifest-less indexes keep validating from array
    shapes alone."""
    import json
    import os

    import pytest as _pytest

    from etl_pack_spark.operators.quantize import (
        IVF_PQ_MANIFEST,
        ivf_pq_index,
        ivf_pq_load,
        ivf_pq_save,
        validate_ivf_pq_index,
    )
    from etl_pack_spark.sources.reader import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    dims = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "idx")
    built = ivf_pq_index(emb, dims, nlist=8, m=8, k=16)
    ivf_pq_save(path, *built)
    loaded = ivf_pq_load(spark, path)
    # consistent manifest: passes with the cross-check engaged
    validate_ivf_pq_index(
        loaded, nlist=8, m=8, pq_k=16, dims=dims, path=path, spark=spark
    )
    # corrupt the manifest to claim a different build (through fsio —
    # the local Hadoop FS is checksummed, so a raw open() rewrite
    # would trip the crc, not the cross-check)
    from etl_pack_spark.sinks.fsio import write_text

    write_text(
        spark, os.path.join(path, IVF_PQ_MANIFEST),
        json.dumps({"nlist": 32, "m": 8, "pq_k": 16, "dims": dims}),
    )
    with _pytest.raises(ValueError, match="internally inconsistent"):
        validate_ivf_pq_index(
            loaded, nlist=8, m=8, pq_k=16, dims=dims, path=path, spark=spark
        )
    # manifest-less legacy index: array-shape validation only, no raise
    os.remove(os.path.join(path, IVF_PQ_MANIFEST))
    validate_ivf_pq_index(
        loaded, nlist=8, m=8, pq_k=16, dims=dims, path=path, spark=spark
    )
