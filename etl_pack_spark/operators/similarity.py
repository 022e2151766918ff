"""Similarity search over embedding columns (array<float>).

Brute-force cosine (all-pairs / top-k) is the exactness baseline,
executed as a DISTRIBUTED block matrix: vectors hash into fixed-size
blocks, block pairs fan out via equi-joins on block ids, and cogrouped
Arrow kernels score one block pair per task — no driver collect and no
corpus broadcast at any size. The LSH-bucketed and IVF variants are the
sub-quadratic scale paths (candidates from sign-pattern buckets /
inverted lists, exact re-rank inside).

Cross-engine determinism: dot products are strict LEFT FOLDS over the
element pairs (Spark ``aggregate``; DuckDB ``list_reduce``). Same
doubles added in the same order → bit-identical sums → similarity
values and rankings agree exactly between engine and oracle. Hyperplane
"randomness" for LSH is md5-derived, so buckets match cross-engine too.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pack_spark.operators import guards

HEX = "0123456789abcdef"


DIMS = 64  # fixture embedding dimensionality


_DOT_UDF = None


def _dot_udf(va, vb):
    """Lazy wrapper: pandas_udf return-type parsing needs an active
    SparkSession, so the UDF is built on first use, not at import.

    The impl is a NESTED function on purpose: cloudpickle serializes
    nested functions by value, so executors never need to import this
    package — the operator works from any session, not just ones
    created via ``get_spark`` (whose addPyFile ships the package).
    """
    global _DOT_UDF
    if _DOT_UDF is None:

        def dot_impl(va, vb):
            # STRICT LEFT-SUM semantics: np.cumsum(axis=1) is
            # sequential by definition, so its last column equals the
            # left-associative sum t1+t2+...+tn — the association the
            # DuckDB oracle's expanded ``+`` chain uses, hence
            # bit-identical doubles (np.dot/einsum use pairwise/SIMD
            # summation and would NOT match). float32→float64 casts are
            # exact. Why a pandas UDF at all: per-pair JVM expression
            # trees get pushed into non-equi join conditions and
            # re-evaluated per candidate row outside codegen;
            # Python-UDF predicates cannot be pushed into joins, so
            # this runs exactly once per pair, vectorized over Arrow.
            import numpy as np

            if len(va) == 0:
                return pd.Series([], dtype="float64")
            a = np.stack(va.to_numpy()).astype(np.float64)
            b = np.stack(vb.to_numpy()).astype(np.float64)
            return pd.Series(np.cumsum(a * b, axis=1)[:, -1])

        _DOT_UDF = F.pandas_udf(dot_impl, "double")
    return _DOT_UDF(va, vb)


def _dot_sql(a: str, b: str, dims: int = DIMS) -> str:
    """Oracle-side dot product: expanded left-assoc ``+`` chain —
    bit-identical to the cumsum left sum."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(1, dims + 1)
    )
    return f"({terms})"


def with_norm(df: DataFrame, vec: str = "embedding", out: str = "norm") -> DataFrame:
    return df.withColumn(out, F.sqrt(_dot_udf(F.col(vec), F.col(vec))))


# Rows per block of the distributed block matrix. 4096 × 64 dims × f64
# ≈ 2 MB per block matrix; a block-pair task computes a chunked
# 4096×4096 score tile. Replication factor per side = n/BLOCK_ROWS
# blocks, so shuffled volume is O(n²/BLOCK_ROWS) — the inherent
# communication of exact all-pairs, with NO driver-side collect at any
# corpus size (LSH/IVF remain the sub-quadratic scale paths).
BLOCK_ROWS = 4096


def _block_count(df: DataFrame, id_col: str) -> int:
    # one cheap distributed count over the pruned id column sizes the
    # block grid; nothing about the result depends on the block layout
    n = df.select(id_col).count()
    return max(1, -(-n // BLOCK_ROWS))


def _single_block(df: DataFrame, id_col: str, vec: str):
    """Small-corpus fast path: the whole corpus is ONE block
    (≤ BLOCK_ROWS rows ≈ 2 MB), so it may ride a broadcast variable and
    skip the cogroup shuffle entirely. Bounded by construction — this is
    never reached for corpora above BLOCK_ROWS."""
    import numpy as np

    pdf = df.select(id_col, vec).limit(BLOCK_ROWS + 1).toPandas()
    assert len(pdf) <= BLOCK_ROWS, "single-block path called for multi-block corpus"
    ids = pdf[id_col].to_numpy()
    mat = np.stack(pdf[vec].to_numpy()).astype(np.float64)
    norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
    return ids, mat, norms


def _make_tiled_dots():
    """Left-fold pairwise dot matrix, cache-tiled. NESTED impl so
    cloudpickle ships it by value into the kernels that close over it.

    Each out[i,j] accumulates as ``((a0*b0)+a1*b1)+...`` via rank-1
    updates — exactly the left-associative fold of the oracle's
    expanded ``+`` chain (and of np.cumsum's last column), so the
    doubles stay bit-identical to the naive form. Tiling keeps the
    accumulator tile (~0.5 MB) L2-resident across the d updates —
    ~3-4x over the chunked-cumsum tensor form, with no m×n×d
    intermediate at all."""

    def tiled_dots(A, B, mt: int = 256, nt: int = 256):
        import numpy as np

        m, d = A.shape
        n = B.shape[0]
        out = np.empty((m, n))
        for i in range(0, m, mt):
            Ai = A[i : i + mt]
            for j in range(0, n, nt):
                Bj = B[j : j + nt]
                acc = np.multiply.outer(Ai[:, 0], Bj[:, 0])
                for kk in range(1, d):
                    acc += Ai[:, kk, None] * Bj[None, :, kk]
                out[i : i + mt, j : j + nt] = acc
        return out

    return tiled_dots


def _pair_kernel(threshold: float | None):
    """Block-pair scorer for cogrouped applyInPandas. NESTED impl so
    cloudpickle ships it by value (executors need not import this
    package). Per-pair dots are strict left folds (see
    :func:`_make_tiled_dots`) — bit-identical to the oracle's expanded
    ``+`` chains regardless of blocking."""
    tiled_dots = _make_tiled_dots()

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cos_sim": pd.Series(dtype="float64")})
        if len(left) == 0 or len(right) == 0:
            return empty
        same_block = left["bi"].iat[0] == left["bj"].iat[0]
        ids_a = left["id"].to_numpy()
        A = np.stack(left["v"].to_numpy()).astype(np.float64)
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        if same_block:
            ids_b, B, nb = ids_a, A, na
        else:
            ids_b = right["id"].to_numpy()
            B = np.stack(right["v"].to_numpy()).astype(np.float64)
            nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        out_a, out_b, out_c = [], [], []
        # chunk the A rows so the m_chunk×n score tile stays ~32 MB
        step = max(1, (32 << 20) // max(1, B.shape[0] * 8))
        for s in range(0, len(ids_a), step):
            chunk = A[s : s + step]
            dots = tiled_dots(chunk, B)
            cos = dots / (na[s : s + step, None] * nb[None, :])
            keep = cos >= threshold
            if same_block:
                # identical row sets: emit each unordered pair once
                keep &= ids_b[None, :] > ids_a[s : s + step, None]
            ia, ib = np.nonzero(keep)
            xa, xb = ids_a[s + ia], ids_b[ib]
            lo, hi = np.minimum(xa, xb), np.maximum(xa, xb)
            out_a.extend(lo.tolist())
            out_b.extend(hi.tolist())
            out_c.extend(cos[ia, ib].tolist())
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_c})

    return kernel


def cosine_neardup_pairs(
    df: DataFrame, id_col: str = "vec_id", vec: str = "embedding", threshold: float = 0.95
) -> DataFrame:
    """All-pairs cosine near-duplicates (id_a < id_b, cos ≥ threshold).

    Quadratic baseline, executed as a DISTRIBUTED block matrix: vectors
    hash into n/BLOCK_ROWS blocks, the upper-triangular block-pair grid
    fans out via an equi-join on block ids, and each cogroup task scores
    one block pair with the chunked-cumsum kernel. No driver collect,
    no broadcast of the corpus — memory per task is two blocks. Each
    unordered pair lands in exactly one block-pair group, so no
    distinct pass is needed. At scale use :func:`lsh_neardup_pairs`.
    """
    spark = df.sparkSession
    nblocks = _block_count(df, id_col)
    if nblocks == 1:
        from etl_pack_spark.operators.partitioning import spread_small_scan

        bc = spark.sparkContext.broadcast(_single_block(df, id_col, vec))
        tiled_dots = _make_tiled_dots()

        def block(batches):
            import numpy as np

            ids, mat, norms = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
                    continue
                rids = pdf[id_col].to_numpy()
                B = np.stack(pdf[vec].to_numpy()).astype(np.float64)
                nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
                out_a, out_b, out_c = [], [], []
                step = max(1, (32 << 20) // max(1, mat.shape[0] * 8))
                for s in range(0, len(rids), step):
                    chunk = B[s : s + step]
                    dots = tiled_dots(chunk, mat)
                    cos = dots / (nb[s : s + step, None] * norms[None, :])
                    ia, ib = np.nonzero(
                        (ids[None, :] > rids[s : s + step, None]) & (cos >= threshold)
                    )
                    out_a.extend(rids[s + ia].tolist())
                    out_b.extend(ids[ib].tolist())
                    out_c.extend(cos[ia, ib].tolist())
                yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_c})

        # conditional spread (r15): the streamed side carries the whole
        # (single-block) corpus through a CPU-quadratic kernel — a
        # single-file scan would run all n²/2 pair scores in ONE task.
        # Per-row output is partitioning-independent (each streamed row
        # is scored against the static broadcast block, pairs emitted
        # only where broadcast id > row id), so the spread cannot
        # change the result set; many-split scans are untouched.
        return spread_small_scan(df.select(id_col, vec), id_col).mapInPandas(
            block, schema="id_a long, id_b long, cos_sim double"
        )

    grid_rows = [(i, j) for i in range(nblocks) for j in range(i, nblocks)]

    def side(grid_col: str) -> DataFrame:
        # built from scratch per side: fresh select/createDataFrame give
        # fresh attribute ids, so the cogroup's two plans share nothing
        # and the analyzer never sees an ambiguous self-join column
        base = df.select(
            F.col(id_col).alias("id"), F.col(vec).alias("v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(nblocks)).cast("int").alias("b"),
        )
        # bounded by construction: grid = the block-pair list,
        # O((n/BLOCK_ROWS)²) tiny int rows
        grid = spark.createDataFrame(grid_rows, "bi int, bj int")
        return base.join(F.broadcast(grid), base["b"] == grid[grid_col]).drop("b")

    left, right = side("bi"), side("bj")
    return (
        left.groupby("bi", "bj")
        .cogroup(right.groupby("bi", "bj"))
        .applyInPandas(_pair_kernel(threshold), schema="id_a long, id_b long, cos_sim double")
    )


def cosine_neardup_pairs_sql(
    table: str, id_col: str = "vec_id", vec: str = "embedding", threshold: float = 0.95
) -> str:
    return f"""
    WITH n AS (
        SELECT {id_col}, {vec} AS v, sqrt({_dot_sql(vec, vec)}) AS nrm FROM {table}
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           {_dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos_sim
    FROM n a JOIN n b ON a.{id_col} < b.{id_col}
    WHERE {_dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm) >= {threshold}
    """


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector, as a distributed block
    matrix: the corpus hashes into blocks, queries fan out to every
    block (equi-join on block id), each cogroup task emits its block's
    per-query top-k, and a final window merges the ≤ k·n_blocks partial
    candidates per query. The global top-k is a subset of the per-block
    top-ks, so the merge is exact; ranking is (cos DESC, id ASC) in
    both stages — identical tie-break to the oracle's ROW_NUMBER. No
    driver collect, no corpus broadcast, at any corpus size."""
    spark = df.sparkSession
    nblocks = _block_count(df, id_col)
    if nblocks == 1:
        bc = spark.sparkContext.broadcast(_single_block(df, id_col, vec))
        tiled_dots = _make_tiled_dots()

        def block(batches):
            import numpy as np

            ids, mat, norms = bc.value
            for pdf in batches:
                rows = []
                if len(pdf) == 0:
                    yield pd.DataFrame(rows, columns=["q_id", "n_id", "cos_sim", "rk"])
                    continue
                qids = pdf[id_col].to_numpy()
                Q = np.stack(pdf[vec].to_numpy()).astype(np.float64)
                qn = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
                step = max(1, (32 << 20) // max(1, mat.shape[0] * 8))
                for s in range(0, len(qids), step):
                    chunk = Q[s : s + step]
                    dots = tiled_dots(chunk, mat)
                    cos = dots / (qn[s : s + step, None] * norms[None, :])
                    for qi in range(chunk.shape[0]):
                        qid = qids[s + qi]
                        mask = ids != qid
                        cids, ccos = ids[mask], cos[qi][mask]
                        order = np.lexsort((cids, -ccos))[:k]
                        for rk, j in enumerate(order, start=1):
                            rows.append((qid, int(cids[j]), float(ccos[j]), rk))
                yield pd.DataFrame(rows, columns=["q_id", "n_id", "cos_sim", "rk"])

        return queries.select(id_col, vec).repartition(F.col(id_col)).mapInPandas(
            block, schema="q_id long, n_id long, cos_sim double, rk int"
        )

    corpus = df.select(
        F.col(id_col).alias("id"), F.col(vec).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nblocks)).cast("int").alias("b"),
    )
    blocks = spark.createDataFrame([(i,) for i in range(nblocks)], "b int")
    qrep = queries.select(
        F.col(id_col).alias("qid"), F.col(vec).alias("qv")
        # bounded by construction: blocks = nblocks int rows; the query
        # side itself is a query BATCH (bounded by the caller contract,
        # same posture as quantize.MAX_QUERY_VECTORS)
    ).crossJoin(F.broadcast(blocks))

    tiled_dots = _make_tiled_dots()

    def kernel(qs: pd.DataFrame, cb: pd.DataFrame) -> pd.DataFrame:
        # NESTED for by-value pickling; same tiled left-fold dots
        import numpy as np

        cols = ["q_id", "n_id", "cos_sim"]
        if len(qs) == 0 or len(cb) == 0:
            return pd.DataFrame({c: pd.Series(dtype=t) for c, t in
                                 zip(cols, ["int64", "int64", "float64"])})
        qids = qs["qid"].to_numpy()
        Q = np.stack(qs["qv"].to_numpy()).astype(np.float64)
        qn = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
        ids = cb["id"].to_numpy()
        mat = np.stack(cb["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        rows = []
        step = max(1, (32 << 20) // max(1, mat.shape[0] * 8))
        for s in range(0, len(qids), step):
            chunk = Q[s : s + step]
            dots = tiled_dots(chunk, mat)
            cos = dots / (qn[s : s + step, None] * norms[None, :])
            for qi in range(chunk.shape[0]):
                qid = qids[s + qi]
                mask = ids != qid
                cids, ccos = ids[mask], cos[qi][mask]
                order = np.lexsort((cids, -ccos))[:k]
                rows.extend((qid, int(cids[j]), float(ccos[j])) for j in order)
        return pd.DataFrame(rows, columns=cols)

    partial = (
        qrep.groupby("b")
        .cogroup(corpus.groupby("b"))
        .applyInPandas(kernel, schema="q_id long, n_id long, cos_sim double")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return partial.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def cosine_topk_sql(
    table: str,
    query_pred: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    return f"""
    WITH n AS (
        SELECT {id_col}, {vec} AS v, sqrt({_dot_sql(vec, vec)}) AS nrm FROM {table}
    ),
    scored AS (
        SELECT q.{id_col} AS q_id, c.{id_col} AS n_id,
               {_dot_sql('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos_sim
        FROM n q JOIN n c ON q.{id_col} != c.{id_col}
        WHERE q.{query_pred}
    )
    SELECT q_id, n_id, cos_sim, rk FROM (
        SELECT q_id, n_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
        FROM scored
    ) WHERE rk <= {k}
    """


# ---------------------------------------------------------------------------
# IVF-flat ANN (the other scale path): coarse quantizer + nprobe search
# ---------------------------------------------------------------------------

def _coarse_sample(base: DataFrame, nlist: int, id_col: str) -> DataFrame:
    """The deterministic coarse-quantizer sample shared by the IVF
    family (here, ``assign_centroids`` and ``quantize.ivf_pq_index``):
    the ``nlist`` rows with the lowest ``md5(id)`` hex, id tie-break.
    Append-stable, id-space-AGNOSTIC (snowflake/offset ids work, not
    just dense 0-based — the r5 ``id < nlist`` convention silently
    required the latter and crashed on anything else), and expressible
    identically in the DuckDB oracle (``ORDER BY md5(CAST(id AS
    VARCHAR)), id LIMIT nlist``), so every downstream op stays
    hash-checkable. nlist rows through TakeOrderedAndProject — no
    global sort materializes."""
    return base.orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    ).limit(nlist)


def _coarse_sql(id_col: str, nlist: int) -> str:
    """The oracle-side ORDER BY/LIMIT twin of :func:`_coarse_sample`
    (appended to a SELECT over the normed CTE)."""
    return f"ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {nlist}"


def _collect_centroids(
    df: DataFrame, nlist: int, id_col: str, vec: str
) -> pd.DataFrame:
    """The coarse-quantizer sample as a DRIVER-side pandas frame
    ``(cid, cv, cn)`` sorted by cid ascending — nlist rows of
    kilobytes (the bounded-collect posture of
    ``quantize.ivf_pq_index``). Norm is computed on the nlist
    survivors only, as the same ``sqrt(left-fold dot)`` the JVM
    expression produced (np.cumsum's last column == the
    left-associative chain; np.sqrt and SQRT are the identical
    correctly-rounded IEEE754 op)."""
    import numpy as np

    pdf = (
        _coarse_sample(df.select(id_col, vec), nlist, id_col)
        .toPandas()
        .rename(columns={id_col: "cid", vec: "cv"})
        .sort_values("cid", ignore_index=True)
    )
    if len(pdf):
        C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
        pdf["cn"] = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
    else:
        pdf["cn"] = pd.Series([], dtype="float64")
    return pdf


def _assign_kernel(cent: pd.DataFrame, id_col: str, vec: str, out_cols):
    """Map-only nearest-centroid assignment kernel shared by
    :func:`ivf_topk` and :func:`assign_centroids` (r15): replaces the
    corpus ×nlist ArrowEvalPython cross + struct-max SortAggregate +
    exchange with ONE ``mapInPandas`` pass. Bit-exactness: c_sim per
    (row, centroid) is the same left-fold dot over the same float64
    products divided by the same norms, and ``np.argmax`` over
    centroids sorted by cid ascending picks the FIRST maximum — the
    exact (c_sim DESC, cid ASC) tie-break of the struct max (including
    NaN handling: numpy's argmax is sticky on the first NaN, and
    Spark's struct max orders NaN above every double, so both resolve
    to the lowest-cid NaN entry). ``out_cols`` names the four output
    columns ``(id, cid, vec, norm)``. Nested fn: cloudpickle ships it
    by value."""
    import numpy as np

    cids = cent["cid"].to_numpy()
    C = (
        np.stack(cent["cv"].to_numpy()).astype(np.float64)
        if len(cent) else np.empty((0, 0))
    )
    cn = cent["cn"].to_numpy().astype(np.float64)
    c_id, c_cid, c_vec, c_nrm = out_cols

    def assign(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0 or len(cids) == 0:
                yield pd.DataFrame(
                    {c_id: [], c_cid: [], c_vec: [], c_nrm: []}
                )
                continue
            V = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            nrm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            sims = np.empty((len(V), len(cids)))
            for j in range(len(cids)):
                sims[:, j] = (
                    np.cumsum(V * C[j][None, :], axis=1)[:, -1] / (nrm * cn[j])
                )
            best = sims.argmax(axis=1)
            yield pd.DataFrame({
                c_id: pdf[id_col].to_numpy(),
                c_cid: cids[best],
                c_vec: pdf[vec],
                c_nrm: nrm,
            })

    return assign


def ivf_topk(
    df: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    query_max_id: int = 50,
    id_col: str = "vec_id",
    vec: str = "embedding",
    queries: DataFrame | None = None,
    coarse_pdf: pd.DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: a coarse quantizer partitions the
    corpus into ``nlist`` inverted lists; each query exactly re-ranks
    only the ``nprobe`` lists whose centroids are nearest. The coarse
    centroids here are a deterministic sample (:func:`_coarse_sample`:
    the ``nlist`` rows with the lowest ``md5(id)``) rather than
    Lloyd-iterated means, which keeps the whole operator expressible
    in plain SQL — so the oracle hash-checks it bit-exactly (the
    KMeans-trained variant is ``cluster_embeddings``) — and works on
    ANY id space, dense or sparse.

    Scale shape: assignment is a broadcast of ``nlist`` centroids
    against the corpus, reduced by a map-side-combinable struct-max
    (one row per vector leaves each task — no window shuffle of the
    16× crossed rows). Probing broadcasts the (tiny) query-probe list,
    so candidate generation is a map-only join; only the final
    per-query top-k windows over candidates. Probed fraction
    ≈ nprobe/nlist of the corpus per query vs 100% for brute force.
    """
    # conditional spread (r15): a single-file fixture corpus scans as
    # ONE task, serializing the assignment kernel and the ADC/scoring
    # joins that inherit its partitioning; production many-split scans
    # are untouched
    from etl_pack_spark.operators.partitioning import spread_small_scan

    src = df
    # ``assigned`` (r16, round-15 VERDICT #3): a caller composing the
    # flat and PQ tiers over the SAME corpus passes ONE fused
    # assign+encode pass (quantize.ivf_assign_encode) projected to
    # ``(n_id, cid, nv, nn)`` — the fused kernel wraps _assign_kernel
    # verbatim, so the assignment is bit-identical; only the corpus
    # pass count changes. Requires ``coarse_pdf`` (the probes side
    # must score against the SAME centroids the assignment used).
    if assigned is not None:
        if coarse_pdf is None:
            raise ValueError(
                "ivf_topk(assigned=...) needs the matching coarse_pdf — "
                "probes must rank the same centroids the assignment used"
            )
        missing = {"n_id", "cid", "nv", "nn"} - set(assigned.columns)
        if missing:
            raise ValueError(
                f"assigned frame is missing columns {sorted(missing)} "
                "(expected the ivf_assign_encode projection n_id/cid/nv/nn)"
            )
        df = src  # no spread: the fused pass owns the corpus layout
    else:
        df = spread_small_scan(df, id_col)
    # centroids collected driver-side (r15): nlist rows of kilobytes —
    # the same bounded posture as quantize.ivf_pq_index. Collecting
    # them once (a) computes the corpus-wide TakeOrdered sample ONCE
    # instead of once per broadcast consumer, and (b) lets the
    # assignment run as a map-only kernel below. Norm is computed
    # AFTER the nlist-row limit (it used to be a full-corpus
    # ArrowEvalPython pass per centroid consumer). ``coarse_pdf``
    # (r15): a caller composing several IVF-family operators over the
    # SAME corpus (e.g. the ann_ivf_topk suite slot pairing this with
    # quantize.ivf_pq_index) passes one shared ``_collect_centroids``
    # result so the corpus-wide TakeOrdered sample pass runs once per
    # QUERY, not once per operator. The sample is a deterministic total
    # order (md5, id), so sharing cannot change any value.
    cent_pdf = (
        coarse_pdf if coarse_pdf is not None
        else _collect_centroids(df, nlist, id_col, vec)
    )
    cent = df.sparkSession.createDataFrame(
        cent_pdf,
        schema=f"cid {dict(df.dtypes)[id_col]}, cv {dict(df.dtypes)[vec]}, "
               f"cn double",
    )
    c_sim = _dot_udf(F.col(vec), F.col("cv")) / (F.col("norm") * F.col("cn"))
    # nearest-centroid assignment as ONE map-only kernel (r15): the
    # previous plan crossed the corpus ×nlist through ArrowEvalPython,
    # then reduced with a struct-max that plans as SortAggregate (a
    # struct agg buffer is not hash-aggregable) — a per-partition sort
    # of nlist× the corpus plus an exchange. The kernel computes the
    # same left-fold c_sims and the same (c_sim DESC, cid ASC) argmax
    # per row and emits one row per vector with NO shuffle at all.
    if assigned is None:
        assigned = df.select(F.col(id_col), F.col(vec)).mapInPandas(
            _assign_kernel(cent_pdf, id_col, vec, ("n_id", "cid", "nv", "nn")),
            schema=f"n_id {dict(df.dtypes)[id_col]}, "
                   f"cid {dict(df.dtypes)[id_col]}, "
                   f"nv {dict(df.dtypes)[vec]}, nn double",
        )
    # query rows: an explicit id frame (broadcast semi-join — queries
    # are corpus members) or the default ids-below-threshold framing.
    # The query restriction is applied to the UNSPREAD source frame
    # BEFORE the norm/centroid-similarity projections (r15 session 4):
    # the previous shape filtered/semi-joined a corpus-wide
    # ``crossed`` frame (norm UDF + ×nlist broadcast cross) and relied
    # on Catalyst pushing the restriction below both ArrowEvalPython
    # nodes — guaranteed by construction now, for the semi-join path
    # too, so the bounded query side can never drag a full-corpus
    # Python pass or the fixture spread exchange. Values are identical:
    # per-row projections commute with row selection on id_col.
    if queries is not None:
        # bounded by caller contract: a query BATCH id set (same
        # posture as quantize.MAX_QUERY_VECTORS on the PQ paths)
        q_src = src.join(
            F.broadcast(queries.select(id_col)), id_col, "left_semi"
        )
    else:
        q_src = src.where(F.col(id_col) < query_max_id)
    q_rows = with_norm(q_src, vec).crossJoin(F.broadcast(cent)).select(
        F.col(id_col), F.col(vec), F.col("norm"), F.col("cid"),
        c_sim.alias("c_sim"),
    )
    w_probe = Window.partitionBy("q_id").orderBy(F.desc("c_sim"), F.asc("cid"))
    probes = (
        q_rows
        .select(
            F.col(id_col).alias("q_id"), F.col(vec).alias("qv"),
            F.col("norm").alias("qn"), "cid", "c_sim",
        )
        .withColumn("rk", F.row_number().over(w_probe))
        .where(F.col("rk") <= nprobe)
        .drop("rk", "c_sim")
    )
    cos = _dot_udf(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    scored = (
        # bounded: probes = query batch × nprobe rows
        assigned.join(F.broadcast(probes), "cid")
        .where(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", cos.alias("cos_sim"))
    )
    w_k = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w_k))
        .where(F.col("rk") <= k)
    )


def ivf_topk_sql(
    table: str,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    query_max_id: int = 50,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle twin of :func:`ivf_topk` — same md5-sampled centroids,
    same argmin assignment, same nprobe lists, left-fold dot products."""
    return f"""
    WITH n AS (
        SELECT {id_col}, {vec} AS v, sqrt({_dot_sql(vec, vec)}) AS nrm FROM {table}
    ),
    cent AS (
        SELECT {id_col} AS cid, v AS cv, nrm AS cn FROM n
        {_coarse_sql(id_col, nlist)}
    ),
    crossed AS (
        SELECT n.{id_col} AS vid, n.v, n.nrm, cent.cid,
               {_dot_sql('n.v', 'cent.cv')} / (n.nrm * cent.cn) AS c_sim
        FROM n CROSS JOIN cent
    ),
    assigned AS (
        SELECT vid AS n_id, cid, v AS nv, nrm AS nn FROM (
            SELECT vid, cid, v, nrm,
                   ROW_NUMBER() OVER (PARTITION BY vid ORDER BY c_sim DESC, cid) AS rk
            FROM crossed
        ) WHERE rk = 1
    ),
    probes AS (
        SELECT vid AS q_id, cid, v AS qv, nrm AS qn FROM (
            SELECT vid, cid, v, nrm,
                   ROW_NUMBER() OVER (PARTITION BY vid ORDER BY c_sim DESC, cid) AS rk
            FROM crossed WHERE vid < {query_max_id}
        ) WHERE rk <= {nprobe}
    ),
    scored AS (
        SELECT p.q_id, a.n_id,
               {_dot_sql('p.qv', 'a.nv')} / (p.qn * a.nn) AS cos_sim
        FROM probes p JOIN assigned a USING (cid)
        WHERE a.n_id != p.q_id
    )
    SELECT q_id, n_id, cos_sim, rk FROM (
        SELECT q_id, n_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rk
        FROM scored
    ) WHERE rk <= {k}
    """


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path): md5-derived random hyperplanes
# ---------------------------------------------------------------------------

def _hyperplane_expr(plane: int, dim: int) -> str:
    """Deterministic pseudo-random hyperplane coefficient in [-0.5, 0.5):
    first 4 hex chars of md5('plane:dim') scaled. Cheap, seedless,
    identical on any engine with md5. This SQL form is what the DuckDB
    oracle twins interpolate; the Spark side uses
    :func:`_hyperplane_coeff`, the same value pre-computed driver-side."""
    return (
        f"(CAST(instr('{HEX}', substr(md5('{plane}:{dim}'), 1, 1)) - 1 AS DOUBLE) * 4096.0"
        f" + CAST(instr('{HEX}', substr(md5('{plane}:{dim}'), 2, 1)) - 1 AS DOUBLE) * 256.0"
        f" + CAST(instr('{HEX}', substr(md5('{plane}:{dim}'), 3, 1)) - 1 AS DOUBLE) * 16.0"
        f" + CAST(instr('{HEX}', substr(md5('{plane}:{dim}'), 4, 1)) - 1 AS DOUBLE)"
        f") / 65536.0 - 0.5"
    )


def _hyperplane_coeff(plane: int, dim: int) -> float:
    """Driver-side twin of :func:`_hyperplane_expr` — bit-identical by
    construction: the first 4 md5 hex chars are an integer < 2^16
    (exact in a double), /65536.0 is a power-of-two scale and -0.5 a
    dyadic shift, so every step is exact IEEE754 in both engines."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return int(h[:4], 16) / 65536.0 - 0.5


def lsh_bucket_key(vec: str, dims: int, planes: int = 8, plane_offset: int = 0) -> F.Column:
    """Sign pattern of ``planes`` hyperplane projections → bucket key
    string like '10110010'.

    The coefficients are LITERALS (r15): the md5-derived constants were
    previously emitted as ~30-op SQL subtrees (4 md5 calls + instr/
    substr chains each), so a planes=4 × dims=64 × tables=6 keying was
    a ~46k-node expression tree — janino failed to compile the
    generated code (64 KB method limit), whole-stage codegen fell back
    to INTERPRETED projection, and task binaries hit 5 MiB: the
    ann_lsh_neardup registry query measured 265 s at sf0.1. Folding
    each coefficient to its (bit-identical) literal keeps the same
    left-associative ``+`` chain — term order and association are
    unchanged, so projections, signs, buckets and the oracle hash are
    unchanged. (:func:`lsh_neardup_pairs` goes further and computes
    every table's key in one vectorized kernel — see
    :func:`_lsh_keys_udf`; this Column form remains for single-key
    callers.)"""
    bits = []
    for p in range(plane_offset, plane_offset + planes):
        col = None
        for d in range(dims):
            term = F.element_at(F.expr(vec), d + 1).cast("double") * F.lit(
                _hyperplane_coeff(p, d)
            )
            col = term if col is None else col + term
        bits.append(F.when(col >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _lsh_keys_udf(dims: int, planes: int, tables: int):
    """ALL ``tables`` bucket keys in one vectorized kernel (r15):
    even with literal coefficients (see :func:`lsh_bucket_key`) the
    24-plane × 64-dim keying is a ~1.5k-term expression tree whose
    codegen still tripped janino on the banded self-join's duplicated
    subtrees, and whose Catalyst analysis alone cost seconds per
    action. One pandas UDF evaluates the whole (planes × tables) × dims
    coefficient matrix per Arrow batch instead.

    Bit-exactness: the JVM expression was the left-associative chain
    ``t_0 + t_1 + ... + t_{dims-1}`` of ``double(v[d]) * coeff`` terms;
    ``np.cumsum`` is sequential by definition, so its last column is
    the same left-fold over the same float64 products — projections,
    signs and bucket strings are bit-identical to both the old plan and
    the DuckDB oracle's expanded ``+`` chains (the same argument as
    ``dot_impl``). Nested function: cloudpickle ships it by value, no
    executor-side package import needed."""
    coeffs = [
        [_hyperplane_coeff(p, d) for d in range(dims)]
        for p in range(planes * tables)
    ]

    def keys_impl(vs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vs.to_numpy()).astype(np.float64)       # (n, dims)
        C = np.asarray(coeffs)                               # (P, dims)
        n = len(V)
        proj = np.empty((n, len(C)))
        for p in range(len(C)):
            # strict left-fold: cumsum's last column == t0+t1+...+tn-1
            proj[:, p] = np.cumsum(V * C[p][None, :], axis=1)[:, -1]
        bits = np.where(proj >= 0, "1", "0")
        return pd.Series(
            [
                ["".join(row[t * planes:(t + 1) * planes])
                 for t in range(tables)]
                for row in bits
            ]
        )

    # asNondeterministic (guide §4.4): posexplode's implicit
    # size>0/isnotnull filter was pushed below the key projection and
    # DUPLICATED the kernel — the executed plan evaluated keys_impl
    # twice per row (plans/r15/ann_lsh_neardup_after.txt pre-fix).
    # The function is in fact deterministic; the marker only stops the
    # optimizer cloning it. (The filter never drops rows anyway — the
    # kernel always returns a tables-length array.)
    return F.pandas_udf(keys_impl, "array<string>").asNondeterministic()


# Rows per LSH re-rank tile (r16, round-15 VERDICT #3/#5): a bucket
# larger than this is split into hash-chunks and its chunk-PAIR grid
# fans out across tasks (the cosine_neardup_pairs block pattern) —
# EXACT output, bounded per-task work (≤ TILE² scores ≈ a 4096² tile,
# the same bound as BLOCK_ROWS). The minhash/simhash banded joins cap
# hot buckets (a recall trade mirrored in their oracles); the LSH
# registry slot pins UNCAPPED semantics, so the guard here must keep
# every pair — tiling does, a cap would not. Matches DEFAULT_MAX_BUCKET
# = BLOCK_ROWS so one number means "bucket too big for one task"
# engine-wide.
LSH_BUCKET_TILE_ROWS = 4096


def lsh_neardup_pairs(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec: str = "embedding",
    planes: int = 4,
    tables: int = 4,
    threshold: float = 0.95,
) -> DataFrame:
    """ANN near-dup: OR-amplified hyperplane LSH — ``tables``
    independent sign-pattern buckets (recall ≈ 1-(1-p^planes)^tables),
    exact cosine re-rank only within buckets. Recall < 1 by design
    (scale path); the brute-force query is the exactness baseline.

    At scale: candidate scoring is confined WITHIN buckets and each
    bucket is scored by ONE task as a matrix kernel — the semantic_dedup
    shape: every vector ships once per bucket membership, never once
    per candidate pair.

    r15 restructure (two steps, result-identical):

    * All ``tables`` keys come from one vectorized kernel
      (:func:`_lsh_keys_udf`) instead of ``tables × planes`` giant JVM
      expression trees — the md5-derived-coefficient expressions made
      the generated code exceed janino's method limit, so the whole
      projection ran INTERPRETED (265 s at sf0.1 for this query).
      ``posexplode`` over the key array keeps ``tbl`` numbering
      identical to the old per-table columns.
    * The within-bucket re-rank is a per-bucket ``applyInPandas``
      kernel (strict left-fold dots via ``_make_tiled_dots`` +
      ``np.sqrt`` norms — the same correctly-rounded IEEE754 ops the
      JVM expressions computed, so cos values are bit-identical and
      the oracle hash is unchanged). The previous bucket self-join
      shipped ``(va, vb)`` per PAIR through the Arrow boundary —
      ~2.4 GB for sf0.1's ~4.7M candidates (4.5-6 s no matter how the
      probe side was partitioned); the kernel ships each bucket's
      vectors once (~9 MB).

    Hot-bucket tiling (r16, round-15 VERDICT #5): a bucket of b members
    is O(b²) score work in ONE task — at 100 TB a near-identical
    content flood makes one task run for hours. The registry pins
    UNCAPPED pair semantics, so the guard is TILING, not a cap: one
    bounded metadata aggregate (keys only — no vectors shuffle for the
    probe) finds buckets over ``LSH_BUCKET_TILE_ROWS``; when none exist
    (every healthy corpus) the plan is EXACTLY the r15 single-kernel
    shape; when they do, members hash into ceil(b/TILE) chunks and the
    chunk-pair grid fans the bucket across tasks (the
    cosine_neardup_pairs block pattern — each unordered pair lands in
    exactly one chunk-pair group, per-pair arithmetic unchanged, so
    the output is bit-identical)."""
    import numpy as np

    from etl_pack_spark.operators.cache import pooled_persist

    banded = df.select(
        F.col(id_col), F.col(vec),
        _lsh_keys_udf(dims, planes, tables)(F.col(vec)).alias("__bks"),
    ).select(
        F.col(id_col), F.col(vec),
        F.posexplode("__bks").alias("tbl", "bucket"),
    )
    id_type = dict(df.dtypes)[id_col]
    tiled_dots = _make_tiled_dots()

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        M = np.stack(pdf[vec].to_numpy()).astype(np.float64)
        nrm = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        out_a, out_b, out_c = [], [], []
        step = max(1, (32 << 20) // max(1, n * 8))
        for s in range(0, n, step):
            chunk = M[s : s + step]
            cos = tiled_dots(chunk, M) / (nrm[s : s + step, None] * nrm[None, :])
            # ascending-id order → id_a < id_b is the strict upper
            # triangle of the score tile
            upper = np.arange(n)[None, :] > (s + np.arange(chunk.shape[0]))[:, None]
            # Spark orders NaN ABOVE every double, so the old JVM
            # predicate `cos_sim >= threshold` kept 0/0-norm pairs;
            # numpy's NaN >= t is False — add isnan to stay identical
            ii, jj = np.nonzero(((cos >= threshold) | np.isnan(cos)) & upper)
            out_a.append(ids[s + ii])
            out_b.append(ids[jj])
            out_c.append(cos[ii, jj])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cos_sim": np.concatenate(out_c),
        })

    schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"
    # adaptive hot-bucket probe (the _drop_hot_buckets posture): the
    # aggregate shuffles (tbl, bucket, count) partials only — the probe
    # never moves vectors — and the overfull frame is tiny by
    # construction (heavy hitters are few). The extra keys pass is the
    # bounded price of not stalling a task for hours on a flooded
    # bucket; the kernel exchange below still ships each vector once
    # per bucket membership either way.
    over = pooled_persist(
        banded.groupBy("tbl", "bucket").count()
        .where(F.col("count") > LSH_BUCKET_TILE_ROWS)
    )
    if guards.bounded_count(over, 0) == 0:
        return (
            banded.groupBy("tbl", "bucket")
            .applyInPandas(bucket_pairs, schema=schema)
            .distinct()
        )
    # tiled path: ONLY overfull buckets fan out (cold buckets keep
    # nchunks=1 → one group per bucket, the kernel's same-chunk branch
    # IS the untiled kernel). A member of chunk ci is replicated to the
    # nchunks groups (min(ci,x), max(ci,x)) — each unordered pair
    # meets in exactly one group, so no pair is scored twice within a
    # bucket and none is missed; replication factor is nchunks only
    # where the bucket flooded.
    hot = over.select(
        "tbl", "bucket",
        F.ceil(F.col("count") / F.lit(LSH_BUCKET_TILE_ROWS))
        .cast("int").alias("__nc"),
    )
    marked = banded.join(F.broadcast(hot), ["tbl", "bucket"], "left") \
        .withColumn("__nc", F.coalesce(F.col("__nc"), F.lit(1))) \
        .withColumn(
            "__ci",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__nc")).cast("int"),
        )
    replicated = marked.select(
        F.col(id_col), F.col(vec), F.col("tbl"), F.col("bucket"),
        F.col("__ci"),
        F.explode(
            F.sequence(F.lit(0), F.col("__nc") - F.lit(1))
        ).alias("__cx"),
    ).select(
        F.col(id_col), F.col(vec), F.col("tbl"), F.col("bucket"),
        F.col("__ci"),
        F.least(F.col("__ci"), F.col("__cx")).alias("__bi"),
        F.greatest(F.col("__ci"), F.col("__cx")).alias("__bj"),
    )

    def bucket_pairs_tiled(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        bi, bj = pdf["__bi"].iat[0], pdf["__bj"].iat[0]
        if bi == bj:
            # same-chunk group: the untiled kernel verbatim (it only
            # reads id/vec, so the extra grid columns are inert)
            return bucket_pairs(pdf)
        A = pdf[pdf["__ci"] == bi]
        B = pdf[pdf["__ci"] == bj]
        if len(A) == 0 or len(B) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ida = A[id_col].to_numpy()
        idb = B[id_col].to_numpy()
        MA = np.stack(A[vec].to_numpy()).astype(np.float64)
        MB = np.stack(B[vec].to_numpy()).astype(np.float64)
        na = np.sqrt(np.cumsum(MA * MA, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(MB * MB, axis=1)[:, -1])
        out_a, out_b, out_c = [], [], []
        step = max(1, (32 << 20) // max(1, len(idb) * 8))
        for s in range(0, len(ida), step):
            chunk = MA[s : s + step]
            cos = tiled_dots(chunk, MB) / (na[s : s + step, None] * nb[None, :])
            # cross-chunk: ids are disjoint (distinct rows of one
            # bucket), every (a, b) pair is a candidate exactly once;
            # products commute term-by-term, so cos is bit-identical
            # no matter which side is the row side
            ii, jj = np.nonzero((cos >= threshold) | np.isnan(cos))
            xa, xb = ida[s + ii], idb[jj]
            out_a.append(np.minimum(xa, xb))
            out_b.append(np.maximum(xa, xb))
            out_c.append(cos[ii, jj])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a) if out_a else [],
            "id_b": np.concatenate(out_b) if out_b else [],
            "cos_sim": np.concatenate(out_c) if out_c else [],
        })

    return (
        replicated.groupBy("tbl", "bucket", "__bi", "__bj")
        .applyInPandas(bucket_pairs_tiled, schema=schema)
        .distinct()
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-prune (Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", arXiv:2303.09540)
# ---------------------------------------------------------------------------

def assign_centroids(
    df: DataFrame, nlist: int = 16, id_col: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Nearest-centroid assignment against the deterministic sampled
    quantizer (:func:`_coarse_sample`: the ``nlist`` lowest-``md5(id)``
    rows, as in :func:`ivf_topk` — SQL-expressible, so oracles
    hash-check it, and id-space-agnostic). The KMeans path
    (``cluster_embeddings``) trades oracle-exactness for trained
    centroids.

    Scale shape (r15): the ``nlist`` centroids are a bounded
    driver-side collect (kilobytes) and assignment is ONE map-only
    ``mapInPandas`` kernel — no crossed rows, no aggregate, no
    shuffle. The kernel's c_sims are the same left-fold dots and its
    argmax the same (c_sim DESC, cid ASC) tie-break the previous
    struct-max aggregation computed (see :func:`_assign_kernel`), so
    assignments are bit-identical. Returns ``(id, cid, vec, norm)``.
    """
    cent_pdf = _collect_centroids(df, nlist, id_col, vec)
    return df.select(F.col(id_col), F.col(vec)).mapInPandas(
        _assign_kernel(cent_pdf, id_col, vec, (id_col, "cid", vec, "norm")),
        schema=f"{id_col} {dict(df.dtypes)[id_col]}, "
               f"cid {dict(df.dtypes)[id_col]}, "
               f"{vec} {dict(df.dtypes)[vec]}, norm double",
    )


def semantic_dedup(
    df: DataFrame,
    nlist: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic deduplication: cluster the corpus by embedding,
    then drop any row whose cluster contains a near-identical row
    (cosine ≥ ``threshold``) with a smaller id. Returns the SURVIVORS
    as ``(id, cid)``, ordered-stable under repartitioning.

    The pair rule is greedy keep-lowest-id (a row is dropped iff a
    lower-id near-dup shares its cluster, whether or not that neighbor
    is itself dropped) — deterministic and SQL-parallel; the
    transitive-closure variant is ``components.neardup_clusters`` over
    :func:`cosine_neardup_pairs`.

    Scale shape: the quadratic pair scan is confined WITHIN clusters —
    the SemDeDup design premise (nlist sized so clusters hold ~1e3-1e5
    rows at 100 TB: per-cluster work stays bounded while the
    corpus-level cost is n²/nlist). ONE shuffle by cid fans clusters
    out to tasks; each task scores its own cluster as a chunked matrix
    kernel (every vector ships ONCE per cluster, never once per pair —
    a pair-join would shuffle O(pairs)·vec bytes), with the same
    strict left-fold dots as the block-matrix ops, so the oracle
    hash-checks bit-exactly. Per-task memory = cluster_rows × dims × 8
    bytes + a ~32 MB score tile; a skewed megacluster concentrates in
    one task — size nlist for the corpus (SemDeDup uses n/nlist ≈ 1e4).
    No collect at any size.
    """
    import numpy as np

    assigned = assign_centroids(df, nlist, id_col, vec)
    id_type = dict(assigned.dtypes)[id_col]
    tiled_dots = _make_tiled_dots()

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pdf[[id_col, "cid"]]
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        M = np.stack(pdf[vec].to_numpy()).astype(np.float64)
        nrm = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        n = len(pdf)
        dropped = np.zeros(n, dtype=bool)
        step = max(1, (32 << 20) // max(1, n * 8))
        for s in range(0, n, step):
            chunk = M[s : s + step]
            cos = tiled_dots(chunk, M) / (nrm[s : s + step, None] * nrm[None, :])
            # ascending-id order → "a lower-id near-dup exists" is a
            # strictly-lower-triangular any() over the score rows
            lower = np.arange(n)[None, :] < (s + np.arange(chunk.shape[0]))[:, None]
            dropped[s : s + step] |= ((cos >= threshold) & lower).any(axis=1)
        return pdf.loc[~dropped, [id_col, "cid"]]

    return assigned.groupBy("cid").applyInPandas(
        prune, schema=f"{id_col} {id_type}, cid {id_type}"
    )


def semantic_dedup_sql(
    table: str,
    nlist: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """Oracle twin of :func:`semantic_dedup` — same md5-sampled
    centroids, same argmax tie-break, same left-fold dots, same pair
    rule."""
    return f"""
    WITH n AS (
        SELECT {id_col}, {vec} AS v, sqrt({_dot_sql(vec, vec)}) AS nrm FROM {table}
    ),
    cent AS (
        SELECT {id_col} AS cid, v AS cv, nrm AS cn FROM n
        {_coarse_sql(id_col, nlist)}
    ),
    assigned AS (
        SELECT vid AS {id_col}, cid, v, nrm FROM (
            SELECT n.{id_col} AS vid, cent.cid, n.v, n.nrm,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.{id_col}
                       ORDER BY {_dot_sql('n.v', 'cent.cv')} / (n.nrm * cent.cn) DESC,
                                cent.cid
                   ) AS rk
            FROM n CROSS JOIN cent
        ) WHERE rk = 1
    ),
    dropped AS (
        SELECT DISTINCT b.{id_col}
        FROM assigned a JOIN assigned b
          ON a.cid = b.cid AND a.{id_col} < b.{id_col}
        WHERE {_dot_sql('a.v', 'b.v')} / (a.nrm * b.nrm) >= {threshold}
    )
    SELECT s.{id_col}, s.cid FROM assigned s
    LEFT JOIN dropped d ON s.{id_col} = d.{id_col}
    WHERE d.{id_col} IS NULL
    """


def lsh_neardup_pairs_sql(
    table: str,
    dims: int = DIMS,
    id_col: str = "vec_id",
    vec: str = "embedding",
    planes: int = 4,
    tables: int = 4,
    threshold: float = 0.95,
) -> str:
    """DuckDB oracle twin of :func:`lsh_neardup_pairs`. "Approximate"
    here means recall < 1 vs brute force — the computation itself is
    fully deterministic: hyperplanes are md5-derived dyadic rationals
    (exact doubles), the projection sums are the same left-associative
    ``+`` chains on both engines, and the re-rank cosine is the strict
    left-fold dot — so the pair set hash-matches bit-exactly."""

    def key_sql(t: int) -> str:
        bits = []
        for p in range(t * planes, (t + 1) * planes):
            terms = " + ".join(
                f"(CAST(v[{d + 1}] AS DOUBLE) * ({_hyperplane_expr(p, d)}))"
                for d in range(dims)
            )
            bits.append(f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END")
        return "concat(" + ", ".join(bits) + ")"

    banded = "\n        UNION ALL\n".join(
        f"        SELECT id, v, nrm, {t} AS tbl, {key_sql(t)} AS bucket FROM n"
        for t in range(tables)
    )
    return f"""
    WITH n AS (
        SELECT {id_col} AS id, {vec} AS v,
               sqrt({_dot_sql(vec, vec, dims)}) AS nrm
        FROM {table}
    ),
    banded AS (
{banded}
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           {_dot_sql('a.v', 'b.v', dims)} / (a.nrm * b.nrm) AS cos_sim
    FROM banded a JOIN banded b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
    WHERE {_dot_sql('a.v', 'b.v', dims)} / (a.nrm * b.nrm) >= {threshold}
    """


# ---------------------------------------------------------------------------
# The ANN chooser: one entry point over the five search paths
# ---------------------------------------------------------------------------

def ann_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    method: str = "auto",
    id_col: str = "vec_id",
    vec: str = "embedding",
    dims: int | None = None,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 256,
    index_path: str | None = None,
) -> DataFrame:
    """Top-k nearest neighbors per query, dispatched to the
    scale-right search path. ``queries`` is a frame of corpus rows
    (``id_col`` [+ ``vec``]) to search for.

    Decision table (n = corpus vectors; recall numbers are the
    near-iid fixture's floor — clustered real corpora sit higher):

    ============  ========  =======================  ====================
    method        recall    cost / memory            when
    ============  ========  =======================  ====================
    ``brute``     1.0       O(n·q) dot products,     correctness baseline;
                            block-matrix (no          n ≲ 10^5 or offline
                            collect/broadcast)        ground truth
    ``ivf_flat``  ~nprobe/  scans ≈ nprobe/nlist     n ≲ 10^7 where raw
                  nlist     of raw vectors/query     vectors still fit
                  tail
    ``pq``        ~0.5+     full scan of m-byte      RAM-bound corpora
                            codes (32-64x smaller),  needing full recall
                            ADC table lookups        sweep per query
    ``ivf_pq``    ~0.4+     nprobe lists of m-byte   the billion-scale
                            codes — both prunings    default (FAISS IVFPQ
                            composed                 layout)
    ``lsh``       pairs     bucket-join, no topk     near-DUP pairs, not
                            semantics                topk — use
                                                     :func:`lsh_neardup_pairs`
    ============  ========  =======================  ====================

    ``auto`` picks ``brute`` ≤ 100k vectors, ``ivf_flat`` ≤ 2M, else
    ``ivf_pq`` (probe by bounded ``limit(n+1)`` counts, one cheap job).

    ``index_path`` (ivf_pq arm only — ignored by the raw-vector
    methods, which have no trained state to amortize): load the
    persisted IVF-PQ index if one exists there, otherwise train, save
    it, and query — the build-once / query-many lifecycle. At the
    billion-vector scale this arm targets, Lloyd training + corpus
    encoding dominate a single query batch's cost by orders of
    magnitude; amortizing them across batches is the whole point of
    the ``ivf_pq_save``/``load`` store (fresh-vs-loaded answers are
    bit-identical — doubles round-trip parquet exactly; pinned in
    tests). Without ``index_path`` the quantizers retrain per call.

    Returned frame: ``(q_id, n_id, score, rk, method)`` — ``rk`` 1 =
    nearest. ``score`` is cosine similarity (higher = nearer) for
    ``brute``/``ivf_flat`` and squared ADC distance (lower = nearer)
    for the PQ paths; ``rk`` is the comparable field across methods.
    """
    methods = ("auto", "brute", "ivf_flat", "pq", "ivf_pq")
    if method == "lsh":
        raise ValueError(
            "lsh is a near-dup PAIRS path (no top-k semantics); call "
            "lsh_neardup_pairs directly"
        )
    if method not in methods:
        raise ValueError(f"method must be one of {methods}, got {method!r}")
    if method == "auto":
        probe = guards.bounded_count(df.select(id_col), 2_000_000)
        method = (
            "brute" if probe <= 100_000
            else "ivf_flat" if probe <= 2_000_000
            else "ivf_pq"
        )
    if method == "brute":
        out = cosine_topk(df, queries, k, id_col, vec)
        score = F.col("cos_sim")
    elif method == "ivf_flat":
        out = ivf_topk(
            df, k, nlist=nlist, nprobe=nprobe, id_col=id_col, vec=vec,
            queries=queries,
        )
        score = F.col("cos_sim")
    else:
        from etl_pack_spark.operators import quantize

        if dims is None:
            dims = len(df.select(vec).first()[0])
        # bounded by caller contract: a query BATCH id set
        q_full = df.join(F.broadcast(queries.select(id_col)), id_col, "left_semi")
        if method == "pq":
            books = quantize.pq_train(df, dims, m=m, k=pq_k, id_col=id_col, vec=vec)
            enc = quantize.pq_encode(df, books, id_col=id_col, vec=vec)
            out = quantize.pq_topk(enc, q_full, books, k, id_col=id_col, vec=vec)
        else:
            built = None
            if index_path is not None:
                from pyspark.errors import AnalysisException

                try:
                    built = quantize.ivf_pq_load(df.sparkSession, index_path)
                except AnalysisException:
                    built = None  # no index there yet: build and save
                if built is not None:
                    # a loaded index must match the CALL's parameters —
                    # a path holding a different build (other nlist/m/
                    # pq_k, other corpus dims) must raise, not silently
                    # answer with mismatched state; spark= also cross-
                    # checks the manifest vs the loaded arrays (r9:
                    # catches a mixed-generation index directory)
                    quantize.validate_ivf_pq_index(
                        built, nlist, m, pq_k, dims, path=index_path,
                        spark=df.sparkSession,
                    )
            if built is None:
                built = quantize.ivf_pq_index(
                    df, dims, nlist=nlist, m=m, k=pq_k, id_col=id_col, vec=vec
                )
                if index_path is not None:
                    quantize.ivf_pq_save(index_path, *built)
            cids, C, books, enc = built
            out = quantize.ivf_pq_topk(
                enc, q_full, cids, C, books, k, nprobe, id_col=id_col, vec=vec
            )
        score = F.col("adc_dist")
    return out.select(
        "q_id", "n_id", score.alias("score"), "rk", F.lit(method).alias("method")
    )


# ---------------------------------------------------------------------------
# Recall evaluation: the number the ann_topk decision table's rows are
# chosen by — measure it on YOUR corpus instead of trusting the floor
# ---------------------------------------------------------------------------

def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    q_col: str = "q_id",
    id_col: str = "n_id",
) -> DataFrame:
    """Per-query recall of an approximate ANN result against the exact
    one: ``(q_id, n_exact, n_hit, recall)`` where ``recall`` =
    |approx ∩ exact| / |exact| for that query (9 dp). Queries absent
    from ``approx`` entirely (e.g. an empty nprobe sweep) report
    recall 0, never disappear — a tuning report that drops its worst
    queries overstates the index.

    The operational companion to :func:`ann_topk`'s decision table
    (its recall column is the near-iid fixture's FLOOR): run the
    approximate method and ``method="brute"`` on a query holdout, feed
    both here, and tune nlist/nprobe/m against measured recall on the
    actual corpus. Scale: both inputs are top-k results — q·k rows —
    so the equi-join on (query, neighbor) is result-sized, never
    corpus-sized; AQE broadcasts the smaller side at runtime.
    """
    ex = exact.select(
        F.col(q_col).alias("q_id"), F.col(id_col).alias("__nid")
    )
    ap = approx.select(
        F.col(q_col).alias("q_id"), F.col(id_col).alias("__nid")
    ).withColumn("__hit", F.lit(1))
    per = ex.join(ap, ["q_id", "__nid"], "left")
    return per.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("__hit").alias("n_hit"),
    ).select(
        "q_id",
        "n_exact",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.col("n_exact").cast("double"), 9
        ).alias("recall"),
    )


def ann_recall_sql(
    approx_sql: str,
    exact_sql: str,
    q_col: str = "q_id",
    id_col: str = "n_id",
) -> str:
    """DuckDB twin of :func:`ann_recall` (same grain, same rounding)."""
    return f"""
    WITH __ex AS (SELECT {q_col} AS q_id, {id_col} AS nid FROM ({exact_sql})),
    __ap AS (SELECT {q_col} AS q_id, {id_col} AS nid, 1 AS hit
             FROM ({approx_sql}))
    SELECT q_id, count(*) AS n_exact, count(a.hit) AS n_hit,
           round(CAST(count(a.hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
               AS recall
    FROM __ex LEFT JOIN __ap a USING (q_id, nid)
    GROUP BY q_id
    """
