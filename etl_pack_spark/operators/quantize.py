"""Product quantization (PQ) for embedding columns: train codebooks,
encode vectors to m-byte codes, and ADC top-k search over the codes.

This is the 100 TB story for the ANN family (`operators/similarity.py`):
a 64-dim float32 embedding is 256 bytes; with m=8 sub-quantizers of 16
centroids each it becomes 8 codes of 4 bits — a 32-64× compression that
turns a corpus whose raw vectors need a cluster's worth of RAM into one
whose codes fit in a fraction of it, while asymmetric-distance (ADC)
search scans codes with a per-query lookup table and never touches the
raw vectors. Composes with IVF (`ivf_topk`): IVF prunes WHICH vectors
to score, PQ compresses HOW each one is scored.

Scale shape:

  * Training is on a BOUNDED deterministic sample (lowest
    ``md5(id)`` wins, ``sample_rows`` cap) — the same posture as
    IVF's sampled coarse quantizer: codebooks are kilobytes derived
    from a fixed-size sample, never a full-corpus collect.
  * Encoding is map-only: codebooks ride a broadcast variable into a
    ``mapInPandas`` kernel that argmins each subspace vectorized over
    Arrow batches. No shuffle.
  * ADC search broadcasts per-query distance TABLES (m × k doubles per
    query — for 50 queries ≈ 50 KB), scans the encoded corpus map-side
    emitting each partition's top-k, and merges the bounded partials
    with one window. Shuffled volume is O(k · partitions · queries),
    independent of corpus size.

Determinism: kmeans init is the sample's first-k rows in hash order and
Lloyd iterations are fixed-count with argmin ties resolved to the
lowest centroid id (np.argmin semantics), so codebooks, codes, and ADC
scores are reproducible run-to-run and invariant to partitioning. The
invariant ADC == squared-L2 to the RECONSTRUCTED vector is pinned in
tests against a driver-side numpy twin.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# per-query ADC tables (m × k doubles each) are broadcast to every
# executor — the query frame must stay small; 16k queries ≈ 16k × 8 ×
# 16 × 8 B ≈ 16 MB of tables, a safe ceiling
MAX_QUERY_VECTORS = 16_384


def _hash_sample(
    df: DataFrame, id_col: str, vec: str, sample_rows: int, k: int
) -> np.ndarray:
    """The bounded deterministic training sample shared by every
    quantizer trainer: the ``sample_rows`` vectors with the lowest
    ``md5(id)`` hex (append-stable), as a float64 matrix; fewer than
    ``k`` rows cannot seed ``k`` centroids and raises."""
    sample = (
        df.select(F.col(id_col).alias("id"), F.col(vec).alias("v"))
        # md5 (r6, was xxhash64): same append-stable deterministic
        # sample, but expressible identically in the DuckDB oracle
        # (xxhash64 is Spark-only), so the trained codebooks are
        # cross-engine reproducible
        .withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h")
        .limit(sample_rows)
        .toPandas()
    )
    X = np.stack(sample["v"].to_numpy()).astype(np.float64)
    if len(X) < k:
        raise ValueError(f"sample of {len(X)} rows cannot seed k={k} centroids")
    return X


def _collect_queries(queries: DataFrame, id_col: str, vec: str, op: str):
    """Bounded query-side collect shared by the ADC searches: the
    per-query distance tables are broadcast state on every executor,
    so an accidental corpus-sized query frame must be a clear error,
    not a driver OOM. Returns ``(qids ndarray, Q float64 matrix)``."""
    qpdf = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec).alias("qv"))
        .limit(MAX_QUERY_VECTORS + 1)
        .toPandas()
    )
    if len(qpdf) > MAX_QUERY_VECTORS:
        raise ValueError(
            f"{op} got more than {MAX_QUERY_VECTORS} query vectors; the "
            "per-query ADC tables are broadcast state — batch the queries "
            "or raise MAX_QUERY_VECTORS deliberately"
        )
    if len(qpdf) == 0:
        raise ValueError("no query vectors")
    return qpdf["qid"].to_numpy(), np.stack(qpdf["qv"].to_numpy()).astype(np.float64)


def pq_train(
    df: DataFrame,
    dims: int,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec: str = "embedding",
    sample_rows: int = 4096,
    iters: int = 5,
) -> np.ndarray:
    """Train PQ codebooks: ``(m, k, dims//m)`` float64 array.

    The training sample is the ``sample_rows`` corpus vectors with the
    lowest ``md5(id)`` — deterministic, append-stable, and bounded
    (this is a codebook fit on a fixed-size sample, not a data
    collect). Lloyd's algorithm runs ``iters`` fixed iterations per
    subspace; empty clusters keep their previous centroid.
    """
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    X = _hash_sample(df, id_col, vec, sample_rows, k)
    return _train_books(X, dims, m, k, iters)


def _lloyd(sub: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic fixed-iteration Lloyd: first-k init (caller
    provides hash-ordered rows), argmin ties to the lowest centroid,
    empty clusters keep their previous centroid."""
    cent = sub[:k].copy()
    for _ in range(iters):
        d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = sub[mask].mean(axis=0)
    return cent


def _train_books(X: np.ndarray, dims: int, m: int, k: int, iters: int) -> np.ndarray:
    dsub = dims // m
    books = np.empty((m, k, dsub))
    for j in range(m):
        books[j] = _lloyd(X[:, j * dsub : (j + 1) * dsub], k, iters)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Encode vectors to ``(id, codes array<smallint>)`` — map-only.

    Each code j is the index of the nearest (squared-L2) centroid of
    subspace j. m codes replace dims floats: 32-64× smaller.
    """
    m, k, dsub = codebooks.shape
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def encode(batches):
        # NESTED for by-value pickling (executors need not import us)
        import numpy as np

        books = bc.value
        m, k, dsub = books.shape
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "codes": []})
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), m), dtype=np.int16)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per
                # row, so argmin needs only the last two terms
                d2 = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "codes": list(codes)})

    return df.select(
        F.col(id_col).alias("id"), F.col(vec).alias("v")
    ).mapInPandas(encode, schema="id long, codes array<smallint>")


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """ADC top-k: ``(q_id, n_id, adc_dist, rk)`` — nearest by
    asymmetric distance (squared L2 from the query to each corpus
    vector's RECONSTRUCTION), smallest first.

    Per query, a distance table ``T[j][c] = ||q_j - books[j][c]||²`` is
    precomputed once (m × k doubles) and broadcast; scanning a code is
    then m table lookups + adds. Each partition emits its local top-k;
    one window merges the bounded partials.

    The query-side collect is BOUNDED (``MAX_QUERY_VECTORS``): queries
    are small by design (the distance tables are per-query state on
    every executor), and the limit+probe turns an accidental
    corpus-sized query frame into a clear error instead of a driver
    OOM — the same posture as ``pq_train``'s explicit sample limit.
    """
    m, kcent, dsub = codebooks.shape
    spark = encoded.sparkSession
    qids_arr, Q = _collect_queries(queries, id_col, vec, "pq_topk")
    tables = np.empty((len(Q), m, kcent))
    for j in range(m):
        qs = Q[:, j * dsub : (j + 1) * dsub]
        diff = qs[:, None, :] - codebooks[j][None, :, :]
        tables[:, j, :] = (diff**2).sum(axis=2)
    bc = spark.sparkContext.broadcast((qids_arr, tables))

    def scan(batches):
        # NESTED for by-value pickling
        import numpy as np

        qids, tabs = bc.value
        nq, m, kcent = tabs.shape
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"q_id": [], "n_id": [], "adc_dist": []})
                continue
            ids = pdf["id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            # gather: dist[q, i] = sum_j tabs[q, j, codes[i, j]]
            n = len(ids)
            dist = np.zeros((nq, n))
            for j in range(m):
                dist += tabs[:, j, codes[:, j]]
            rows = {"q_id": [], "n_id": [], "adc_dist": []}
            # k+1: the query's own vector may sit in this partition and
            # is filtered AFTER the local top-k — one spare slot keeps
            # the merge exact
            kk = min(k + 1, n)
            for qi in range(nq):
                # 10dp rounding: ADC sums differ from other engines'
                # in the last ulp (accumulation order), so EXACT ties
                # (duplicate vectors share codes) must collapse to the
                # same value before the id tie-break, or rank order
                # diverges cross-engine; 5e-11 max error is far inside
                # the twin tests' 1e-9 tolerance
                d = np.round(dist[qi], 10)
                # FULL (dist, id) lexsort before truncation: argpartition
                # selects an arbitrary subset among EQUAL distances
                # (duplicate docs share codes), which would make the kept
                # candidate — and thus the result — partitioning-dependent
                order = np.lexsort((ids, d))[:kk]
                rows["q_id"].extend([qids[qi]] * len(order))
                rows["n_id"].extend(ids[order].tolist())
                rows["adc_dist"].extend(d[order].tolist())
            yield pd.DataFrame(rows)

    partial = encoded.mapInPandas(scan, schema="q_id long, n_id long, adc_dist double")
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("n_id"))
    return (
        partial.where(F.col("n_id") != F.col("q_id"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def pq_reconstruct(codebooks: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Driver-side numpy twin: decode codes back to the quantized
    vectors (test oracle for the ADC == L2²(q, reconstruction)
    invariant)."""
    m, kcent, dsub = codebooks.shape
    out = np.empty((len(codes), m * dsub))
    for j in range(m):
        out[:, j * dsub : (j + 1) * dsub] = codebooks[j][codes[:, j]]
    return out


# ---------------------------------------------------------------------------
# IVF-PQ: the composed billion-scale ANN recipe (FAISS IVFPQ shape)
# ---------------------------------------------------------------------------

def ivf_pq_index(
    df: DataFrame,
    dims: int,
    nlist: int = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec: str = "embedding",
    sample_rows: int = 4096,
    iters: int = 5,
    coarse_pdf=None,
):
    """Build the composed IVF-PQ index: coarse inverted lists (IVF,
    pruning WHICH vectors a query scores) over PQ codes of the
    RESIDUALS (compressing HOW each one is scored) — the standard
    billion-scale layout: per vector the index stores one small int
    (its list) + m code bytes, never the raw floats.

    Returns ``(cids, centroids, codebooks, encoded)`` where ``cids``/
    ``centroids`` are the coarse quantizer (deterministic md5-ordered
    sample, the same bit-stable id-space-agnostic posture as
    ``similarity.ivf_topk``), ``codebooks`` are PQ books trained on a
    bounded hash-sample of residuals, and ``encoded`` is the
    distributed ``(id, cid, codes)`` frame. Residual encoding matters:
    residuals are centered near zero, so the same code budget carries
    ~a list-radius less variance than raw vectors.

    Scale shape: the only driver-side data is the coarse centroids
    (nlist × dims) and the residual training sample; encoding is ONE
    map-only ``mapInPandas`` pass with the quantizers broadcast.
    """
    cids, C, codebooks = ivf_pq_quantizers(
        df, dims, nlist=nlist, m=m, k=k, id_col=id_col, vec=vec,
        sample_rows=sample_rows, iters=iters, coarse_pdf=coarse_pdf,
    )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((cids, C, codebooks))
    # conditional spread (r15): a single-file fixture corpus scans as
    # ONE task, serializing the encode kernel and every ADC scan that
    # inherits its partitioning; production many-split scans untouched
    from etl_pack_spark.operators.partitioning import spread_small_scan

    encoded = spread_small_scan(
        df.select(F.col(id_col).alias("id"), F.col(vec).alias("v")), "id"
    ).mapInPandas(
        _encode_kernel(bc), schema="id long, cid long, codes array<smallint>"
    )
    return cids, C, codebooks, encoded


def ivf_pq_quantizers(
    df: DataFrame,
    dims: int,
    nlist: int = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec: str = "embedding",
    sample_rows: int = 4096,
    iters: int = 5,
    coarse_pdf=None,
):
    """The TRAINING half of :func:`ivf_pq_index` (r16 split): coarse
    quantizer + residual PQ codebooks as ``(cids, centroids,
    codebooks)``, no corpus encode. Split out so a caller composing
    the flat and PQ tiers over the SAME corpus (the ann_ivf_topk suite
    slot) can train first and run ONE fused assign+encode corpus pass
    (:func:`ivf_assign_encode`) instead of two kernels;
    :func:`ivf_pq_index` delegates here, so the arithmetic has exactly
    one home and fresh-vs-composed codebooks are bit-identical."""
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    # md5-ordered deterministic sample (r6, was `id < nlist`): id-space
    # agnostic — snowflake/offset ids work, not just dense 0-based —
    # while staying append-stable and expressible identically in the
    # DuckDB oracle. Sorted by cid afterwards so numpy's argmin
    # first-occurrence tie-break means lowest cid, like the SQL twin's
    # `ORDER BY dist, cid`.
    # ``coarse_pdf`` (r15): a caller composing this with another
    # IVF-family operator over the SAME corpus passes one shared
    # ``similarity._collect_centroids`` result (columns cid, cv[, cn])
    # so the corpus-wide TakeOrdered sample pass runs once per query
    # instead of once per operator — the sample is a deterministic
    # total order (md5, id), so sharing cannot change any value.
    if coarse_pdf is not None and len(coarse_pdf) > nlist:
        # a cid-sorted slice of a LARGER sample is not the md5-order
        # sample at this nlist — refuse rather than silently mis-seed
        raise ValueError(
            f"coarse_pdf carries {len(coarse_pdf)} centroids, need <= {nlist} "
            "(pass the _collect_centroids sample taken at THIS nlist)"
        )
    cent_pdf = (
        coarse_pdf
        if coarse_pdf is not None
        else df.select(F.col(id_col).alias("cid"), F.col(vec).alias("cv"))
        .orderBy(F.md5(F.col("cid").cast("string")), "cid")
        .limit(nlist)
        .toPandas()
        .sort_values("cid", ignore_index=True)
    )
    if len(cent_pdf) == 0:
        raise ValueError("no coarse centroids: empty corpus")
    cids = cent_pdf["cid"].to_numpy()
    C = np.stack(cent_pdf["cv"].to_numpy()).astype(np.float64)

    X = _hash_sample(df, id_col, vec, sample_rows, k)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    R = X - C[d2.argmin(axis=1)]
    codebooks = _train_books(R, dims, m, k, iters)
    return cids, C, codebooks


def ivf_assign_encode(
    df: DataFrame,
    coarse_pdf: pd.DataFrame,
    cids: np.ndarray,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """ONE corpus pass emitting BOTH IVF tiers' per-vector state (r16,
    round-15 VERDICT #3): the flat tier's cosine-argmax assignment
    (``f_cid``, raw vector, norm — via ``similarity._assign_kernel``)
    and the PQ tier's L2-argmin residual encode (``cid``, ``codes`` —
    via :func:`_encode_kernel`) from the SAME Arrow batch. The two
    tiers previously each ran their own kernel over the corpus — two
    scans, two Python passes; the fused kernel wraps the two existing
    per-batch kernels verbatim (one copy of each arithmetic, outputs
    row-aligned because both preserve batch row order), so every value
    is bit-identical to the separate passes.

    SHARING is the caller's job: both tier subtrees reference this
    frame, and a plan tree duplicates the kernel subtree once per
    consumer. An exchange boundary does NOT deduplicate it — column
    pruning pushes each tier's projection BELOW the repartition, the
    two exchange subtrees stop being identical, and exchange reuse
    never fires (measured: the fused kernel ran twice, two ~29-task
    stage pairs per run). The suite slot therefore ``pooled_persist``s
    this frame: ONE kernel pass materialized, both tiers read the
    cache. Scale trade, stated honestly: the persisted state is the
    per-vector index payload (id, assignment, codes, norm, vector) — a
    production index build materializes exactly this frame anyway (it
    IS the index), and the alternative is a second full corpus scan +
    assign/encode Python pass per consumer. Two-tier compositions
    only; single-tier callers keep their map-only kernels."""
    from etl_pack_spark.operators.partitioning import spread_small_scan
    from etl_pack_spark.operators.similarity import _assign_kernel

    src = df.select(F.col(id_col).alias("id"), F.col(vec).alias("v"))
    bc = df.sparkSession.sparkContext.broadcast((cids, centroids, codebooks))
    assign_fn = _assign_kernel(coarse_pdf, "id", "v", ("id", "f_cid", "v", "norm"))
    encode_fn = _encode_kernel(bc)

    def fused(batches):
        for pdf in batches:
            a = next(assign_fn(iter([pdf])))
            e = next(encode_fn(iter([pdf])))
            yield pd.DataFrame({
                "id": a["id"], "f_cid": a["f_cid"], "v": a["v"],
                "norm": a["norm"], "cid": e["cid"], "codes": e["codes"],
            })

    id_type = dict(df.dtypes)[id_col]
    vec_type = dict(df.dtypes)[vec]
    return spread_small_scan(src, "id").mapInPandas(
        fused,
        schema=f"id {id_type}, f_cid {id_type}, v {vec_type}, "
               f"norm double, cid {id_type}, codes array<smallint>",
    )


def _encode_kernel(bc):
    """The ONE residual-encode kernel shared by :func:`ivf_pq_index`
    (build) and :func:`ivf_pq_append` (ingest): appended codes must
    stay numerically identical to build-time codes (argmin near-ties
    included), so there is exactly one copy of the arithmetic. ``bc``
    broadcasts ``(cids, centroids, codebooks)``; returns a
    ``mapInPandas`` function (nested for by-value pickling)."""

    def encode(batches):
        import numpy as np

        cids_, C_, books = bc.value
        m_, k_, dsub = books.shape
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "cid": [], "codes": []})
                continue
            X_ = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            d2_ = -2.0 * (X_ @ C_.T) + (C_**2).sum(axis=1)[None, :]
            a = d2_.argmin(axis=1)
            Rv = X_ - C_[a]
            codes = np.empty((len(X_), m_), dtype=np.int16)
            for j in range(m_):
                sub = Rv[:, j * dsub : (j + 1) * dsub]
                dd = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = dd.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "cid": cids_[a], "codes": list(codes)}
            )

    return encode


def ivf_pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    cids: np.ndarray,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """ADC top-k over the IVF-PQ index: each query scores ONLY the
    codes in its ``nprobe`` nearest inverted lists, by asymmetric
    distance to the residual reconstruction — the probed fraction
    (≈ nprobe/nlist of the corpus) is scanned with m table lookups per
    code, so a query touches neither raw vectors nor the other lists.
    Returns ``(q_id, n_id, adc_dist, rk)``, smallest distance first,
    ties broken on id.

    Per (query, probed-list) the distance table is built from the
    RESIDUAL ``q - centroid[list]`` (that's what the codes encode);
    broadcast state is nq × nprobe tables of m × k doubles — bounded
    by the same query-count guard as :func:`pq_topk`.
    """
    m, kcent, dsub = codebooks.shape
    spark = encoded.sparkSession
    qids_arr, Q = _collect_queries(queries, id_col, vec, "ivf_pq_topk")
    nq = len(Q)
    nprobe = min(nprobe, len(cids))
    d2c = ((Q[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    # nprobe nearest lists per query, ties to the lowest cid
    # (lexsort on (cid, dist) -> stable smallest-dist-then-cid order)
    probe_idx = np.empty((nq, nprobe), dtype=np.int64)
    for qi in range(nq):
        order = np.lexsort((cids, d2c[qi]))
        probe_idx[qi] = order[:nprobe]
    tables = np.empty((nq, nprobe, m, kcent))
    probe_cids = np.empty((nq, nprobe), dtype=np.int64)
    for qi in range(nq):
        # probe slots SORTED by cid so the scan's searchsorted needs no
        # per-batch argsort (slot order is irrelevant to correctness)
        ordered = probe_idx[qi][np.argsort(cids[probe_idx[qi]])]
        for pi, ci in enumerate(ordered):
            probe_cids[qi, pi] = cids[ci]
            r = Q[qi] - centroids[ci]
            for j in range(m):
                diff = r[j * dsub : (j + 1) * dsub][None, :] - codebooks[j]
                tables[qi, pi, j] = (diff**2).sum(axis=1)
    bc = spark.sparkContext.broadcast((qids_arr, probe_cids, tables))

    def scan(batches):
        # NESTED for by-value pickling
        import numpy as np

        qids, pcids, tabs = bc.value
        nq_, npr, m_, kc = tabs.shape
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"q_id": [], "n_id": [], "adc_dist": []})
                continue
            ids = pdf["id"].to_numpy()
            cid = pdf["cid"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            rows = {"q_id": [], "n_id": [], "adc_dist": []}
            for qi in range(nq_):
                mask = np.isin(cid, pcids[qi])
                if not mask.any():
                    continue
                sel = np.nonzero(mask)[0]
                # pcids rows are pre-sorted by cid (see the builder)
                slot = np.searchsorted(pcids[qi], cid[sel])
                d = np.zeros(len(sel))
                for j in range(m_):
                    d += tabs[qi, slot, j, codes[sel, j]]
                # 10dp rounding — see pq_topk's scan for the rationale
                d = np.round(d, 10)
                kk = min(k + 1, len(sel))
                # full (dist, id) lexsort before truncation: ties among
                # equal ADC distances must keep the LOWEST id or the
                # result becomes partitioning-dependent
                order = np.lexsort((ids[sel], d))[:kk]
                rows["q_id"].extend([qids[qi]] * len(order))
                rows["n_id"].extend(ids[sel][order].tolist())
                rows["adc_dist"].extend(d[order].tolist())
            yield pd.DataFrame(rows)

    partial = encoded.mapInPandas(
        scan, schema="q_id long, n_id long, adc_dist double"
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("n_id"))
    return (
        partial.where(F.col("n_id") != F.col("q_id"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twin (driver gate) + index persistence
# ---------------------------------------------------------------------------

def _l2sq_sql(a: str, b: str, n: int) -> str:
    """Squared L2 between two n-element DOUBLE lists — explicit
    element sum (sequential list_sum; cross-engine value differences
    vs numpy's accumulation order are last-ulp and absorbed by the
    output rounding; orderings flip only on sub-ulp near-ties, which
    real-valued embeddings do not produce and exact duplicates resolve
    identically via the id/index tie-breaks both engines apply)."""
    return (
        f"list_sum(list_transform(generate_series(1, {n}), "
        f"__i -> ({a}[__i] - {b}[__i]) ^ 2))"
    )


def ivf_pq_topk_sql(
    table: str,
    dims: int,
    nlist: int = 16,
    m: int = 8,
    kcent: int = 16,
    iters: int = 5,
    sample_rows: int = 4096,
    k: int = 5,
    nprobe: int = 4,
    query_pred: str = "vec_id < 50",
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB oracle twin of the FULL IVF-PQ pipeline
    (:func:`ivf_pq_index` + :func:`ivf_pq_topk`): same md5-ordered
    bounded training sample, same md5-ordered coarse quantizer, the
    same fixed-``iters`` Lloyd training UNROLLED as one CTE chain per
    iteration (argmin ties to the lowest centroid, empty clusters keep
    their previous centroid), residual encoding, per-(query, probed
    list) ADC tables, and the (distance, id) tie-broken top-k. Raw
    engine distances differ from numpy in the last ulp (summation
    order); the reported distance is rounded by the caller on both
    sides and ranks are compared on the raw values."""
    dsub = dims // m
    # whole-identifier rewrite of the query predicate onto the `id`
    # alias — a naive str.replace would mangle columns that merely
    # CONTAIN id_col (`alt_vec_id` under id_col='vec_id')
    q_pred = re.sub(rf"\b{re.escape(id_col)}\b", "id", query_pred)
    dvec = f"list_transform(generate_series(1, {dims}), __i -> CAST(v[__i] AS DOUBLE))"
    cdvec = f"list_transform(generate_series(1, {dims}), __i -> CAST(cv[__i] AS DOUBLE))"

    def slices(src_list: str) -> str:
        # one branch per subspace: (j, sub)
        return "\n            UNION ALL\n".join(
            f"            SELECT *, {j} AS j, {src_list}[{j * dsub + 1}:{(j + 1) * dsub}] AS sub"
            f" FROM __SRC__"
            for j in range(m)
        )

    # Lloyd iterations, unrolled: cent_0 = first-kcent sample residual
    # rows per subspace (hash order); cent_t = per-cluster means under
    # cent_{t-1} assignment, empty clusters keeping the old centroid
    lloyd = []
    for t in range(1, iters + 1):
        prev = f"cent_{t - 1}"
        lloyd.append(f"""
    asg_{t} AS MATERIALIZED (
        SELECT rn, j, c FROM (
            SELECT p.rn, p.j, c.c,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.rn, p.j
                       ORDER BY {_l2sq_sql('p.sub', 'c.cvec', dsub)}, c.c
                   ) AS ark
            FROM spts p JOIN {prev} c USING (j)
        ) WHERE ark = 1
    ),
    mean_{t} AS MATERIALIZED (
        SELECT j, c, list(av ORDER BY pos) AS cvec FROM (
            SELECT j, c, pos, avg(val) AS av FROM (
                SELECT a.j, a.c,
                       unnest(p.sub) AS val,
                       unnest(generate_series(1, {dsub})) AS pos
                FROM asg_{t} a JOIN spts p ON p.rn = a.rn AND p.j = a.j
            ) GROUP BY j, c, pos
        ) GROUP BY j, c
    ),
    cent_{t} AS MATERIALIZED (
        SELECT c0.j, c0.c, COALESCE(mn.cvec, c0.cvec) AS cvec
        FROM {prev} c0 LEFT JOIN mean_{t} mn ON mn.j = c0.j AND mn.c = c0.c
    )""")

    return f"""
    WITH emb AS MATERIALIZED (
        SELECT {id_col} AS id,
               list_transform(generate_series(1, {dims}),
                              __i -> CAST({vec}[__i] AS DOUBLE)) AS v
        FROM {table}
    ),
    coarse AS MATERIALIZED (
        SELECT id AS cid, v AS cv FROM emb
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {nlist}
    ),
    samp AS MATERIALIZED (
        SELECT id, v, rn FROM (
            SELECT id, v,
                   ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) AS rn
            FROM emb
        ) WHERE rn <= {sample_rows}
    ),
    samp_res AS MATERIALIZED (
        SELECT rn, list_transform(generate_series(1, {dims}),
                                  __i -> v[__i] - cv[__i]) AS r
        FROM (
            SELECT s.rn, s.v, c.cv,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.rn
                       ORDER BY {_l2sq_sql('s.v', 'c.cv', dims)}, c.cid
                   ) AS ark
            FROM samp s CROSS JOIN coarse c
        ) WHERE ark = 1
    ),
    spts AS MATERIALIZED (
{slices('r').replace('__SRC__', 'samp_res')}
    ),
    cent_0 AS MATERIALIZED (
        SELECT j, rn - 1 AS c, sub AS cvec FROM spts WHERE rn <= {kcent}
    ),{','.join(lloyd)},
    books AS MATERIALIZED (SELECT j, c, cvec FROM cent_{iters}),
    enc_res AS MATERIALIZED (
        SELECT id, cid, list_transform(generate_series(1, {dims}),
                                       __i -> v[__i] - cv[__i]) AS r
        FROM (
            SELECT e.id, c.cid, e.v, c.cv,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.id
                       ORDER BY {_l2sq_sql('e.v', 'c.cv', dims)}, c.cid
                   ) AS ark
            FROM emb e CROSS JOIN coarse c
        ) WHERE ark = 1
    ),
    epts AS MATERIALIZED (
{slices('r').replace('__SRC__', 'enc_res')}
    ),
    codes AS MATERIALIZED (
        SELECT id, cid, j, c AS code FROM (
            SELECT p.id, p.cid, p.j, b.c,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.id, p.j
                       ORDER BY {_l2sq_sql('p.sub', 'b.cvec', dsub)}, b.c
                   ) AS ark
            FROM epts p JOIN books b USING (j)
        ) WHERE ark = 1
    ),
    q AS MATERIALIZED (SELECT id AS qid, v FROM emb WHERE ({q_pred})),
    qprobe AS MATERIALIZED (
        SELECT qid, cid, r FROM (
            SELECT qq.qid, c.cid,
                   list_transform(generate_series(1, {dims}),
                                  __i -> qq.v[__i] - c.cv[__i]) AS r,
                   ROW_NUMBER() OVER (
                       PARTITION BY qq.qid
                       ORDER BY {_l2sq_sql('qq.v', 'c.cv', dims)}, c.cid
                   ) AS prk
            FROM q qq CROSS JOIN coarse c
        ) WHERE prk <= {nprobe}
    ),
    qpts AS MATERIALIZED (
{slices('r').replace('__SRC__', 'qprobe')}
    ),
    tabs AS MATERIALIZED (
        SELECT qp.qid, qp.cid, b.j, b.c,
               {_l2sq_sql('qp.sub', 'b.cvec', dsub)} AS tval
        FROM qpts qp JOIN books b USING (j)
    ),
    scored AS MATERIALIZED (
        SELECT t.qid AS q_id, co.id AS n_id, round(SUM(t.tval), 10) AS adc_dist
        FROM codes co
        JOIN tabs t ON t.cid = co.cid AND t.j = co.j AND t.c = co.code
        WHERE co.id != t.qid
        GROUP BY 1, 2
    )
    SELECT q_id, n_id, adc_dist, rk FROM (
        SELECT q_id, n_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist, n_id) AS rk
        FROM scored
    ) WHERE rk <= {k}
    """


# sidecar manifest: the index's defining parameters, written with the
# build (underscore-prefixed — invisible to Spark's parquet listing).
# validate_ivf_pq_index derives its primary check from the LOADED
# arrays' own shapes (covering legacy manifest-less indexes), and
# cross-checks the manifest against those shapes when one is present
# (r9) — a disagreement means a mixed-generation or hand-edited index
# directory, which must raise rather than answer queries. The manifest
# also serves external tooling that wants the parameters without
# loading the index.
IVF_PQ_MANIFEST = "_ivf_pq_manifest.json"


def ivf_pq_save(
    path: str,
    cids: np.ndarray,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    encoded: DataFrame,
) -> None:
    """Persist an :func:`ivf_pq_index` build as a parquet directory —
    the build-once / query-many lifecycle a 100 TB deployment needs
    (the same posture as the minhash signature store): ``coarse``
    (nlist rows) and ``books`` (m*k rows) are kilobyte-scale metadata,
    ``codes`` is the distributed encoded frame (1 list id + m code
    shorts per vector — the only corpus-sized artifact). Doubles
    round-trip parquet bit-exactly, so a loaded index answers queries
    bit-identically to the in-memory build (pinned in tests).

    Crash safety (r8): all three subdirs plus the params manifest are
    written into ONE staged directory and published by the atomic
    staged/backup/rename swap (mirroring :func:`ivf_pq_compact`) —
    three independent overwrite writes left a kill window where new
    coarse/books landed over old codes, a mixed-generation index that
    loads without error and answers silently wrong."""
    import json

    from etl_pack_spark.sinks.atomic import (
        clean_orphan_stages,
        publish_swap,
        recover_swap,
        stage_dir,
    )
    from etl_pack_spark.sinks.fsio import write_text

    spark = encoded.sparkSession
    m, kcent, dsub = codebooks.shape
    recover_swap(path)
    clean_orphan_stages(path, "ivfpq_stage_")
    staged = stage_dir(path, prefix="ivfpq_stage_")
    spark.createDataFrame(
        [(int(c), [float(x) for x in cv]) for c, cv in zip(cids, centroids)],
        "cid long, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{staged}/coarse")
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in codebooks[j, c]])
            for j in range(m)
            for c in range(kcent)
        ],
        "j int, c int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{staged}/books")
    # __batch stamp (same posture as the minhash signature store): the
    # build is batch 0, appends stamp epoch-millis batch ids, and every
    # read resolves id -> highest-batch row, so a crashed-and-retried
    # append cannot surface duplicate neighbors
    encoded.withColumn(
        "__batch", F.lit(0).cast("long")
    ).write.mode("overwrite").parquet(f"{staged}/codes")
    write_text(
        spark,
        f"{staged}/{IVF_PQ_MANIFEST}",
        json.dumps(
            {"nlist": len(cids), "m": m, "pq_k": kcent, "dims": m * dsub}
        ),
    )
    publish_swap(staged, path)


def ivf_pq_manifest(spark, path: str) -> dict | None:
    """The saved index's parameter manifest, or ``None`` for a
    pre-manifest (legacy) index — callers then validate against the
    loaded arrays' own shapes, which carry the same information."""
    import json

    from etl_pack_spark.sinks.fsio import read_text

    raw = read_text(spark, f"{path.rstrip('/')}/{IVF_PQ_MANIFEST}")
    return None if raw is None else json.loads(raw)


def ivf_pq_load(spark, path: str):
    """Load a persisted IVF-PQ index: ``(cids, centroids, codebooks,
    encoded)`` exactly as :func:`ivf_pq_index` returned them. Only the
    kilobyte-scale coarse/books metadata is collected; codes stay a
    distributed frame. Recovers an interrupted :func:`ivf_pq_save`
    swap first (restores the pre-save index from its backup)."""
    from etl_pack_spark.sinks.atomic import recover_swap
    from etl_pack_spark.streaming.incremental import resolve_signature_store

    recover_swap(path)
    coarse = sorted(
        (r["cid"], r["cv"]) for r in spark.read.parquet(f"{path}/coarse").collect()
    )
    cids = np.array([c for c, _ in coarse], dtype=np.int64)
    C = np.array([cv for _, cv in coarse], dtype=np.float64)
    rows = spark.read.parquet(f"{path}/books").collect()
    m = 1 + max(r["j"] for r in rows)
    kcent = 1 + max(r["c"] for r in rows)
    dsub = len(rows[0]["cvec"])
    books = np.empty((m, kcent, dsub), dtype=np.float64)
    for r in rows:
        books[r["j"], r["c"]] = r["cvec"]
    codes = resolve_signature_store(spark, f"{path}/codes", "id")
    return cids, C, books, codes.select("id", "cid", "codes")


def validate_ivf_pq_index(
    built, nlist: int, m: int, pq_k: int, dims: int, path: str = "<index>",
    spark=None,
) -> None:
    """Raise ``ValueError`` when a loaded index's actual parameters —
    read from the loaded arrays themselves (len(cids), books.shape),
    so legacy pre-manifest indexes are covered too — differ from what
    the caller asked for. Without this, a path holding an index built
    under different nlist/m/pq_k (or over a different-dimension
    corpus) silently answers queries with mismatched state.

    With ``spark`` (r9), the sidecar manifest is ALSO cross-checked
    against the loaded arrays when present: the arrays are the ground
    truth, but a manifest that disagrees with them means the directory
    holds pieces of two different builds (a mixed-generation index —
    e.g. a manual copy that took codes from one build and coarse/books
    from another), which loads cleanly and answers silently wrong."""
    cids, C, books, _ = built
    got = {
        "nlist": len(cids),
        "m": int(books.shape[0]),
        "pq_k": int(books.shape[1]),
        "dims": int(books.shape[0] * books.shape[2]),
    }
    want = {"nlist": nlist, "m": m, "pq_k": pq_k, "dims": dims}
    bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    if bad:
        detail = ", ".join(
            f"{k}: index has {g}, call asked for {w}" for k, (g, w) in bad.items()
        )
        raise ValueError(
            f"persisted IVF-PQ index at {path} does not match the "
            f"requested parameters ({detail}) — rebuild the index or "
            f"match the call's nlist/m/pq_k/dims to the saved build"
        )
    if spark is not None and path != "<index>":
        manifest = ivf_pq_manifest(spark, path)
        if manifest is not None:
            drift = {
                k: (manifest.get(k), got[k])
                for k in got if manifest.get(k) != got[k]
            }
            if drift:
                detail = ", ".join(
                    f"{k}: manifest says {mv}, loaded arrays say {av}"
                    for k, (mv, av) in drift.items()
                )
                raise ValueError(
                    f"persisted IVF-PQ index at {path} is internally "
                    f"inconsistent ({detail}) — the manifest and the "
                    f"loaded coarse/books disagree, so the directory "
                    f"mixes pieces of different builds; rebuild it"
                )


def ivf_pq_append(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Append NEW vectors to a persisted IVF-PQ index WITHOUT
    retraining — the production posture (FAISS ``add()``): quantizers
    are frozen at build time so existing codes stay valid and the
    append is ONE map-only encode pass + a parquet append of (id, cid,
    codes) rows. Codebook drift from distribution shift is a REBUILD
    decision (compare recall on a holdout), never an implicit side
    effect of ingest. Returns the reloaded encoded frame (old + new).

    Caller contract: ids must be new (appending an EXISTING id is an
    update — latest-wins on read — not a duplicate).

    The codes store is an ordinary stamped store at ``path/codes``,
    shared with the signature stores: each append stamps its rows with
    a monotone epoch-millis ``__batch`` (``_MonotoneStamps``, seeded
    from the ``path/codes.last_stamp.json`` sidecar, so a backwards
    clock step cannot let an older append outrank a newer one) and
    runs under the store's exclusive lease
    (``path/codes.ingest_lease.json``), raising while another append or
    :func:`ivf_pq_compact` holds it. Every read resolves each id to its
    highest-batch row (``resolve_signature_store``), so an orchestrator
    retrying a crashed append re-writes rows that collapse on read —
    no duplicate neighbors, no manual cleanup. Dead superseded rows
    accumulate until :func:`ivf_pq_compact` rewrites the store."""
    from etl_pack_spark.streaming.incremental import (
        _append_stamped,
        _MonotoneStamps,
        _stamp_lease,
        resolve_signature_store,
    )

    codes_path = f"{path}/codes"
    with _stamp_lease(spark, codes_path):
        cids, C, books, _ = ivf_pq_load(spark, path)
        bc = spark.sparkContext.broadcast((cids, C, books))
        new_codes = df.select(
            F.col(id_col).alias("id"), F.col(vec).alias("v")
        ).mapInPandas(
            _encode_kernel(bc),
            schema="id long, cid long, codes array<smallint>",
        )
        stamps = _MonotoneStamps(spark, codes_path)
        _append_stamped(new_codes, codes_path, stamps.next())
        stamps.publish(spark, codes_path)
    return resolve_signature_store(spark, codes_path, "id").select(
        "id", "cid", "codes"
    )


def ivf_pq_compact(spark, path: str) -> int:
    """Compact the codes store to its RESOLVED content — one row per id
    at its latest batch, the rule every read applies, so query answers
    are unchanged — via ``compact_signature_store`` on ``path/codes``:
    crash-safe staged swap, the store's exclusive lease (raises while
    an :func:`ivf_pq_append` holds it), and a published compaction
    watermark so later loads take the merge-on-read path. Returns the
    compacted row count. Legacy unstamped files migrate to the stamped
    layout."""
    from etl_pack_spark.streaming.incremental import compact_signature_store

    return compact_signature_store(spark, f"{path}/codes", "id")
