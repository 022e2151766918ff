"""Persisted inverted-index postings store for BM25 / hybrid retrieval
(r14, round-13 VERDICT #5).

``retrieval.build_postings`` recomputes the full corpus tokenize +
explode + groupBy on every call — fine inside one session (the pool
caches it), but across cron firings a 100 TB corpus would pay the
complete postings build per query batch. Every other expensive
artifact in this engine (minhash signature stores, cluster stores,
IVF-PQ indexes, eval-fingerprint registries) already has a persisted
store with incremental append; this gives the retrieval family the
same lifecycle.

Store layout (all under ``path/``)::

    postings/   (term, id, tf, dl, __batch)   corpus-sized, slim — no text
    doclens/    (id, dl, __batch)             one row per doc, INCLUDING
                                              zero-token docs (avgdl must
                                              average over ALL docs —
                                              postings alone silently
                                              drop empty documents)
    _postings_manifest.json                   build parameters

plus the shared sibling sidecars ``path.last_stamp.json`` (monotone
``__batch`` stamps) and ``path.ingest_lease.json`` (single-writer
lease) — the exact signature-store recipe, reused wholesale.

Additivity (why append is cheap): postings and document-frequency /
idf statistics are ADDITIVE over disjoint doc sets, so an append only
tokenizes the NEW docs and appends their rows; df/idf are not stored
at all but derived at query time from the term-filtered postings
(vocabulary-of-the-query-sized aggregation), so they are always
consistent with the store's current resolved state — no stats table
to keep in sync.

Doc updates and replays: rows are stamped with a monotone epoch-millis
``__batch`` and reads resolve LATEST-WINS PER DOC — the winning batch
per id comes from ``doclens`` (``max_by``, combinable) and postings
join on ``(id, __batch)``, so a re-appended doc's old term rows lose
atomically with its old doclen. Within one append, ``postings`` is
written BEFORE ``doclens``: a crash between the two leaves the new
batch invisible (no doclens winner), never a doc resolving to an
empty posting list.

Scale shape: the build is the one corpus scan ``build_postings``
already is; appends scan only the delta; a query reads the postings
parquet with the term filter PUSHED to the scan (`term IN (...)` —
with term-sorted/bucketed files that is row-group pruning), then runs
the identical scoring core as the rebuild path — bit-identity is
pinned by tests.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pack_spark.operators.retrieval import (
    _bm25_score_batch,
    _bm25_score_single,
    _tokenize_py,
    build_postings,
)
from etl_pack_spark.operators.tokenize import tokens

POSTINGS_MANIFEST = "_postings_manifest.json"
# present iff the store MAY hold more than one generation per doc:
# postings_append creates it BEFORE writing any rows (so the fast path
# can never read a torn append), postings_save/postings_compact publish
# fresh single-generation trees without it — its absence lets
# postings_load skip the latest-wins winners join entirely (r14: at
# sf0.1 the join ate most of the store-vs-rebuild query saving)
APPENDS_MARKER = "_postings_has_appends"


def _manifest_path(path: str) -> str:
    return f"{path.rstrip('/')}/{POSTINGS_MANIFEST}"


def _doclens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc token length — one row per doc, zero-token docs kept."""
    return df.select(
        F.col(id_col).alias("id"), F.size(tokens(text_col)).alias("dl")
    )


def postings_save(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Full build → atomic publish: postings + doclens are written into
    ONE staged directory with ``__batch = 0`` and published by the
    staged/backup/rename swap (the IVF-PQ save posture) — independent
    writes would leave a kill window where new postings land over old
    doclens, a mixed-generation store that answers silently wrong."""
    from etl_pack_spark.sinks.atomic import (
        clean_orphan_stages,
        publish_swap,
        recover_swap,
        stage_dir,
    )
    from etl_pack_spark.sinks.fsio import write_text

    recover_swap(path)
    clean_orphan_stages(path, "postings_stage_")
    staged = stage_dir(path, prefix="postings_stage_")
    # term-range layout (r14): one range shuffle at build time so every
    # parquet row group covers a narrow term range — the query's pushed
    # In(term) filter then PRUNES row groups instead of scanning the
    # whole store, which is what makes this an inverted index on disk
    # and not just a cached tokenization (the pay-once/query-many
    # trade; appends stay unsorted and ride the filter until the next
    # compaction re-sorts them)
    build_postings(df, id_col, text_col).withColumn(
        "__batch", F.lit(0).cast("long")
    ).repartitionByRange("term").sortWithinPartitions("term") \
        .write.mode("overwrite").parquet(f"{staged}/postings")
    _doclens(df, id_col, text_col).withColumn(
        "__batch", F.lit(0).cast("long")
    ).write.mode("overwrite").parquet(f"{staged}/doclens")
    write_text(
        spark,
        f"{staged}/{POSTINGS_MANIFEST}",
        json.dumps({"id_col": id_col, "text_col": text_col, "version": 1}),
    )
    publish_swap(staged, path)


def postings_manifest(spark: SparkSession, path: str) -> dict:
    """The store's manifest — loud when absent (a postings dir without
    one is a partial copy or not a postings store at all)."""
    from etl_pack_spark.sinks.fsio import read_text

    raw = read_text(spark, _manifest_path(path))
    if raw is None:
        raise ValueError(
            f"{path!r} has no {POSTINGS_MANIFEST} — not a postings store "
            "(build one with postings_save)"
        )
    return json.loads(raw)


def postings_append(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    lease_ttl_ms: int | None = None,
) -> int:
    """Incremental append: tokenize ONLY ``new_docs`` and append their
    postings + doclens rows under one fresh monotone ``__batch`` stamp,
    under the store's exclusive ingest lease (two concurrent appenders
    fail loudly instead of interleaving batches). A re-appended doc id
    supersedes its previous rows at read time (latest-wins). Returns
    the number of docs appended.

    append == rebuild (pinned by tests): for disjoint doc ids,
    ``postings_load`` after appends resolves to exactly the rows a
    fresh :func:`postings_save` over the union corpus would hold."""
    from etl_pack_spark.streaming.incremental import (
        DEFAULT_LEASE_TTL_MS,
        _append_stamped,
        _MonotoneStamps,
        _publish_stamp,
        _stamp_lease,
    )

    meta = postings_manifest(spark, path)
    id_col, text_col = meta["id_col"], meta["text_col"]
    ttl = DEFAULT_LEASE_TTL_MS if lease_ttl_ms is None else lease_ttl_ms
    from etl_pack_spark.operators.cache import pooled_persist

    with _stamp_lease(spark, path, ttl_ms=ttl):
        stamps = _MonotoneStamps(spark, path)
        stamp = stamps.next()
        # persist the delta (r15, round-14 VERDICT #4): its lineage is
        # consumed three times below (count + postings build + doclens)
        # — on an incremental source that tripled the delta scan
        new_docs = pooled_persist(new_docs)
        n = new_docs.count()
        if n == 0:
            return 0
        # marker BEFORE any data (module/APPENDS_MARKER note): once it
        # exists, every read resolves latest-wins, so a torn append can
        # never be consumed by the single-generation fast path
        from etl_pack_spark.sinks.fsio import write_text

        write_text(spark, f"{path.rstrip('/')}/{APPENDS_MARKER}", "1")
        # postings FIRST, doclens second (module note: a crash between
        # the two must leave the new batch invisible, never a doc
        # resolving to an empty posting list)
        p = path.rstrip("/")
        _append_stamped(
            build_postings(new_docs, id_col, text_col), f"{p}/postings", stamp
        )
        _append_stamped(_doclens(new_docs, id_col, text_col), f"{p}/doclens", stamp)
        _publish_stamp(spark, path, stamp)
    return n


def postings_load(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Latest-wins resolved view of the store: ``(postings, doclens)``
    with the ``__batch`` machinery already applied — postings as
    ``(term, id, tf, dl)``, doclens as ``(id, dl)``, one generation per
    doc. The winner batch per id comes from doclens (a combinable
    ``max_by``); postings join the winners on ``(id, __batch)``, so a
    superseded generation's term rows drop with its doclen and a
    crashed append's orphan postings (batch never reached doclens) are
    invisible.

    Single-generation fast path (r14): a store that has never been
    appended to since its last save/compact (no ``APPENDS_MARKER``)
    holds exactly one generation per doc by construction, so the
    winners join is skipped and a query is scan + pushed term filter
    only — the join was most of the store-vs-rebuild query cost."""
    from etl_pack_spark.sinks.fsio import exists

    postings_manifest(spark, path)  # loud on a non-store dir
    p = path.rstrip("/")
    if not exists(spark, f"{p}/{APPENDS_MARKER}"):
        return (
            spark.read.parquet(f"{p}/postings")
            .select("term", "id", "tf", "dl"),
            spark.read.parquet(f"{p}/doclens").select("id", "dl"),
        )
    from etl_pack_spark.operators.cache import pooled_persist

    doclens = spark.read.parquet(f"{p}/doclens")
    # pooled persist (r15, round-14 VERDICT #4): winners is referenced
    # by BOTH returned frames, and a store query additionally derives
    # (n_docs, avgdl) from it — without the persist the corpus-sized
    # max_by aggregate would execute once per downstream action
    winners = pooled_persist(
        doclens.groupBy("id").agg(
            F.max(F.struct("__batch", "dl")).alias("__w")
        ).select(
            "id",
            F.col("__w.__batch").alias("__batch"),
            F.col("__w.dl").alias("dl"),
        )
    )
    postings = (
        spark.read.parquet(f"{p}/postings")
        .join(winners.select("id", "__batch"), ["id", "__batch"])
        .select("term", "id", "tf", "dl")
    )
    return postings, winners.select("id", "dl")


def _stats_from_doclens(doclens: DataFrame) -> tuple[int, float]:
    """``(n_docs, avgdl)`` from an already-resolved doclens frame — the
    query entry points derive stats from the SAME ``postings_load``
    result they score with (r15, round-14 VERDICT #4: resolving the
    store twice meant two manifest reads and, on an appended store, the
    corpus-sized doclens winners aggregate executed twice)."""
    n_docs, avgdl = doclens.agg(F.count("*"), F.avg("dl")).first()
    return int(n_docs), (1.0 if avgdl is None else float(avgdl))


def corpus_stats_from_store(
    spark: SparkSession, path: str
) -> tuple[int, float]:
    """``(n_docs, avgdl)`` over the resolved store — the same two
    scalars the rebuild path computes from the corpus, derived from the
    slim doclens table (one bounded aggregate, no text scan)."""
    _, doclens = postings_load(spark, path)
    return _stats_from_doclens(doclens)


def bm25_topk_store(
    spark: SparkSession,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """:func:`retrieval.bm25_topk` answered FROM the persisted store —
    no corpus scan, no postings rebuild: the term filter is pushed to
    the postings parquet scan and the scoring core is the shared
    ``_bm25_score_single``, so results are bit-identical to the rebuild
    path over the store's resolved corpus (pinned by tests)."""
    q_terms = sorted({t for t in _tokenize_py(query) if t})
    if not q_terms:
        raise ValueError("query has no tokens")
    # ONE store resolution per query (r15): stats come from the same
    # loaded doclens frame the scoring postings share
    postings, doclens = postings_load(spark, path)
    n_docs, avgdl = _stats_from_doclens(doclens)
    return _bm25_score_single(postings, (n_docs, avgdl), q_terms, k, k1, b)


def bm25_topk_batch_store(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    q_id_col: str = "q_id",
    q_text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_self: bool = False,
) -> DataFrame:
    """:func:`retrieval.bm25_topk_batch` answered FROM the persisted
    store — the hybrid-retrieval BM25 arm without the per-firing
    postings rebuild. Same scoring core, same ranking, bit-identical
    to the rebuild path over the store's resolved corpus."""
    q_terms = (
        queries.select(
            F.col(q_id_col).alias("q_id"),
            F.explode(tokens(q_text_col)).alias("term"),
        )
        .distinct()
    )
    postings, doclens = postings_load(spark, path)
    n_docs, avgdl = _stats_from_doclens(doclens)
    return _bm25_score_batch(
        postings, (n_docs, avgdl), q_terms, k, k1, b, exclude_self
    )


def postings_compact(
    spark: SparkSession,
    path: str,
    lease_ttl_ms: int | None = None,
) -> int:
    """Compact the store to one live generation per doc — the lifecycle
    step every other store here has (signature/cluster stores share
    ``compact_signature_store``; postings need their own because a doc
    owns MANY term rows, not one): the latest-wins resolved view is
    rewritten wholesale, superseded generations and torn-append orphans
    drop out, and the winners join over the compacted store touches no
    dead rows. All compacted rows carry ``__batch`` = the highest stamp
    currently visible, and the stamp sidecar (a SIBLING, so the swap
    cannot drop it) already floors future appends above it — an append
    after compaction still wins. Runs under the store's exclusive
    ingest lease (a compactor racing an appender would fold a torn
    batch into the rewrite); publishes via the atomic staged swap.
    Returns the number of live docs."""
    from etl_pack_spark.sinks.atomic import (
        clean_orphan_stages,
        publish_swap,
        recover_swap,
        stage_dir,
    )
    from etl_pack_spark.sinks.fsio import write_text
    from etl_pack_spark.streaming.incremental import (
        DEFAULT_LEASE_TTL_MS,
        _stamp_lease,
    )

    meta = postings_manifest(spark, path)
    ttl = DEFAULT_LEASE_TTL_MS if lease_ttl_ms is None else lease_ttl_ms
    with _stamp_lease(spark, path, ttl_ms=ttl):
        recover_swap(path)
        clean_orphan_stages(path, "postings_stage_")
        p = path.rstrip("/")
        top = spark.read.parquet(f"{p}/doclens") \
            .agg(F.max("__batch")).first()[0] or 0
        postings, doclens = postings_load(spark, path)
        staged = stage_dir(path, prefix="postings_stage_")
        # both writes MATERIALIZE from the live store before the swap
        # touches it (the staged/backup/rename recipe); compaction also
        # restores the term-range layout appends disturbed (save note)
        postings.withColumn(
            "__batch", F.lit(int(top)).cast("long")
        ).repartitionByRange("term").sortWithinPartitions("term") \
            .write.mode("overwrite").parquet(f"{staged}/postings")
        doclens.withColumn(
            "__batch", F.lit(int(top)).cast("long")
        ).write.mode("overwrite").parquet(f"{staged}/doclens")
        write_text(spark, f"{staged}/{POSTINGS_MANIFEST}", json.dumps(meta))
        n_docs = spark.read.parquet(f"{staged}/doclens").count()
        publish_swap(staged, path)
    return n_docs
