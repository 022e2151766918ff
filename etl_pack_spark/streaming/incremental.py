"""Structured Streaming replacement for the reference's cron loop (X1).

The reference re-runs a full extract→dedup→load pipeline on a cron rule
(provider.go:69-87) and tracks progress only via the cursor window plus
hash dedup. The idiomatic Spark equivalent is a Structured Streaming
job with the ``availableNow`` trigger: each invocation processes
exactly the files that arrived since the last checkpoint, then exits —
same operational shape as a cron firing, but progress tracking is the
checkpoint (exact, file-level) instead of a cursor heuristic, and a
resident deployment just switches the trigger to ``processingTime``.

Transformations are plain DataFrame functions usable in BOTH batch and
streaming (``windowed_event_counts`` runs under ``spark.sql`` in the
correctness suite and under readStream here) — one definition, two
execution modes, which is exactly the Catalyst promise.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_pack_spark.operators.dedup import incremental_load
from etl_pack_spark.plans.merge import apply_cdc
from etl_pack_spark.sinks import fsio
from etl_pack_spark.sources.reader import open_parquet

# a crashed ingest-lease holder blocks its store for at most this long
# (see _stamp_lease); must exceed the longest legitimate firing
DEFAULT_LEASE_TTL_MS = 3_600_000


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window per-type event aggregation. With ``watermark``
    (streaming) late data beyond the bound is dropped and state is
    reclaimed — the late-data story the reference simply doesn't have.
    Money sums go through exact decimals (suite convention)."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _events_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events parquet directory, rebuilding the
    nanosecond timestamp column (same normalization as the batch
    reader). ``max_files_per_trigger`` bounds micro-batch size — the
    standard backpressure control when one availableNow firing drains a
    large backlog (without it, the firing is one giant batch whose
    shuffle must fit executor memory all at once)."""
    import hashlib
    import os
    import tempfile

    batch_schema = spark.read.parquet(source_dir).schema
    # deliberately driver-local os.path: this mirror exists only for
    # single-FILE local fixtures; a remote/directory source answers
    # False here and streams directly (the normal path at scale)
    if os.path.isfile(source_dir):
        # The streaming file source requires a directory (its basePath is
        # forced to the given path). Mirror a single-file fixture into a
        # stable temp directory via symlink — zero-copy, read-only safe.
        key = hashlib.md5(source_dir.encode()).hexdigest()[:12]
        mirror = os.path.join(tempfile.gettempdir(), f"etl_pack_stream_{key}")
        os.makedirs(mirror, exist_ok=True)
        link = os.path.join(mirror, os.path.basename(source_dir))
        if not os.path.exists(link):
            os.symlink(source_dir, link)
        source_dir = mirror
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(source_dir)
    ts_type = dict((f.name, f.dataType.simpleString()) for f in batch_schema.fields).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks/event-time windows require TIMESTAMP (LTZ); the UTC
        # session makes the cast instant-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _latest_committed_batch(spark: SparkSession, checkpoint: str) -> int:
    """Highest batch id in the checkpoint's ``commits/`` log (one file
    per committed micro-batch, named by its id; -1 when none exist).
    Batch ids are sequential for the life of a checkpoint, so the
    max-id DELTA across a firing is its exact micro-batch count —
    unlike ``len(query.recentProgress)``, capped at
    ``numRecentProgressUpdates`` (default 100), and unlike counting the
    commit files themselves, which the log PURGES past
    ``minBatchesToRetain`` (also 100 — a 105-batch firing leaves 101
    files; measured, round-14 VERDICT #2). Scheme-agnostic (Hadoop FS)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint + "/commits")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return -1
    latest = -1
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.isdigit():
            latest = max(latest, int(name))
    return latest


def _fire(stream: DataFrame, checkpoint: str, fold) -> int:
    """One ``availableNow`` firing: run ``fold(batch_df, batch_id)``
    over every micro-batch the checkpoint has not yet seen, then exit.
    Returns the number of micro-batches, counted in the callback
    itself: ``query.recentProgress`` is capped at
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100), so
    a larger backlog drained in one firing would under-report through
    it."""
    seen_batches: list[int] = []

    def run(batch_df: DataFrame, batch_id: int) -> None:
        seen_batches.append(batch_id)
        fold(batch_df, batch_id)

    query = (
        stream.writeStream.foreachBatch(run)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    query.awaitTermination()
    query.stop()
    return len(seen_batches)


def _append_stamped(df: DataFrame, path: str, stamp: int) -> None:
    """Append ``df`` to the stamped store at ``path`` with every row
    carrying ``__batch = stamp`` (a long; see :class:`_MonotoneStamps`
    for where stamps come from)."""
    df.withColumn("__batch", F.lit(stamp).cast("long")).write.mode(
        "append"
    ).parquet(path)


def stream_transfer(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint: str,
    window: str = "1 hour",
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> int:
    """One cron-firing-equivalent: process all files not yet seen by the
    checkpoint through the windowed aggregation, append to the target,
    exit. Returns the number of micro-batches processed (counted from
    the checkpoint commits log — the native parquet sink keeps its
    exactly-once ``_spark_metadata`` transaction log, so no foreachBatch
    counter can ride here; the commits delta is the uncapped count)."""
    before = _latest_committed_batch(spark, checkpoint)
    stream = _events_stream(spark, source_dir, max_files_per_trigger)
    agg = windowed_event_counts(stream, window=window, watermark=watermark)
    query = (
        agg.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", target_path)
        .start()
    )
    query.awaitTermination()
    query.stop()
    return _latest_committed_batch(spark, checkpoint) - before


def stream_incremental_transfer(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint: str,
) -> int:
    """The reference's incremental dedup load (H1-H3) under streaming:
    each micro-batch is anti-joined against the CURRENT target hash
    snapshot inside foreachBatch, then appended — checkpoint handles
    at-least-once delivery, the hash anti-join makes it effectively
    exactly-once on content (the same idempotence argument as the
    reference's re-runs, provider.go:218)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        target = None
        # scheme-aware (r9): a missed probe on an object-store target
        # would skip the snapshot anti-join and re-append every batch
        if fsio.exists(batch_df.sparkSession, target_path):
            target = open_parquet(batch_df.sparkSession, target_path)
        incremental_load(batch_df, target).write.mode("append").parquet(target_path)

    return _fire(_events_stream(spark, source_dir), checkpoint, upsert)


def stream_cdc_apply(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint: str,
    keys: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
) -> int:
    """CDC change-stream application under ``availableNow``: each
    invocation folds the I/U/D change files that arrived since the last
    checkpoint into the parquet target via :func:`plans.merge.apply_cdc`
    (latest change per key wins, winning deletes delete) — the load mode
    the reference's cron loop lacks, run in its cron-firing shape.

    Exactly-once NET EFFECT without a transactional sink: apply_cdc is
    idempotent under re-delivery (a change not newer than the stored row
    is a no-op), so micro-batches replayed between checkpoint commit and
    target swap fold to the same table, and two incremental firings
    equal one batch application — pinned by tests/test_streaming.py.
    ORDER still matters ACROSS batches: apply_cdc keeps no delete
    tombstones, so a batch with an old insert applied AFTER a later
    batch already deleted that key would resurrect it — correctness
    here rests on the file source's deterministic file ordering per
    checkpoint, which replays batches in their original order. The
    target swap is write-staged / backup / rename with crash recovery
    (an interrupted swap restores the backup on the next firing, then
    the checkpoint replays the batch); a real deployment would swap in
    a transactional table format (Delta / Iceberg MERGE) with the
    identical plan shape.

    Returns the number of micro-batches processed.
    """
    import os

    from etl_pack_spark.sinks.atomic import (
        clean_orphan_stages,
        posix_path,
        publish_swap,
        recover_swap,
        stage_dir,
    )

    # the target is RENAME-SWAPPED, so it is POSIX-scoped by design:
    # normalize file: URIs and fail loudly on object-store schemes up
    # front (r9) — there a transactional format replaces the swap
    target_path = posix_path(target_path)

    schema = spark.read.parquet(source_dir).schema

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # crash recovery: a previous firing died mid-swap (the
        # checkpoint will replay that batch after the restore); a
        # PRE-swap crash instead orphaned its staging dir — drop those
        recover_swap(target_path)
        clean_orphan_stages(target_path, "cdc_stage_")
        cols = [c for c in batch_df.columns if c != op_col]
        if os.path.exists(target_path):
            target = sess.read.parquet(target_path)
        else:
            target = batch_df.select(*cols).limit(0)
        merged = apply_cdc(target, batch_df, keys, ts_col, op_col=op_col)
        # fixed prefix (no batch id): the stage/cleanup pair must use
        # ONE name family for orphan matching to work across firings
        staged = stage_dir(target_path, prefix="cdc_stage_")
        # materialize BEFORE touching the target (the merged plan reads
        # it); the swap never leaves a moment where neither target nor
        # backup holds the pre-batch table (plain rmtree-then-rename had
        # a kill window that silently emptied the target on replay)
        merged.write.mode("overwrite").parquet(staged)
        publish_swap(staged, target_path)

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return _fire(stream, checkpoint, fold)


def _source_schema_or_none(spark: SparkSession, path: str):
    """Schema of a parquet source dir, or ``None`` when the dir is
    missing or holds no data files yet. A resident monitor is deployed
    BEFORE the first crawl slice lands, so "nothing there yet" is a
    normal state, not an error — the loud posture belongs to the
    baseline store, whose absence really is deployment breakage."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).schema
    except AnalysisException:
        return None


def stream_quality_drift(
    spark: SparkSession,
    source_path: str,
    baseline_hist: str,
    checkpoint: str,
    report_out: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    schema=None,
) -> int:
    """Streaming quality-drift monitor (r13): every new docs file that
    lands under ``source_path`` is PSI-checked against the SAVED
    baseline histogram at ``baseline_hist`` in its micro-batch, and
    the per-signal verdicts are appended to the ``report_out`` history
    store (``mode="drift_stream"``, ``detail`` = the micro-batch id) —
    the resident twin of the per-firing ``cli --drift`` check, run in
    its ``availableNow`` cron-firing shape with checkpoint-tracked
    file progress. "Today's crawl slice drifted" is caught PER
    ARRIVING SLICE instead of per scheduled rescan of the whole batch
    directory, and the history store trends it like every other report
    mode.

    A missing or still-empty ``source_path`` is NOT an error: the
    monitor is naturally deployed before the day's first crawl slice
    lands, so that firing returns 0 batches and the next firing scores
    whatever arrived (pass ``schema=`` to pin the expected slice schema
    up front instead of inferring it from the first file).

    The baseline must be a histogram SAVED by ``--drift-save-baseline``
    (its in-dir ``_drift_config.json`` is required — the save path
    always writes it, and bucketing the stream with any other config
    would PSI differently-bucketed histograms; same loud posture as
    the batch CLI). The baseline frame and config are read ONCE per
    firing, not per batch.

    Scale shape: each micro-batch does one ``text_signals`` projection
    (map-only) + one bucket groupBy — state is the histogram, a few
    dozen rows, regardless of slice size; the PSI join is report-sized;
    the report append is one tiny parquet file per batch. At-least-once
    (a replayed batch appends its rows again, stamped with a new
    firing time); trend readers group by ``fired_at_ms``.

    Returns the number of micro-batches processed.
    """
    from etl_pack_spark.operators.quality import (
        append_report_rows,
        drift_config_from_json,
        psi_report,
        signal_histogram,
    )
    from etl_pack_spark.operators.textops import text_signals

    base_df = spark.read.parquet(baseline_hist)
    if set(base_df.columns) != {"signal", "bucket", "n", "p"}:
        raise ValueError(
            f"{baseline_hist!r} is not a saved drift histogram "
            "(expected columns signal/bucket/n/p — produce one with "
            "cli --drift DOCS --drift-save-baseline HIST)"
        )
    stored = fsio.read_text(
        spark, baseline_hist.rstrip("/") + "/_drift_config.json"
    )
    if stored is None:
        raise ValueError(
            f"baseline histogram {baseline_hist!r} has no "
            "_drift_config.json — the store is tampered or partially "
            "copied; re-save the baseline"
        )
    edges, categories = drift_config_from_json(stored)
    # the baseline is a few dozen rows: collect once, rebuild per
    # session inside foreachBatch (a captured DataFrame would be bound
    # to the outer session)
    base_rows = [(r["signal"], r["bucket"], r["n"], r["p"])
                 for r in base_df.collect()]

    if not fsio.exists(spark, source_path):
        # deployed before the first slice landed: 0 batches, no
        # checkpoint to advance — the next firing picks it up (the
        # stream source itself raises PATH_NOT_FOUND on a missing dir
        # even when the schema is pinned, so this gate is uncondit.)
        return 0
    if schema is None:
        schema = _source_schema_or_none(spark, source_path)
        if schema is None:
            return 0  # dir exists but holds no data files yet

    def check(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return  # an empty replay batch has no histogram to score
        sess = batch_df.sparkSession
        base = sess.createDataFrame(
            base_rows, "signal string, bucket int, n long, p double"
        )
        rep = psi_report(
            base,
            signal_histogram(
                text_signals(batch_df, id_col, text_col),
                edges, categories,
            ),
        )
        append_report_rows(
            sess, report_out,
            [{"metric": r["signal"], "value": r["psi"],
              "verdict": r["verdict"]} for r in rep.collect()],
            mode="drift_stream", subject=source_path,
            detail=str(batch_id),
        )

    stream = spark.readStream.schema(schema).parquet(source_path)
    return _fire(stream, checkpoint, check)


def dedup_stream(events: DataFrame, key_cols: list[str], watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup — the streaming twin of the batch
    anti-join flagship (H3). ``dropDuplicatesWithinWatermark`` keeps
    per-key state only inside the watermark horizon, so state is
    bounded by the late-data window, not by history: the batch
    anti-join owns cross-run dedup (against the target snapshot), this
    owns intra-stream duplicates (retries, at-least-once sources).
    Works in batch mode too (falls back to plain dropDuplicates
    semantics over the bounded input).
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)
    return events.dropDuplicates(key_cols)


def stream_neardup_ingest(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    matches_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_est: float = 0.5,
    lease_ttl_ms: int = DEFAULT_LEASE_TTL_MS,
) -> int:
    """Near-dup-on-ingest under ``availableNow``: each micro-batch of
    new documents is matched against the persisted minhash signature
    STORE (old corpus text is never rescanned — the store is the only
    state, ~128 B/doc), matches appended to ``matches_path``, and the
    batch's own signatures appended to the store so later batches and
    firings see them. The reference's cron-incremental posture
    (provider.go:69-87) lifted from exact-hash to near-dup.

    Invariant (pinned in tests/test_streaming.py): streaming the
    corpus in over ANY sequence of firings/micro-batches yields, as
    distinct unordered pairs, exactly the pairs a full batch
    self-match reports — every pair is new-new within some batch or
    new-old across batches, and the estimator is a pure function of
    the two signatures.

    Delivery semantics: the store is exactly-once on CONTENT — a
    replayed batch's signatures are absorbed by the anti-join (its ids
    are already in the store) plus the latest-wins read, the same
    idempotence argument as the exact-dedup flagship. The matches sink
    is at-least-once (replays can append the same pair twice); readers
    take ``DISTINCT``, which is total because (id_a, id_b,
    est_jaccard) is deterministic.

    Updated-document semantics: re-ingesting an existing ``id`` with
    changed text REPLACES its stored signature for all later matching
    — the store carries an append stamp and reads resolve each id to
    its highest-stamp signature (``max_by``; a replayed batch rewrites
    value-identical rows, so whichever stamp wins the content is the
    same). The stamp is EPOCH MILLIS, not the streaming micro-batch id
    (r8): micro-batch ids restart at 0 under a fresh checkpoint, so a
    post-compaction append could land BELOW the store's compaction
    watermark and be misclassified as compacted base. Stamps are made
    MONOTONE BY CONSTRUCTION (r9): ``max(last_emitted + 1, now_ms)``
    seeded from a sidecar recording the previous firing's highest
    stamp — ``time.time()`` alone is not monotone (backwards NTP step,
    two micro-batches in one millisecond), and both the latest-wins
    rule and the watermark split need strict progression
    (:class:`_MonotoneStamps`). The id's own old-vs-new
    signatures are never emitted as a match pair (same document, not a
    duplicate). Ids must be unique WITHIN one micro-batch — two texts
    under one id in the same batch have no defined winner.

    Concurrency (r10 ADVICE — ENFORCED): one ingest firing at a time
    per store. The whole firing runs under an exclusive lease file
    next to the stamp sidecar (:func:`_stamp_lease`); a second
    concurrent firing raises instead of racing the sidecar seed —
    overlapping firings could publish a floor above a still-running
    firing's uncommitted stamps, and the fold's "below the floor means
    fully committed" invariant would silently break.
    """
    from etl_pack_spark.operators.neardup import (
        minhash_match_incremental,
        minhash_signature,
    )
    from etl_pack_spark.operators.tokenize import shingle_rows

    def fold(batch_df: DataFrame, stamps: _MonotoneStamps) -> None:
        batch = batch_df.select(id_col, text_col)
        sig_batch = minhash_signature(
            shingle_rows(batch, id_col, text_col, k, distinct=False),
            id_col, num_hashes,
        )
        _fold_signatures(
            store_path, matches_path, id_col, sig_batch, batch.select(id_col),
            lambda sig_old: minhash_match_incremental(
                batch, sig_old, id_col, text_col,
                k=k, num_hashes=num_hashes, bands=bands, min_est=min_est,
            ),
            stamps.next(),
        )

    return _stamped_ingest(
        spark, source_dir, store_path, checkpoint, lease_ttl_ms, fold,
        sidecars=(store_path, matches_path),
    )


def stream_media_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    matches_path: str,
    checkpoint: str,
    media_id_col: str = "media_id",
    content_col: str = "content",
    max_hamming: int = 6,
    lease_ttl_ms: int = DEFAULT_LEASE_TTL_MS,
    fake: bool = False,
) -> int:
    """Image near-dup-on-ingest under ``availableNow`` (r15): the
    multimodal member of the resident-dedup family. Each micro-batch
    of media payloads is dHashed (:func:`operators.multimodal.
    image_dhash` — PNG/JPEG/GIF/BMP/PPM, incl. :func:`pdf_images`
    output), matched against the persisted dHash signature STORE via
    :func:`operators.neardup.hamming_match_incremental` (payload bytes
    are never retained — 8 B of signature per image is the only
    state), matches appended, and the batch's signatures appended
    under the same monotone ``__batch`` stamp so later batches and
    firings see them.

    Same contract as :func:`stream_neardup_ingest`, inherited
    wholesale: exactly-once store on content (replay absorber
    anti-join + latest-wins read), at-least-once matches (readers take
    DISTINCT — total because (id_a, id_b, hamming) is deterministic),
    exclusive per-store ingest lease, compaction via
    :func:`compact_signature_store`. Undecodable payloads (null dHash)
    are skipped — they have no signature to match or store; quarantine
    them upstream via the decoders' status columns.

    ``fake=True`` hashes raw bytes (md5 prefix) so the plumbing runs
    on non-image fixtures — identical plan shape, pinned in tests.
    Returns the number of micro-batches processed."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.multimodal import image_dhash
    from etl_pack_spark.operators.neardup import hamming_match_incremental

    def fold(batch_df: DataFrame, stamps: _MonotoneStamps) -> None:
        media = batch_df.select(
            F.col(media_id_col).alias("media_id"),
            F.col(content_col).alias("content"),
        )
        # persist the batch signatures: the pixel decode is the
        # expensive leg and feeds BOTH the match plan and the store
        # append — it must run once per batch, not twice
        sig_batch = pooled_persist(
            image_dhash(media, fake=fake)
            .where(F.col("dhash").isNotNull())
            .select(F.col("media_id").alias(media_id_col), "dhash")
        )
        _fold_signatures(
            store_path, matches_path, media_id_col, sig_batch,
            sig_batch.select(media_id_col),
            lambda sig_old: hamming_match_incremental(
                sig_batch, sig_old, media_id_col, "dhash",
                max_hamming=max_hamming,
            ),
            stamps.next(),
        )

    return _stamped_ingest(
        spark, source_dir, store_path, checkpoint, lease_ttl_ms, fold,
        sidecars=(store_path, matches_path),
    )


def stream_url_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    out_path: str,
    checkpoint: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    lease_ttl_ms: int = DEFAULT_LEASE_TTL_MS,
) -> int:
    """URL-keyed crawl dedup ON INGEST under ``availableNow`` — the
    crawl-frontier posture: each micro-batch canonicalizes its URLs
    (``operators.urls``), keeps one row per canonical URL within the
    batch (min ``id_col``), drops rows whose canonical URL the
    persisted STORE has already admitted, appends survivors (plus
    their canonical URL) to ``out_path``, and appends the survivors'
    URL→winner rows to the store so later batches and firings see
    them. The store is the only retained state (~one short row per
    distinct URL ever admitted); old corpus rows are never rescanned —
    the same incremental posture as the exact-hash flagship and the
    minhash signature store, lifted to the C4/CCNet first-line key.

    Winner semantics are FIRST-FETCH-WINS across batches (crawl
    order): a URL's winner is the min ``id_col`` within the batch
    that first admitted it, and later re-fetches lose regardless of
    id — ingest never retracts already-admitted rows. Rows whose URL
    is NULL/unparseable pass through to ``out_path`` (never stored,
    never deduped — dropping them would delete every malformed-URL
    doc as "duplicates of NULL").

    Delivery: the output sink is at-least-once (a replayed batch can
    re-append the same surviving rows; readers take per-``id_col``
    DISTINCT, which is total because the row content is
    deterministic); the store is append-only and replays converge —
    re-appended URL rows carry the same winner, and the anti-join
    makes extra copies harmless. Append stamps are monotone epoch
    millis (r8/r9, same rationale and construction as
    :func:`stream_neardup_ingest`: checkpoint-reset micro-batch ids
    would fall below a compaction watermark, and a bare clock is not
    monotone — :class:`_MonotoneStamps`). One firing at a time per
    store, enforced by the same lease as
    :func:`stream_neardup_ingest` (r10 ADVICE).
    """
    from etl_pack_spark.operators.urls import dedup_by_url

    def fold(batch_df: DataFrame, stamps: _MonotoneStamps) -> None:
        sess = batch_df.sparkSession
        batch = dedup_by_url(batch_df, url_col, id_col)
        with_url = batch.where(F.col("canonical_url").isNotNull())
        nulls = batch.where(F.col("canonical_url").isNull())
        # scheme-aware probe: an os.path miss on an object-store
        # path would re-admit every previously-seen URL
        if fsio.exists(sess, store_path):
            store = sess.read.parquet(store_path).select("canonical_url")
            fresh = with_url.join(store, "canonical_url", "left_anti")
        else:
            fresh = with_url
        # persist: the out-path and store writes below would
        # otherwise EACH recompute the canonicalize+window lineage
        # and rescan the persisted store (which grows with every
        # admitted URL)
        fresh = fresh.persist()
        try:
            # output BEFORE store: a crash between the two re-emits
            # the batch's survivors on replay (at-least-once output)
            # instead of silently dropping them (store-first would
            # anti-join the replay away with nothing written)
            fresh.unionByName(nulls).write.mode("append").parquet(out_path)
            winners = fresh.select("canonical_url", F.col(id_col).alias("winner_id"))
            _append_stamped(winners, store_path, stamps.next())
        finally:
            fresh.unpersist()

    return _stamped_ingest(
        spark, source_dir, store_path, checkpoint, lease_ttl_ms, fold,
        sidecars=(store_path,),
    )


def _stamped_ingest(
    spark: SparkSession, source_dir: str, store_path: str, checkpoint: str,
    lease_ttl_ms: int, fold, sidecars: tuple[str, ...],
) -> int:
    """The firing every stamped ingest shares: stream ``source_dir``
    under ``availableNow`` and run ``fold(batch_df, stamps)`` per
    micro-batch, all under the store's exclusive lease, then publish
    the highest emitted stamp next to each path in ``sidecars``.
    Returns the number of micro-batches.

    ONE FIRING AT A TIME per store, enforced: the lease covers the
    whole firing, from the sidecar seed to the post-commit publishes,
    so no concurrent firing can seed from the same sidecar and publish
    a floor above this firing's still-uncommitted stamps. The stamper
    is seeded from the store's sidecar, so stamps are monotone by
    construction, not by trusting the clock. The sidecars are
    published only AFTER every micro-batch committed, so a fold's
    safety-lag cutoff can treat stamps <= that floor as provably fully
    listed — closing the starvation window where a backwards NTP step
    leaves monotone stamps ahead of wall-clock until the clock catches
    up."""
    schema = spark.read.parquet(source_dir).schema
    with _stamp_lease(spark, store_path, ttl_ms=lease_ttl_ms):
        stamps = _MonotoneStamps(spark, store_path)
        stream = spark.readStream.schema(schema).parquet(source_dir)
        n = _fire(stream, checkpoint, lambda batch_df, _: fold(batch_df, stamps))
        for path in sidecars:
            stamps.publish(spark, path)
    return n


def _fold_signatures(
    store_path: str, matches_path: str, id_col: str, sig_batch: DataFrame,
    batch_ids: DataFrame, match, stamp: int,
) -> None:
    """One micro-batch of a signature-store ingest: ``match(sig_old)``
    pairs the batch against the store's latest signatures, then the
    matches and the batch's signatures ``sig_batch`` are appended
    under ``stamp``. Store ids in ``batch_ids`` are left out of
    ``sig_old`` (the replay absorber: a batch whose signatures already
    landed must not self-match against them). Matches carry the
    stamp so downstream incremental consumers
    (:func:`update_cluster_store`) can fold only the not-yet-processed
    tail."""
    sess = sig_batch.sparkSession
    # scheme-aware probe: os.path here read an s3a: store as absent —
    # EXISTING history silently skipped, missed dedup
    if fsio.exists(sess, store_path):
        sig_old = (
            resolve_signature_store(sess, store_path, id_col)
            .drop("__batch")
            .join(batch_ids, id_col, "left_anti")
        )
    else:
        sig_old = sig_batch.limit(0)
    _append_stamped(match(sig_old), matches_path, stamp)
    # append AFTER the match (the match plan reads the pre-batch store)
    _append_stamped(sig_batch, store_path, stamp)


def _stamp_sidecar(store_path: str) -> str:
    """Last-emitted-stamp sidecar, a SIBLING of the store directory
    (compaction's staged swap replaces the dir, so an in-dir sidecar
    would be dropped — same placement rule as the clusters fold
    marker)."""
    return store_path.rstrip("/") + ".last_stamp.json"


def _stamp_floor(spark: SparkSession, store_path: str) -> int:
    """The highest ``__batch`` stamp any previous firing emitted for
    this store (0 when never recorded — legacy stores fall back to the
    clock alone, which is the pre-r9 behavior)."""
    import json

    raw = fsio.read_text(spark, _stamp_sidecar(store_path))
    return int(json.loads(raw)["last_stamp"]) if raw is not None else 0


def _publish_stamp(spark: SparkSession, store_path: str, stamp: int) -> None:
    import json

    fsio.write_text(
        spark, _stamp_sidecar(store_path), json.dumps({"last_stamp": int(stamp)})
    )


def _lease_path(store_path: str) -> str:
    """Ingest-lease sidecar, a SIBLING of the store directory next to
    the stamp sidecar (same placement rule: compaction's staged swap
    must not drop it)."""
    return store_path.rstrip("/") + ".ingest_lease.json"




def _reclaim_stale(spark: SparkSession, store_path: str, lease: str,
                   judged_raw: str | None, payload: str,
                   token: str) -> None:
    """Overtake a lease already judged stale by the caller: guarded
    delete + re-create + read-back.

    r12 (r11 ADVICE): the delete is GUARDED — the lease is re-read
    immediately before it, and the overtake aborts unless the payload
    is still the exact bytes that were judged stale. Without the
    guard, two contenders that both judged the same stale lease each
    ran an unconditional delete+create: contender B could pass its
    read-back, then the slower contender C would delete B's FRESH
    lease and create its own, leaving BOTH holding — the read-back
    closes the create race but not the delete race. With the guard, C
    re-reads after B's create and sees B's payload (not the judged
    stale bytes), so it aborts without touching B's lease.

    The remaining window is [guarded re-read → delete]: for it to
    misfire, B's delete+create must BOTH land inside C's
    microsecond-scale gap between re-reading the stale bytes and
    issuing the delete — two filesystem round-trips inside one —
    versus the old protocol's window of B's entire create-to-read-back
    span sitting anywhere inside C's judge-to-delete span (seconds,
    since judging includes a read and JSON parse of a file both
    contenders raced to). A zero-window takeover needs an atomic
    compare-and-swap, which the Hadoop FileSystem contract does not
    offer (rename-based takeover moves the race to the rename target
    instead of closing it: renaming the lease away cannot distinguish
    the judged stale file from a successor's fresh lease either).

    A vanished lease (``judged_raw`` observed but the re-read returns
    None) means the holder released or another reclaimer won the
    delete — fall through to the create, which then either wins
    cleanly or loses loudly at the read-back."""
    import json

    current = fsio.read_text(spark, lease)
    if current is not None and current != judged_raw:
        raise RuntimeError(
            f"lost the race re-acquiring a stale ingest lease on "
            f"{store_path!r} — another firing already replaced it"
        )
    if current is not None:
        fsio.delete(spark, lease)
    fsio.create_exclusive(spark, lease, payload)
    # VERIFY we are the holder (two overtakers can both pass the
    # create on stores without atomic create-if-absent)
    back = fsio.read_text(spark, lease)
    try:
        winner = json.loads(back)["token"]
    except (TypeError, ValueError, KeyError):
        winner = None
    if winner != token:
        raise RuntimeError(
            f"lost the race re-acquiring a stale ingest lease on "
            f"{store_path!r} — another firing took it first"
        )


@_contextmanager
def _stamp_lease(spark: SparkSession, store_path: str,
                 ttl_ms: int = DEFAULT_LEASE_TTL_MS):
    """Enforce the ONE-FIRING-AT-A-TIME contract on a stamped store
    (r10 ADVICE): the matches-sidecar floor means "every stamp at or
    below this is fully committed", which is only true if ingest
    firings never overlap — two concurrent firings seed
    :class:`_MonotoneStamps` from the same sidecar, so firing A
    finishing can publish a floor above firing B's still-uncommitted
    stamps and the fold would watermark past B's unseen files. That
    requirement was an implicit docstring assumption; this lease makes
    it an enforced contract: a lease file is created EXCLUSIVELY next
    to the stamp sidecar for the duration of the firing, and a second
    firing fails loudly instead of corrupting the floor.

    Protocol details (r11 self-review hardening):

    * The payload carries a unique OWNER TOKEN. Release deletes the
      file only if the token still matches — a firing that was
      (wrongly or rightly) overtaken must not delete the new holder's
      lease on exit.
    * A lease older than ``ttl_ms`` is a crashed holder and is
      overtaken (a kill between acquire and release must not deadlock
      the store forever) — so ``ttl_ms`` MUST exceed the longest
      legitimate firing; a firing that outlives it can be overtaken
      while alive, which re-opens the concurrency hazard the lease
      exists to close. Raise it for backfill-sized firings.
    * A lease whose payload is UNREADABLE is judged by the file's
      modification time, not treated as stale — an empty/partial
      payload is exactly what a concurrent holder's create-to-write
      window looks like on non-local filesystems.
    * After an overtake (delete + re-create), the payload is read
      back and must carry OUR token — two contenders overtaking the
      same stale lease both "succeed" at create on stores without
      atomic create-if-absent, and the read-back demotes that race to
      a loud error.
    * The overtake's delete is GUARDED (r12): the lease is re-read
      immediately before the delete and the overtake aborts unless
      the payload is still the judged stale bytes — otherwise a slow
      contender could delete the fast contender's freshly re-created
      lease AFTER its read-back passed, leaving both holding (the
      read-back closes the create race, not the delete race). See
      :func:`_reclaim_stale` for the residual window.

    Exclusive create is atomic on local paths (O_EXCL) and HDFS; on
    S3-family stores the whole protocol is best-effort (see
    :func:`~etl_pack_spark.sinks.fsio.create_exclusive`)."""
    import json
    import os as _os
    import time as _time
    import uuid as _uuid

    lease = _lease_path(store_path)
    token = _uuid.uuid4().hex
    now_ms = int(_time.time() * 1000)
    payload = json.dumps(
        {"token": token, "pid": _os.getpid(), "acquired_at_ms": now_ms}
    )

    def held_error(age) -> RuntimeError:
        return RuntimeError(
            f"another firing holds the ingest lease on {store_path!r} "
            f"({lease!r}, age {age} ms): concurrent firings on one "
            "stamped store would race the monotone-stamp sidecar and "
            "break the fold's 'below the floor means fully committed' "
            "invariant — run one ingest at a time per store, or "
            "remove the lease file if the holder is known dead"
        )

    if not fsio.create_exclusive(spark, lease, payload):
        raw = fsio.read_text(spark, lease)
        try:
            age = now_ms - int(json.loads(raw)["acquired_at_ms"])
        except (TypeError, ValueError, KeyError):
            # unreadable payload: NOT stale-by-default — judge by the
            # file's own age (a zero-byte lease is a live holder's
            # create-to-write window until proven old)
            mt = fsio.mtime_ms(spark, lease)
            age = (now_ms - mt) if mt is not None else ttl_ms + 1
        if age <= ttl_ms:
            raise held_error(age)
        # stale: the holder crashed without releasing — overtake
        _reclaim_stale(spark, store_path, lease, raw, payload, token)
    try:
        yield
    finally:
        # release ONLY if still ours: if this firing overran ttl_ms
        # and was overtaken, deleting unconditionally would free the
        # NEW holder's lease for a third firing
        raw = fsio.read_text(spark, lease)
        try:
            owner = json.loads(raw)["token"]
        except (TypeError, ValueError, KeyError):
            owner = None
        if owner == token:
            fsio.delete(spark, lease)


class _MonotoneStamps:
    """Epoch-millis ``__batch`` stamps made monotone BY CONSTRUCTION
    (r9, ADVICE): ``next() = max(last_emitted + 1, now_ms)``, seeded
    from the store's stamp sidecar. ``time.time()`` alone is NOT
    monotone — a backwards NTP step (or two micro-batches inside one
    millisecond) would let an old signature tie or outrank a newer
    rewrite in the latest-wins ``max_by``, and a matches stamp could
    land at or below an already-published fold watermark and never be
    clustered. With the sidecar seed, monotonicity holds across
    restarts too; a crash between a data append and the sidecar
    publish degrades only to the clock (the pre-r9 guarantee), never
    below the last sidecar value."""

    def __init__(self, spark: SparkSession, store_path: str) -> None:
        self._last = _stamp_floor(spark, store_path)
        self._floor = self._last

    def next(self) -> int:
        import time as _time

        self._last = max(self._last + 1, int(_time.time() * 1000))
        return self._last

    def publish(self, spark: SparkSession, store_path: str) -> None:
        """Record the highest emitted stamp (no-op if none emitted)."""
        if self._last > self._floor:
            _publish_stamp(spark, store_path, self._last)


# Compaction watermark marker, written INSIDE the store directory.
# Underscore-prefixed files are invisible to Spark's parquet listing
# (the _SUCCESS convention), and the marker rides the staged-swap
# rename so store content and watermark publish atomically together.
COMPACTION_MARKER = "_compacted_through.json"


def compaction_watermark(spark: SparkSession, store_path: str) -> int | None:
    """The store's compaction watermark: every row stamped ``__batch <=
    watermark`` is part of the last compaction's output — one row per
    id, superseded rows removed — and rows above it are the uncompacted
    append TAIL. ``None`` for stores never compacted by the leveled
    code (including legacy pre-marker compactions: they must keep the
    full resolve path, so the marker is deliberately not inferred).

    Marker IO goes through the Hadoop FileSystem API (r8 —
    :mod:`~etl_pack_spark.sinks.fsio`): on an object-store-backed
    store a local ``os.path`` read would silently report "never
    compacted" and every read would pay the full-resolve shuffle —
    a perf regression indistinguishable from correct behavior."""
    import json

    raw = fsio.read_text(spark, f"{store_path.rstrip('/')}/{COMPACTION_MARKER}")
    if raw is None:
        return None
    return int(json.loads(raw)["compacted_through_batch"])


def _write_compaction_marker(
    spark: SparkSession, staged: str, watermark: int
) -> None:
    """Write the marker INTO the staged directory, pre-swap: the
    publish rename makes store content and watermark visible
    atomically together (a marker claiming batches the visible store
    does not yet contain would corrupt every read)."""
    import json

    fsio.write_text(
        spark,
        f"{staged.rstrip('/')}/{COMPACTION_MARKER}",
        json.dumps({"compacted_through_batch": int(watermark)}),
    )


def _read_stamped(spark: SparkSession, path: str) -> DataFrame:
    """Every physical row of a stamped store, ``__batch`` as a long
    with legacy unstamped rows at -1 (see
    :func:`resolve_signature_store` for why mergeSchema + coalesce)."""
    rows = spark.read.option("mergeSchema", "true").parquet(path)
    stamp = F.col("__batch") if "__batch" in rows.columns else F.lit(None)
    return rows.withColumn(
        "__batch", F.coalesce(stamp.cast("long"), F.lit(-1).cast("long"))
    )


def _resolve_latest(rows: DataFrame, id_col: str) -> DataFrame:
    """One row per id: the highest-``__batch`` payload (a combinable
    ``max_by``), carrying that ``__batch``."""
    payload = [c for c in rows.columns if c not in (id_col, "__batch")]
    return (
        rows.groupBy(id_col)
        .agg(
            F.max_by(F.struct(*payload), "__batch").alias("__s"),
            F.max("__batch").alias("__batch"),
        )
        .select(
            id_col, *[F.col(f"__s.{c}").alias(c) for c in payload], "__batch"
        )
    )


def resolve_signature_store(
    spark: SparkSession, store_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """The store's RESOLVED content — one row per id, latest ``__batch``
    wins — as a lazy frame carrying ``__batch``.

    Merge-on-read over compaction levels: an append-only store is a
    compacted BASE (one row per id by construction of
    :func:`compact_signature_store`) plus a small append TAIL, split
    exactly at the compaction watermark the compactor published
    atomically with its output. Resolving with one global
    ``groupBy(id).max_by(__batch)`` — the pre-r7 shape — shuffles the
    ENTIRE store once per evaluation, and the incremental match plan
    evaluates the store three times per micro-batch (occupancy probe,
    candidate join, estimator join): at corpus scale that is three
    full-store shuffles per batch for a store that is ~99% immutable.
    With the watermark, the base segment bypasses aggregation entirely
    (its ids are unique; a broadcast anti-join against the tail's few
    ids handles overrides) and only the TAIL — bounded by ingest since
    the last maintenance firing — is shuffled. Never-compacted and
    legacy stores (no marker) keep the full-resolve path.

    mergeSchema + ``coalesce(__batch, -1)``: a store appended to both
    before and after the batch stamp existed mixes files with and
    without the column; single-footer inference would either drop the
    stamp or NULL legacy rows, and ``max_by`` IGNORES null keys —
    which would silently drop legacy signatures instead of letting
    any stamped rewrite win."""
    store = _read_stamped(spark, store_path)
    wm = compaction_watermark(spark, store_path)
    if wm is None:
        return _resolve_latest(store, id_col)
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.guards import maybe_broadcast

    base = store.where(F.col("__batch") <= wm)
    tail = store.where(F.col("__batch") > wm)
    # persisted: the resolved tail feeds BOTH the anti-join build side
    # and the union, and the guard's size probe must not re-run the
    # tail aggregation a third time
    tail_res = pooled_persist(_resolve_latest(tail, id_col))
    # tail always outranks base (its stamps exceed the watermark), so
    # override = drop base rows whose id reappears in the tail. The
    # tail is bounded by compaction CADENCE, not by construction — a
    # store never compacted since the marker was written has a
    # corpus-sized tail — so the anti-join broadcasts only when the
    # bounded probe proves the tail small; past the bound AQE picks a
    # shuffled join (and the right fix is running the compactor)
    return base.join(
        maybe_broadcast(tail_res.select(id_col)), id_col, "left_anti"
    ).unionByName(tail_res)


def _clusters_fold_marker(clusters_path: str) -> str:
    """Fold-watermark sidecar for the clusters store — a SIBLING file
    (not inside the data dir): the clusters store is a latest-wins
    delta store compacted by :func:`compact_signature_store`, whose
    staged swap would drop an in-dir sidecar; the sibling survives
    compactions unconditionally."""
    return clusters_path.rstrip("/") + ".clusters_through.json"


def read_cluster_store(
    spark: SparkSession, clusters_path: str
) -> DataFrame:
    """The clusters store's RESOLVED labeling ``(id, cluster_id)`` —
    latest ``__batch`` wins per id, exactly the signature-store read
    rule (and the same merge-on-read fast path once the store has been
    compacted)."""
    return resolve_signature_store(spark, clusters_path, "id").select(
        "id", "cluster_id"
    )


def update_cluster_store(
    spark: SparkSession,
    clusters_path: str,
    matches_path: str,
    safety_lag_ms: int = 0,
    return_total: bool = False,
    lease_ttl_ms: int = DEFAULT_LEASE_TTL_MS,
) -> int:
    """Maintain a persisted near-dup CLUSTERS store from the
    append-only matches sink — the maintenance firing that completes
    the incremental pipeline: ingest appends match pairs
    (:func:`stream_neardup_ingest`), this folds the
    not-yet-processed tail into the labeling via
    :func:`~etl_pack_spark.operators.components.update_clusters`
    (label-edges ∪ new pairs — exact, O(clustered nodes + batch)
    instead of O(pair history); see that docstring for the argument).
    Returns the DELTA count — labels newly written or changed by this
    firing (r9: the natural O(blast-radius) number; the pre-r9 full
    resolve+count per firing read the ENTIRE live store just for the
    return value). ``return_total=True`` opts back into the full
    resolved-store count, priced as one extra full-store read.

    Store layout = the signature-store recipe, reused wholesale: the
    firing appends only the DELTA — ids whose label is new or changed
    — stamped with a monotone epoch-millis ``__batch``
    (:class:`_MonotoneStamps`); reads resolve latest-wins per id
    (:func:`read_cluster_store`); the shared
    :func:`compact_signature_store` (``id_col="id"``) bounds the store
    and unlocks the merge-on-read fast path. So a firing's WRITE is
    O(affected ids), not O(all clustered ids) — at corpus scale most
    components are untouched by a given batch, and rewriting billions
    of stable labels per cron firing would dwarf the fold itself. The
    fold watermark (max matches ``__batch`` folded) lives in a sibling
    sidecar so compaction swaps cannot drop it.

    Concurrency: single-writer per clusters store, like every sink
    here — and the matches SINK must be quiet while the fold lists it,
    OR ``safety_lag_ms`` must exceed the ingest's worst batch-commit
    duration. A parquet job/task commit is not atomic to a directory
    listing: a fold racing an in-flight ingest batch can see a SUBSET
    of that batch's files, watermark at its stamp, and permanently
    skip the files that become visible later with stamp ==
    folded_through (r9, ADVICE). With a lag, stamps younger than
    ``max(now - safety_lag_ms, matches sidecar floor)`` are left for
    the next firing, so an in-flight batch's stamp can never become
    the watermark; the sidecar floor (published by the ingest only
    after all its micro-batches committed) keeps stamps that a
    backwards NTP step left ahead of wall-clock from starving until
    the clock catches up — below the floor means the firing finished. The
    default 0 is the quiesced-scheduler posture (the CLI cron shape:
    ingest firings and maintenance firings share one scheduler).

    Crash-safe without a swap: the marker is written AFTER the delta
    append, so a crash between them leaves a stale marker and the next
    firing re-folds the same matches — the re-fold computes an EMPTY
    delta against the already-updated labels (connectivity is
    idempotent) and appends nothing. The at-least-once matches sink's
    duplicate rows are DISTINCT'd before the fold; legacy unstamped
    matches read as batch -1 and fold on the first firing.

    The single-writer-per-clusters-store contract is ENFORCED (r10
    ADVICE): the firing runs under the same exclusive lease as the
    ingest (:func:`_stamp_lease`, here keyed to the clusters store),
    so two concurrent folds fail loudly instead of racing the stamp
    sidecar and fold marker. Note the lease is per STORE: an ingest
    firing (leased on the signature store) and this fold (leased on
    the clusters store) may legitimately overlap — that overlap is
    exactly what ``safety_lag_ms`` + the matches sidecar floor
    handle."""
    import json
    import time as _time

    from etl_pack_spark.operators.components import (
        connected_components,
        update_clusters,
    )

    with _stamp_lease(spark, clusters_path, ttl_ms=lease_ttl_ms):
        # the sidecar floor MUST be read BEFORE the matches listing (the
        # parquet read builds its file index eagerly right here): a floor
        # visible before the listing began proves that firing's files
        # were all committed before the listing, so stamps <= floor are
        # fully listed. Read in the other order, a firing finishing in
        # between raises the floor over a PARTIALLY-listed stamp and the
        # fold would watermark past its unseen files.
        matches_floor = (
            _stamp_floor(spark, matches_path) if safety_lag_ms > 0 else 0
        )
        matches = _read_stamped(spark, matches_path)
        raw = fsio.read_text(spark, _clusters_fold_marker(clusters_path))
        folded_through = (
            int(json.loads(raw)["folded_through_batch"])
            if raw is not None else None
        )
        tail = matches if folded_through is None else matches.where(
            F.col("__batch") > folded_through
        )
        if safety_lag_ms > 0:
            # concurrent-ingest guard (see docstring): stamps too young
            # to be provably fully-listed stay in the tail of the NEXT
            # firing. The cutoff is lower-bounded by the matches sidecar
            # floor (published by the ingest only after every
            # micro-batch committed), so stamps a backwards NTP step
            # left ahead of wall-clock still fold once their firing
            # finished — without the floor they would starve until the
            # clock caught up. The floor was read before the listing
            # (above).
            cutoff = max(int(_time.time() * 1000) - int(safety_lag_ms),
                         matches_floor)
            tail = tail.where(F.col("__batch") <= cutoff)
        # persist: the fold consumes the pairs through several jobs (the
        # components probe + loop) and the watermark needs their max stamp
        tail = tail.select("id_a", "id_b", "__batch").persist()
        try:
            agg = tail.agg(
                F.max("__batch").alias("wm"), F.count(F.lit(1)).alias("n")
            ).first()
            # scheme-aware probe: os.path here read an s3a: clusters
            # store as absent, so every firing relabeled from ONLY the
            # new tail and the history-blind labels won latest-wins
            exists = fsio.exists(spark, clusters_path)
            if agg["n"] == 0:
                # nothing new: the store (possibly absent) is untouched —
                # and the default return does NOT resolve it (delta = 0)
                if return_total and exists:
                    return read_cluster_store(spark, clusters_path).count()
                return 0
            pairs = tail.select("id_a", "id_b").distinct()
            if exists:
                labels = read_cluster_store(spark, clusters_path)
                updated = update_clusters(labels, pairs)
                delta = (
                    updated.join(
                        labels.withColumnRenamed("cluster_id", "__old"),
                        "id", "left",
                    )
                    .where(
                        F.col("__old").isNull()
                        | (F.col("__old") != F.col("cluster_id"))
                    )
                    .select("id", "cluster_id")
                )
            else:
                delta = connected_components(pairs).select("id", "cluster_id")
            # materialize the delta BEFORE appending: its plan reads the
            # store being appended to (self-append hazard otherwise)
            delta = delta.persist()
            try:
                n_delta = delta.count()
                stamps = _MonotoneStamps(spark, clusters_path)
                _append_stamped(delta, clusters_path, stamps.next())
                stamps.publish(spark, clusters_path)
            finally:
                delta.unpersist(False)
            # marker AFTER the append (see crash-safety note above)
            fsio.write_text(
                spark,
                _clusters_fold_marker(clusters_path),
                json.dumps({"folded_through_batch": int(agg["wm"])}),
            )
        finally:
            tail.unpersist(False)
    if return_total:
        return read_cluster_store(spark, clusters_path).count()
    return n_delta


def compact_signature_store(
    spark: SparkSession,
    store_path: str,
    id_col: str = "doc_id",
) -> int:
    """Compact an append-only signature/URL store to its RESOLVED
    content: one row per id carrying the latest-batch signature (the
    same ``max_by(__batch)`` resolution every read applies), written
    back via the crash-safe staged/backup/rename swap. Returns the
    number of rows in the compacted store.

    Why a maintenance op: the ingest path appends one row per
    (id, batch) — rewrites and replays accumulate superseded rows that
    every subsequent read filters through. The resolution is
    idempotent, so compaction changes NO observable matching behavior
    (pinned in tests); it just makes the store's size proportional to
    live ids again. Run it from the same scheduler as the ingest
    firings, e.g. after every N firings. It runs under the store's
    exclusive lease (:func:`_stamp_lease`, default TTL) and raises while
    an ingest holds it: an append landing between the compaction's read
    and its swap would go to the backup directory the swap deletes,
    losing those rows without an error. Legacy rows (no ``__batch``)
    resolve at batch -1 and come out stamped — compaction also migrates
    old stores to the stamped layout."""
    from etl_pack_spark.sinks.atomic import (
        clean_orphan_stages,
        publish_swap,
        recover_swap,
        stage_dir,
    )

    with _stamp_lease(spark, store_path):
        recover_swap(store_path)
        clean_orphan_stages(store_path, "sigstore_stage_")
        staged = stage_dir(store_path, prefix="sigstore_stage_")
        # the row count and the compaction watermark (the max resolved
        # __batch) ride the write job, as append_table's count does
        obs = Observation("compact")
        _resolve_latest(_read_stamped(spark, store_path), id_col).observe(
            obs, F.count(F.lit(1)).alias("rows"), F.max("__batch").alias("wm")
        ).write.mode("overwrite").parquet(staged)
        # publish the watermark WITH the output (without it
        # resolve_signature_store's merge-on-read fast path is
        # unreachable): written into the staged dir and made visible
        # atomically by the same rename that publishes the rows. An
        # empty store has no watermark to claim — no marker, and reads
        # keep the (trivial) full-resolve path.
        wm = obs.get["wm"]
        if wm is not None:
            _write_compaction_marker(spark, staged, wm)
        publish_swap(staged, store_path)
        # floor later stamps above the watermark: rows stamped by a bare
        # clock before the stamp sidecar existed can sit above the
        # current time, and an append landing at or below the watermark
        # would be read as compacted base, a second row for its id
        if wm is not None and wm > _stamp_floor(spark, store_path):
            _publish_stamp(spark, store_path, wm)
        return int(obs.get["rows"])


def store_stats(
    spark: SparkSession, store_path: str, id_col: str = "doc_id"
) -> dict:
    """Operational introspection for an append-only latest-wins store
    (signature / URL / clusters / IVF-PQ-codes layout): the numbers a
    maintenance scheduler decides compaction cadence from, in one
    call. Returns::

        {"physical_rows":   rows on disk incl. superseded versions,
         "live_ids":        resolved one-row-per-id count,
         "compaction_watermark": marker value or None (never compacted),
         "tail_rows":       rows stamped above the watermark (what every
                            merge-on-read has to aggregate; None when
                            there is no watermark — then EVERY read pays
                            the full resolve and compaction is overdue),
         "last_stamp":      the monotone-stamp sidecar (None = legacy),
         "dead_fraction":   1 - live/physical (what compaction reclaims)}

    Pure reads — no state is touched, safe alongside a writer. Costs
    two scans (physical count + resolve) plus a tail count when a
    watermark exists: it is a STATS op for cron decisions ("compact
    when dead_fraction > 0.3 or tail_rows > X"), not a read path.
    """
    physical = _read_stamped(spark, store_path)
    n_phys = physical.count()
    live = resolve_signature_store(spark, store_path, id_col).count()
    wm = compaction_watermark(spark, store_path)
    tail = None
    if wm is not None:
        tail = physical.where(F.col("__batch") > wm).count()
    return {
        "physical_rows": n_phys,
        "live_ids": live,
        "compaction_watermark": wm,
        "tail_rows": tail,
        "last_stamp": (
            _stamp_floor(spark, store_path) or None
        ),
        "dead_fraction": round(1.0 - live / n_phys, 4) if n_phys else 0.0,
    }
