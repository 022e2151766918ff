"""Structured Streaming: availableNow runs, checkpoint resume,
streaming/batch transformation parity, foreachBatch incremental dedup."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_pack_spark.sources.reader import read_table
from etl_pack_spark.streaming.incremental import (
    stream_incremental_transfer,
    stream_transfer,
    windowed_event_counts,
)

# Two-tier suite: tests that drain a stream (micro-batch waits dominate,
# multi-minute in total) are marked `slow` one by one and deselected by
# the default `-m "not slow"` profile (pytest.ini); the full gate
# (`pytest tests/ -m ""`) runs them. Unmarked tests drain no stream
# and take a few seconds each, so the lease protocol stays in the fast tier.


@pytest.mark.slow
def test_stream_matches_batch_below_watermark(spark, sf_dir, tmp_path):
    """Streamed windowed counts must equal the batch computation for
    every window the watermark has closed."""
    src = f"{sf_dir}/events.parquet"
    n = stream_transfer(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        window="1 hour", watermark="1 hour",
    )
    assert n >= 1
    streamed = spark.read.parquet(str(tmp_path / "out"))

    events = read_table(spark, sf_dir, "events")
    batch = windowed_event_counts(events)
    max_ts = events.agg(F.max("ts")).first()[0]
    closed = batch.where(
        F.col("win_start") < (F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    )
    streamed_set = {tuple(r) for r in streamed.collect()}
    closed_set = {tuple(r) for r in closed.collect()}
    assert closed_set <= streamed_set
    assert streamed_set <= {tuple(r) for r in batch.collect()}


@pytest.mark.slow
def test_availablenow_checkpoint_no_reprocess(spark, sf_dir, tmp_path):
    """Second availableNow run over the same files: checkpoint says
    nothing new → no new output rows (the cron-firing idempotence the
    reference gets from hash dedup, via file tracking instead)."""
    src = f"{sf_dir}/events.parquet"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_transfer(spark, src, out, ckpt)
    n1 = spark.read.parquet(out).count()
    stream_transfer(spark, src, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2


@pytest.mark.slow
def test_foreachbatch_incremental_dedup(spark, sf_dir, tmp_path):
    """Streaming variant of the flagship pipeline: re-running against a
    FRESH checkpoint (simulating redelivery of all files) must append
    nothing thanks to the hash anti-join."""
    src = f"{sf_dir}/events.parquet"
    tgt = str(tmp_path / "tgt")
    stream_incremental_transfer(spark, src, tgt, str(tmp_path / "c1"))
    n1 = spark.read.parquet(tgt).count()
    assert n1 > 0
    # fresh checkpoint → all files redelivered → dedup must hold the line
    stream_incremental_transfer(spark, src, tgt, str(tmp_path / "c2"))
    assert spark.read.parquet(tgt).count() == n1


@pytest.mark.slow
def test_dedup_stream_drops_replayed_rows(spark, sf_dir, tmp_path):
    """An at-least-once source replays the same file: the watermarked
    streaming dedup must emit each event once."""
    from etl_pack_spark.streaming.incremental import dedup_stream

    events = read_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "src")
    # two identical copies = a replayed delivery
    events.write.mode("overwrite").parquet(src)
    events.write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        dedup_stream(stream, ["event_id"]).writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
    )
    q.awaitTermination()
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_dedup_stream_batch_mode(spark, sf_dir):
    from etl_pack_spark.streaming.incremental import dedup_stream

    events = read_table(spark, sf_dir, "events").limit(100)
    doubled = events.union(events)
    assert dedup_stream(doubled, ["event_id"]).count() == events.count()


@pytest.mark.slow
def test_stateless_operators_run_under_readstream(spark, sf_dir, tmp_path):
    """Map-only operators (text_signals, c4_clean) are streaming-ready
    with NO changes: the same DataFrame transform applied to a
    readStream source produces, over an availableNow run, exactly the
    batch result. This is the one-definition/two-engines contract for
    every zero-shuffle operator in the library."""
    import os

    from etl_pack_spark.operators.textops import text_signals
    from etl_pack_spark.sources.reader import read_table

    src = f"{sf_dir}/documents.parquet"
    mirror = tmp_path / "docs_dir"
    os.makedirs(mirror, exist_ok=True)
    os.symlink(src, mirror / "documents.parquet")

    batch_schema = spark.read.parquet(str(mirror)).schema
    stream = spark.readStream.schema(batch_schema).parquet(str(mirror))
    q = (
        text_signals(stream, "doc_id", "text")
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .start()
    )
    q.awaitTermination()
    streamed = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "out")).collect())
    )
    batch = sorted(
        map(tuple, text_signals(
            read_table(spark, sf_dir, "documents"), "doc_id", "text"
        ).collect())
    )
    assert streamed == batch and len(streamed) > 0


@pytest.mark.slow
def test_stream_cdc_apply_replay_equals_batch(spark, tmp_path):
    """Streaming CDC (availableNow + checkpoint): two incremental
    firings == one batch apply_cdc; replaying ALL files from a fresh
    checkpoint onto the already-folded target changes nothing
    (exactly-once net effect via max-ts convergence)."""
    import datetime as dt

    from etl_pack_spark.plans.merge import apply_cdc
    from etl_pack_spark.streaming.incremental import stream_cdc_apply

    def ts(d):
        return dt.datetime(2024, 1, d)

    src = tmp_path / "changes"
    tgt = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, ts timestamp, val string, op string"

    part1 = [(1, ts(2), "a2", "U"), (2, ts(2), "b2", "I"), (3, ts(2), "c2", "I")]
    part2 = [(2, ts(3), None, "D"), (3, ts(3), "c3", "U"), (4, ts(3), "d3", "I")]

    # seed target with initial state
    init = [(1, ts(1), "a1"), (9, ts(1), "keep")]
    spark.createDataFrame(init, "k long, ts timestamp, val string").write.parquet(tgt)

    spark.createDataFrame(part1, schema).write.parquet(str(src / "p1"))
    # the streaming source needs one flat dir of files
    import glob
    import shutil

    files = glob.glob(str(src / "p1" / "*.parquet"))
    for i, f in enumerate(files):
        shutil.copy(f, str(src / f"c1_{i}.parquet"))
    shutil.rmtree(str(src / "p1"))

    n1 = stream_cdc_apply(spark, str(src), tgt, ckpt, ["k"], "ts")
    assert n1 >= 1

    spark.createDataFrame(part2, schema).write.parquet(str(src / "p2"))
    files = glob.glob(str(src / "p2" / "*.parquet"))
    for i, f in enumerate(files):
        shutil.copy(f, str(src / f"c2_{i}.parquet"))
    shutil.rmtree(str(src / "p2"))

    n2 = stream_cdc_apply(spark, str(src), tgt, ckpt, ["k"], "ts")
    assert n2 >= 1

    got = sorted(map(tuple, spark.read.parquet(tgt).collect()))

    # one-shot batch equivalent over the same initial target + all changes
    target0 = spark.createDataFrame(init, "k long, ts timestamp, val string")
    changes = spark.createDataFrame(part1 + part2, schema)
    want = sorted(map(tuple, apply_cdc(target0, changes, ["k"], "ts").collect()))
    assert got == want
    assert {(r[0], r[2]) for r in got} == {(1, "a2"), (3, "c3"), (4, "d3"), (9, "keep")}

    # replay EVERYTHING from a fresh checkpoint onto the folded target:
    # net effect must be zero (idempotence under re-delivery)
    n3 = stream_cdc_apply(spark, str(src), tgt, str(tmp_path / "ckpt2"), ["k"], "ts")
    assert n3 >= 1
    again = sorted(map(tuple, spark.read.parquet(tgt).collect()))
    assert again == want


@pytest.mark.slow
def test_stream_cdc_apply_recovers_interrupted_swap(spark, tmp_path):
    """A firing killed between the backup-move and the staged-move
    leaves target missing + the hidden backup present; the next firing must
    restore the backup before folding (no silent empty-target reset)."""
    import datetime as dt
    import os

    from etl_pack_spark.streaming.incremental import stream_cdc_apply

    src = tmp_path / "changes"
    tgt = str(tmp_path / "target")
    schema = "k long, ts timestamp, val string, op string"
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2), "a2", "U")], schema
    ).coalesce(1).write.parquet(str(src))

    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "a1"), (9, dt.datetime(2024, 1, 1), "keep")],
        "k long, ts timestamp, val string",
    ).write.parquet(tgt)

    # simulate the crash window: target moved to backup, new target never landed
    from etl_pack_spark.sinks.atomic import backup_path
    os.replace(tgt, backup_path(tgt))
    assert not os.path.exists(tgt)

    stream_cdc_apply(spark, str(src), tgt, str(tmp_path / "ck"), ["k"], "ts")
    got = {(r["k"], r["val"]) for r in spark.read.parquet(tgt).collect()}
    # pre-existing key 9 survives: the fold saw the RESTORED target
    assert got == {(1, "a2"), (9, "keep")}
    assert not os.path.exists(backup_path(tgt))


@pytest.mark.slow
class TestStreamNeardupIngest:
    def _write_half(self, spark, sf_dir, src, pred):
        from pyspark.sql import functions as F

        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        docs.where(pred(F.col("doc_id"))).write.mode("append").parquet(src)

    def test_streamed_ingest_equals_full_batch_self_match(
        self, spark, sf_dir, tmp_path
    ):
        """Two firings over two arrivals produce, as distinct unordered
        pairs, exactly the full batch self-match pair set — every pair
        is new-new within a firing or new-old across firings."""
        from pyspark.sql import functions as F

        from etl_pack_spark.operators import neardup
        from etl_pack_spark.operators.tokenize import shingle_rows
        from etl_pack_spark.sources.reader import read_table
        from etl_pack_spark.streaming.incremental import stream_neardup_ingest

        src = str(tmp_path / "src")
        store = str(tmp_path / "store")
        matches = str(tmp_path / "matches")
        ckpt = str(tmp_path / "ckpt")

        self._write_half(spark, sf_dir, src, lambda d: d % 2 == 0)
        stream_neardup_ingest(spark, src, store, matches, ckpt)
        self._write_half(spark, sf_dir, src, lambda d: d % 2 != 0)
        stream_neardup_ingest(spark, src, store, matches, ckpt)

        got = {
            (frozenset((r["id_a"], r["id_b"])), r["est_jaccard"])
            for r in spark.read.parquet(matches).distinct().collect()
        }
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        sig_none = neardup.minhash_signature(
            shingle_rows(docs, "doc_id", "text", 3, distinct=False), "doc_id"
        ).limit(0)
        want = {
            (frozenset((r["id_a"], r["id_b"])), r["est_jaccard"])
            for r in neardup.minhash_match_incremental(
                docs, sig_none, "doc_id", "text"
            ).collect()
        }
        assert got == want
        assert len(got) > 0
        # store holds every doc's signature exactly once (on distinct read)
        store_ids = spark.read.parquet(store).select("doc_id").distinct()
        assert store_ids.count() == docs.count()

    def test_refire_without_new_data_is_noop(self, spark, sf_dir, tmp_path):
        from etl_pack_spark.streaming.incremental import stream_neardup_ingest

        src = str(tmp_path / "src")
        store = str(tmp_path / "store")
        matches = str(tmp_path / "matches")
        ckpt = str(tmp_path / "ckpt")
        self._write_half(spark, sf_dir, src, lambda d: d % 2 == 0)
        stream_neardup_ingest(spark, src, store, matches, ckpt)
        n_matches = spark.read.parquet(matches).count()
        n_store = spark.read.parquet(store).count()
        stream_neardup_ingest(spark, src, store, matches, ckpt)  # nothing new
        assert spark.read.parquet(matches).count() == n_matches
        assert spark.read.parquet(store).count() == n_store


@pytest.mark.slow
class TestNeardupIngestUpdates:
    def test_updated_doc_signature_replaces_old_deterministically(
        self, spark, tmp_path
    ):
        """Re-ingesting an id with changed text: the LATEST signature
        wins for later matching (max_by batch, not an arbitrary
        dropDuplicates pick), and the id never pairs with itself."""
        from etl_pack_spark.operators import neardup
        from etl_pack_spark.operators.tokenize import shingle_rows
        from etl_pack_spark.streaming.incremental import stream_neardup_ingest

        src = str(tmp_path / "src")
        store = str(tmp_path / "store")
        matches = str(tmp_path / "matches")
        ckpt = str(tmp_path / "ckpt")

        t_a = "the quick brown fox jumps over the lazy dog again and again"
        t_b = "completely different words about databases and distributed systems"
        spark.createDataFrame([(1, t_a)], "doc_id long, text string") \
            .write.mode("append").parquet(src)
        stream_neardup_ingest(spark, src, store, matches, ckpt)
        # doc 1 is REWRITTEN to text_b in a later arrival
        spark.createDataFrame([(1, t_b)], "doc_id long, text string") \
            .write.mode("append").parquet(src)
        stream_neardup_ingest(spark, src, store, matches, ckpt)
        # no self-pair was emitted for the update
        assert spark.read.parquet(matches).count() == 0
        # a new doc near-duplicating the UPDATED text must match; one
        # near-duplicating the ORIGINAL text must not (old sig replaced)
        spark.createDataFrame(
            [(2, t_b + " extra"), (3, t_a + " extra")],
            "doc_id long, text string",
        ).write.mode("append").parquet(src)
        stream_neardup_ingest(spark, src, store, matches, ckpt)
        pairs = {
            frozenset((r["id_a"], r["id_b"]))
            for r in spark.read.parquet(matches).distinct().collect()
        }
        assert frozenset((1, 2)) in pairs
        assert frozenset((1, 3)) not in pairs
        # and the resolved store signature for id 1 equals text_b's
        sig_b = neardup.minhash_signature(
            shingle_rows(
                spark.createDataFrame([(1, t_b)], "doc_id long, text string"),
                "doc_id", "text", 3, distinct=False,
            ),
            "doc_id",
        ).collect()[0]
        from pyspark.sql import functions as F

        st = spark.read.parquet(store)
        cols = [c for c in st.columns if c not in ("doc_id", "__batch")]
        latest = (
            st.groupBy("doc_id")
            .agg(F.max_by(F.struct(*cols), "__batch").alias("s"))
            .where("doc_id = 1").select("s.*").collect()[0]
        )
        assert tuple(latest) == tuple(sig_b[c] for c in cols)


@pytest.mark.slow
def test_neardup_store_without_batch_column_migrates(spark, tmp_path):
    """Stores written before the batch stamp existed (no __batch
    column) must keep working: they read as batch -1 and any stamped
    rewrite wins."""
    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.tokenize import shingle_rows
    from etl_pack_spark.streaming.incremental import stream_neardup_ingest

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    t_a = "alpha beta gamma delta epsilon zeta eta theta running words"
    # legacy store: signatures WITHOUT __batch
    neardup.minhash_signature(
        shingle_rows(
            spark.createDataFrame([(1, t_a)], "doc_id long, text string"),
            "doc_id", "text", 3, distinct=False,
        ),
        "doc_id",
    ).write.parquet(store)
    # new arrival near-duplicating the stored doc must match against it
    spark.createDataFrame([(2, t_a + " tail")], "doc_id long, text string") \
        .write.mode("append").parquet(src)
    stream_neardup_ingest(spark, src, store, str(tmp_path / "m"),
                          str(tmp_path / "ck"))
    pairs = {frozenset((r["id_a"], r["id_b"]))
             for r in spark.read.parquet(str(tmp_path / "m")).collect()}
    assert frozenset((1, 2)) in pairs


@pytest.mark.slow
def test_neardup_store_mixed_legacy_and_stamped_files(spark, tmp_path):
    """After the FIRST stamped append to a legacy store the directory
    MIXES files without __batch and files with it. The store read must
    (a) still see the stamp column (mergeSchema — default inference
    reads one arbitrary footer and can lose it), and (b) not lose
    legacy ids whose __batch reads as NULL under the merged schema
    (max_by ignores NULL — coalesce to -1 keeps them matchable) while
    (c) a stamped rewrite of a legacy id still wins."""
    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.tokenize import shingle_rows
    from etl_pack_spark.streaming.incremental import stream_neardup_ingest

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    t_a = "alpha beta gamma delta epsilon zeta eta theta running words"
    t_b = "totally unrelated prose about compilers and type inference"
    t_c = "storage engines compact sorted runs into larger immutable files"

    def sig_of(rows):
        return neardup.minhash_signature(
            shingle_rows(
                spark.createDataFrame(rows, "doc_id long, text string"),
                "doc_id", "text", 3, distinct=False,
            ),
            "doc_id",
        )

    # legacy file: docs 1 (t_a) and 5 (t_c), no __batch column
    sig_of([(1, t_a), (5, t_c)]).write.parquet(store)
    # first stamped append: unrelated doc 2 — store is now MIXED
    spark.createDataFrame([(2, t_b)], "doc_id long, text string") \
        .write.mode("append").parquet(src)
    stream_neardup_ingest(spark, src, store, str(tmp_path / "m"),
                          str(tmp_path / "ck"))
    # doc 1 is REWRITTEN with t_b text (stamped; must beat legacy t_a)
    spark.createDataFrame([(1, t_b)], "doc_id long, text string") \
        .write.mode("append").parquet(src)
    stream_neardup_ingest(spark, src, store, str(tmp_path / "m"),
                          str(tmp_path / "ck"))
    # new arrivals: 3 near-dups t_c (legacy-only id 5 must still match),
    # 4 near-dups t_b (rewritten id 1 must match via its NEW signature),
    # and nothing near-dups t_a anymore (1's legacy signature replaced)
    spark.createDataFrame(
        [(3, t_c + " tail"), (4, t_b + " tail")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    stream_neardup_ingest(spark, src, store, str(tmp_path / "m"),
                          str(tmp_path / "ck"))
    pairs = {frozenset((r["id_a"], r["id_b"]))
             for r in spark.read.parquet(str(tmp_path / "m")).collect()}
    assert frozenset((3, 5)) in pairs       # legacy signature survived
    assert frozenset((1, 4)) in pairs       # rewrite matchable
    assert frozenset((1, 3)) not in pairs   # legacy t_a signature replaced


def test_recover_swap_honors_legacy_backup_name(tmp_path):
    """A crash under the pre-hidden-naming code left 'target.bak'; the
    upgraded recovery must restore it, not restart the table empty."""
    import os

    from etl_pack_spark.sinks.atomic import recover_swap

    tgt = str(tmp_path / "tbl")
    os.makedirs(tgt + ".bak")
    open(os.path.join(tgt + ".bak", "part-0.parquet"), "w").write("x")
    recover_swap(tgt)
    assert os.path.isdir(tgt) and not os.path.exists(tgt + ".bak")
    assert os.path.exists(os.path.join(tgt, "part-0.parquet"))


@pytest.mark.slow
class TestStreamUrlDedupIngest:
    """Crawl-frontier URL dedup on ingest: the canonical-URL store is
    the only retained state; admitted rows never rescan."""

    def _write(self, spark, src, rows):
        spark.createDataFrame(
            rows, "doc_id long, url string, text string"
        ).write.mode("append").parquet(src)

    def test_matches_batch_dedup_on_ordered_arrivals(self, spark, tmp_path):
        """Streaming the corpus in id order over several firings must
        admit exactly the rows batch dedup_by_url keeps (first-fetch ==
        min id when arrivals are ordered), with NULL-URL rows passed
        through."""
        from etl_pack_spark.operators.urls import dedup_by_url
        from etl_pack_spark.streaming.incremental import stream_url_dedup_ingest

        src, store = str(tmp_path / "src"), str(tmp_path / "store")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        all_rows = [
            (i, f"http://WWW.s{i % 3}.com/p/{i % 4}/?utm_source=x", f"t{i}")
            for i in range(20)
        ] + [(90, "garbage", "kept"), (91, None, "kept-too")]
        self._write(spark, src, all_rows[:10])
        stream_url_dedup_ingest(spark, src, store, out, ckpt)
        self._write(spark, src, all_rows[10:])
        stream_url_dedup_ingest(spark, src, store, out, ckpt)

        got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        batch = dedup_by_url(
            spark.createDataFrame(all_rows, "doc_id long, url string, text string"),
            "url", "doc_id",
        )
        want = {r["doc_id"] for r in batch.collect()}
        assert got == want
        assert {90, 91} <= got            # NULL-canonical passthrough
        # store holds one row per admitted URL, none for NULL-URL rows
        st = spark.read.parquet(store)
        assert st.count() == st.select("canonical_url").distinct().count()
        assert st.count() == len(want) - 2

    def test_refetch_of_known_url_is_dropped_first_fetch_wins(
        self, spark, tmp_path
    ):
        from etl_pack_spark.streaming.incremental import stream_url_dedup_ingest

        src, store = str(tmp_path / "src"), str(tmp_path / "store")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        self._write(spark, src, [(7, "https://a.com/x", "first fetch")])
        stream_url_dedup_ingest(spark, src, store, out, ckpt)
        # later firing re-fetches the same page under URL noise, with a
        # LOWER id — first fetch still wins (ingest never retracts)
        self._write(spark, src, [(3, "http://www.a.com/x/?utm_b=1", "refetch")])
        stream_url_dedup_ingest(spark, src, store, out, ckpt)
        rows = spark.read.parquet(out).collect()
        assert [(r["doc_id"], r["text"]) for r in rows] == [(7, "first fetch")]

    def test_refire_without_new_data_is_noop(self, spark, tmp_path):
        from etl_pack_spark.streaming.incremental import stream_url_dedup_ingest

        src, store = str(tmp_path / "src"), str(tmp_path / "store")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        self._write(spark, src, [(1, "https://a.com/1", "x")])
        stream_url_dedup_ingest(spark, src, store, out, ckpt)
        n_out = spark.read.parquet(out).count()
        n_store = spark.read.parquet(store).count()
        stream_url_dedup_ingest(spark, src, store, out, ckpt)
        assert spark.read.parquet(out).count() == n_out
        assert spark.read.parquet(store).count() == n_store


@pytest.mark.slow
def test_compact_signature_store_preserves_matching(spark, tmp_path):
    """Compaction resolves the append-only store to one latest row per
    id (migrating legacy unstamped files too) and must change NO
    observable matching behavior; an interrupted swap recovers."""
    import os

    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.tokenize import shingle_rows
    from etl_pack_spark.sinks.atomic import backup_path
    from etl_pack_spark.streaming.incremental import (
        compact_signature_store,
        stream_neardup_ingest,
    )

    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    t_a = "alpha beta gamma delta epsilon zeta eta theta running words"
    t_b = "storage engines compact sorted runs into larger immutable files"

    def sig_of(rows):
        return neardup.minhash_signature(
            shingle_rows(
                spark.createDataFrame(rows, "doc_id long, text string"),
                "doc_id", "text", 3, distinct=False,
            ),
            "doc_id",
        )

    # legacy unstamped file + two stamped generations of doc 1
    sig_of([(1, t_a), (5, t_b)]).write.parquet(store)
    spark.createDataFrame([(1, t_b)], "doc_id long, text string") \
        .write.mode("append").parquet(src)
    stream_neardup_ingest(spark, src, store, str(tmp_path / "m0"),
                          str(tmp_path / "ck0"))
    pre_rows = spark.read.option("mergeSchema", "true").parquet(store).count()
    n = compact_signature_store(spark, store)
    assert n == 2 < pre_rows                   # one row per live id
    st = spark.read.parquet(store)
    assert "__batch" in st.columns             # legacy rows migrated
    # matching behavior unchanged: new arrivals near-dup t_b -> both
    # ids 1 (rewritten) and 5 match; nothing matches the superseded t_a
    spark.createDataFrame(
        [(3, t_b + " tail"), (4, t_a + " tail")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    stream_neardup_ingest(spark, src, store, str(tmp_path / "m1"),
                          str(tmp_path / "ck1"))
    pairs = {frozenset((r["id_a"], r["id_b"]))
             for r in spark.read.parquet(str(tmp_path / "m1")).collect()}
    assert frozenset((1, 3)) in pairs and frozenset((3, 5)) in pairs
    assert frozenset((1, 4)) not in pairs
    # interrupted swap: store vanished, only the backup remains ->
    # the next compaction recovers it first
    os.replace(store, backup_path(store))
    assert compact_signature_store(spark, store) == 4  # +2 new ids


def test_compactor_publishes_watermark_and_resolve_agrees(spark, tmp_path):
    """r8 (ADVICE medium): compact_signature_store PUBLISHES the
    compaction watermark atomically with its output, the marker reads
    through the Hadoop FS API (plain path and file: URI alike), and
    resolve_signature_store returns IDENTICAL content with the marker
    (merge-on-read fast path: base bypasses aggregation, tail anti-
    joins it) and without it (legacy full-resolve path)."""
    import os

    from pyspark.sql import functions as F

    from etl_pack_spark.streaming.incremental import (
        COMPACTION_MARKER,
        compact_signature_store,
        compaction_watermark,
        resolve_signature_store,
    )

    store = str(tmp_path / "store")
    # two stamped generations of id 1, plus id 2
    spark.createDataFrame(
        [(1, 11, 0), (2, 22, 0), (1, 99, 5)],
        "doc_id long, mh_0 long, __batch long",
    ).write.parquet(store)
    n = compact_signature_store(spark, store)
    assert n == 2 == resolve_signature_store(spark, store).count()
    assert compaction_watermark(spark, store) == 5
    # scheme-aware marker IO: the same marker resolves via a file: URI
    assert compaction_watermark(spark, "file://" + store) == 5

    # append a TAIL above the watermark: id 2 rewritten + new id 3
    spark.createDataFrame(
        [(2, 77, 7), (3, 33, 7)], "doc_id long, mh_0 long, __batch long"
    ).write.mode("append").parquet(store)

    def resolved():
        return sorted(
            (r["doc_id"], r["mh_0"])
            for r in resolve_signature_store(spark, store).collect()
        )

    fast = resolve_signature_store(spark, store)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan  # the marker path's tail-override join
    with_marker = resolved()
    os.remove(os.path.join(store, COMPACTION_MARKER))
    assert compaction_watermark(spark, store) is None
    assert with_marker == resolved() == [(1, 99), (2, 77), (3, 33)]

    # re-compacting advances the watermark past the tail
    assert compact_signature_store(spark, store) == 3 == resolve_signature_store(spark, store).count()
    assert compaction_watermark(spark, store) == 7
    assert resolved() == [(1, 99), (2, 77), (3, 33)]


@pytest.mark.slow
def test_post_compaction_ingest_lands_above_watermark(spark, tmp_path):
    """r8: append stamps are epoch millis, so a FRESH checkpoint's
    micro-batches (ids restarting at 0) still land ABOVE any prior
    compaction watermark — a rewrite ingested after compaction must
    win the resolve, not be misread as compacted base."""
    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.tokenize import shingle_rows
    from etl_pack_spark.streaming.incremental import (
        compact_signature_store,
        compaction_watermark,
        resolve_signature_store,
        stream_neardup_ingest,
    )

    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    t_a = "alpha beta gamma delta epsilon zeta eta theta running words"
    t_b = "storage engines compact sorted runs into larger immutable files"

    def sig_of(rows):
        return neardup.minhash_signature(
            shingle_rows(
                spark.createDataFrame(rows, "doc_id long, text string"),
                "doc_id", "text", 3, distinct=False,
            ),
            "doc_id",
        )

    spark.createDataFrame([(1, t_a), (5, t_b)], "doc_id long, text string") \
        .write.mode("append").parquet(src)
    stream_neardup_ingest(spark, src, store, str(tmp_path / "m0"),
                          str(tmp_path / "ck0"))
    compact_signature_store(spark, store)
    wm = compaction_watermark(spark, store)
    assert wm is not None and wm > 0  # epoch-millis stamp

    # NEW source dir + NEW checkpoint (micro-batch ids restart at 0):
    # rewrite doc 1 (a fresh checkpoint on the OLD dir would replay the
    # original file into the same micro-batch — two texts per id)
    src2 = str(tmp_path / "src2")
    spark.createDataFrame([(1, t_b)], "doc_id long, text string") \
        .write.mode("append").parquet(src2)
    stream_neardup_ingest(spark, src2, store, str(tmp_path / "m1"),
                          str(tmp_path / "ck1"))
    res = resolve_signature_store(spark, store)
    assert res.count() == 2  # one row per id — no duplicate id 1
    got = res.where("doc_id = 1").drop("doc_id", "__batch").collect()[0]
    want = sig_of([(1, t_b)]).drop("doc_id").collect()[0]
    assert tuple(got) == tuple(want)  # the post-compaction rewrite won


@pytest.mark.slow
def test_update_cluster_store_incremental_fold(spark, tmp_path):
    """r8 incremental clusters maintenance, end-to-end with the ingest:
    two near-dup ingest firings append stamped matches; each
    update_cluster_store firing folds only the new tail (marker-
    watermarked), the final labeling equals a full relabel of ALL
    matches, a replayed maintenance firing is a no-op, and the CLI
    mode drives the same path."""
    from etl_pack_spark.cli import main
    from etl_pack_spark.operators.components import connected_components
    from etl_pack_spark.streaming.incremental import (
        compact_signature_store,
        read_cluster_store,
        stream_neardup_ingest,
        update_cluster_store,
    )

    store = str(tmp_path / "sig")
    matches = str(tmp_path / "m")
    clusters = str(tmp_path / "clusters")
    t_a = "alpha beta gamma delta epsilon zeta eta theta running words"
    t_b = "storage engines compact sorted runs into larger immutable files"

    # firing 1: docs 1/2 near-dup t_a, doc 5 is t_b (no pair yet)
    src1 = str(tmp_path / "src1")
    spark.createDataFrame(
        [(1, t_a), (2, t_a + " tail"), (5, t_b)], "doc_id long, text string"
    ).write.parquet(src1)
    stream_neardup_ingest(spark, src1, store, matches, str(tmp_path / "ck1"))
    n1 = update_cluster_store(spark, clusters, matches)
    got1 = {(r["id"], r["cluster_id"])
            for r in read_cluster_store(spark, clusters).collect()}
    assert got1 == {(1, 1), (2, 1)} and n1 == 2  # delta = 2 new labels

    # maintenance replay with no new matches: store untouched, delta 0
    # (r9: the default return is the delta — the full total is opt-in
    # and is the only path that re-reads the live store)
    assert update_cluster_store(spark, clusters, matches) == 0
    assert update_cluster_store(spark, clusters, matches,
                                return_total=True) == 2

    # firing 2: doc 6 near-dups t_b (new cluster) and doc 3 near-dups
    # t_a (extends the existing cluster)
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [(3, t_a + " more"), (6, t_b + " tail")], "doc_id long, text string"
    ).write.parquet(src2)
    stream_neardup_ingest(spark, src2, store, matches, str(tmp_path / "ck2"))
    # CLI drives the second fold
    assert main(["--update-clusters", clusters, "--matches", matches]) == 0
    got2 = sorted(map(tuple, read_cluster_store(spark, clusters).collect()))
    all_pairs = spark.read.parquet(matches).select("id_a", "id_b").distinct()
    want = sorted(map(tuple, connected_components(all_pairs).collect()))
    assert got2 == want
    d = dict(got2)
    assert d[1] == d[2] == d[3] == 1 and d[5] == d[6] == 5
    # the clusters store IS a signature store: the shared compactor
    # bounds it (delta rows collapse) without changing the labeling,
    # and the fold marker (a sibling sidecar) survives the swap
    n_physical = spark.read.parquet(clusters).count()
    compact_signature_store(spark, clusters, "id")
    assert spark.read.parquet(clusters).count() <= n_physical
    assert sorted(map(tuple, read_cluster_store(spark, clusters).collect())) == want
    assert update_cluster_store(spark, clusters, matches) == 0  # no-op fold
    # flag validation: --matches is required, and exclusive with others
    assert main(["--update-clusters", clusters]) == 2
    assert main(["--matches", matches]) == 2
    assert main(["--update-clusters", clusters, "--matches", matches,
                 "--compact-sigstore", store]) == 2


@pytest.mark.slow
def test_store_stats_reports_maintenance_signals(spark, tmp_path):
    """r9 store introspection: physical vs live rows, watermark/tail,
    monotone-stamp sidecar, dead fraction — before and after
    compaction, plus the CLI mode."""
    import json as _json

    from etl_pack_spark.cli import main
    from etl_pack_spark.streaming.incremental import (
        compact_signature_store,
        stream_neardup_ingest,
        store_stats,
    )

    store = str(tmp_path / "sig")
    t_a = "alpha beta gamma delta epsilon zeta eta theta running words"
    src1 = str(tmp_path / "src1")
    spark.createDataFrame([(1, t_a), (2, t_a + " x")],
                          "doc_id long, text string").write.parquet(src1)
    stream_neardup_ingest(spark, src1, store, str(tmp_path / "m"),
                          str(tmp_path / "ck1"))
    # rewrite doc 1 (fresh source+checkpoint): superseded row appears
    src2 = str(tmp_path / "src2")
    spark.createDataFrame([(1, t_a + " rewritten tail")],
                          "doc_id long, text string").write.parquet(src2)
    stream_neardup_ingest(spark, src2, store, str(tmp_path / "m"),
                          str(tmp_path / "ck2"))
    s = store_stats(spark, store)
    assert s["physical_rows"] == 3 and s["live_ids"] == 2
    assert s["compaction_watermark"] is None and s["tail_rows"] is None
    assert s["dead_fraction"] > 0 and s["last_stamp"] is not None
    compact_signature_store(spark, store)
    s2 = store_stats(spark, store)
    assert s2["physical_rows"] == s2["live_ids"] == 2
    assert s2["compaction_watermark"] is not None and s2["tail_rows"] == 0
    assert s2["dead_fraction"] == 0.0
    # the sidecar survives the compaction swap (sibling placement)
    assert s2["last_stamp"] == s["last_stamp"]
    # CLI mode + exclusivity validation
    assert main(["--store-stats", store]) == 0
    assert main(["--store-stats", store, "--compact-sigstore", store]) == 2


class TestIngestLease:
    """r10 ADVICE: the matches-sidecar floor's 'below means finished'
    invariant requires that ingest firings on one store never overlap
    — previously an implicit docstring assumption, now an enforced
    lease (an exclusive sidecar file held for the firing's duration)."""

    @pytest.mark.slow
    def test_concurrent_firing_is_rejected_while_lease_held(
        self, spark, tmp_path
    ):
        from etl_pack_spark.streaming.incremental import (
            _stamp_lease,
            stream_neardup_ingest,
            update_cluster_store,
        )

        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        ).write.parquet(src)
        store = str(tmp_path / "sigstore")
        clusters = str(tmp_path / "clusters")
        matches = str(tmp_path / "matches")
        # simulate a live firing holding the lease: a second firing on
        # the SAME store must fail loudly, not race the sidecar seed
        with _stamp_lease(spark, store):
            with pytest.raises(RuntimeError, match="ingest lease"):
                stream_neardup_ingest(
                    spark, src, store, matches, str(tmp_path / "ck")
                )
        # released on exit: the firing now proceeds
        stream_neardup_ingest(
            spark, src, store, matches, str(tmp_path / "ck2")
        )
        # the fold leases the CLUSTERS store (per-store leases: fold
        # and ingest may overlap — that's what safety_lag handles)
        with _stamp_lease(spark, clusters):
            with pytest.raises(RuntimeError, match="ingest lease"):
                update_cluster_store(spark, clusters, matches)
        assert update_cluster_store(spark, clusters, matches) == 0

    def test_stale_lease_is_overtaken(self, spark, tmp_path):
        """A kill between acquire and release must not deadlock the
        store: a lease older than the TTL is treated as a crashed
        holder and overtaken. An UNREADABLE payload is judged by the
        file's own age (r11 self-review): a FRESH zero-byte/garbage
        lease is exactly what a live holder's create-to-write window
        looks like, so it must be treated as HELD, while an old one is
        a crashed holder."""
        import json
        import os

        from etl_pack_spark.sinks import fsio
        from etl_pack_spark.streaming.incremental import (
            _lease_path,
            _stamp_lease,
        )

        store = str(tmp_path / "store")
        fsio.write_text(
            spark, _lease_path(store),
            json.dumps({"pid": 1, "acquired_at_ms": 12345}),  # ancient
        )
        with _stamp_lease(spark, store):
            pass  # acquired despite the stale file
        assert not fsio.exists(spark, _lease_path(store))
        # FRESH unreadable lease = a live holder mid-write: held
        fsio.write_text(spark, _lease_path(store), "not json")
        with pytest.raises(RuntimeError, match="ingest lease"):
            with _stamp_lease(spark, store):
                pass
        # the same garbage payload with an OLD mtime = crashed holder
        os.utime(_lease_path(store), (1, 1))
        with _stamp_lease(spark, store):
            pass
        assert not fsio.exists(spark, _lease_path(store))

    def test_release_only_if_still_owner(self, spark, tmp_path):
        """r11 self-review: a firing that was overtaken (TTL overrun)
        must NOT delete the new holder's lease on exit — release
        compares the owner token first."""
        import json

        from etl_pack_spark.sinks import fsio
        from etl_pack_spark.streaming.incremental import (
            _lease_path,
            _stamp_lease,
        )

        store = str(tmp_path / "store")
        lease = _lease_path(store)
        with _stamp_lease(spark, store):
            # simulate an overtake while the firing is still running:
            # a new holder replaced the lease with its own token
            fsio.delete(spark, lease)
            fsio.write_text(spark, lease, json.dumps(
                {"token": "other", "pid": 2, "acquired_at_ms": 1}
            ))
        # exit must have LEFT the new holder's lease in place
        assert fsio.exists(spark, lease)
        assert json.loads(fsio.read_text(spark, lease))["token"] == "other"

    @pytest.mark.slow
    def test_lease_released_on_firing_failure(self, spark, tmp_path):
        """The lease is released even when the firing fails INSIDE the
        leased section — a crashed firing must not require manual
        lease cleanup (modulo the TTL escape, which exists for
        process-kill crashes that skip the finally)."""
        from etl_pack_spark.sinks import fsio
        from etl_pack_spark.streaming.incremental import (
            _lease_path,
            stream_neardup_ingest,
        )

        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, "alpha beta gamma")], "doc_id long, text string"
        ).write.parquet(src)
        store = str(tmp_path / "store")
        with pytest.raises(Exception):
            # wrong id column: schema inference (pre-lease) succeeds,
            # the micro-batch fold fails inside the leased streaming
            # query and propagates through awaitTermination
            stream_neardup_ingest(
                spark, src, store, str(tmp_path / "m"),
                str(tmp_path / "ck"), id_col="no_such_col",
            )
        assert not fsio.exists(spark, _lease_path(store))

    def test_stale_reclaim_guarded_delete(self, spark, tmp_path):
        """r12 (r11 ADVICE medium): two contenders that both judged
        the same stale lease must not BOTH end up holding — the slow
        one re-reads immediately before its delete and aborts when
        the payload is no longer the judged stale bytes (i.e. the
        fast contender already re-created a fresh lease)."""
        import json

        import pytest

        from etl_pack_spark.sinks import fsio
        from etl_pack_spark.streaming.incremental import (
            _lease_path,
            _reclaim_stale,
        )

        store = str(tmp_path / "store")
        lease = _lease_path(store)
        stale = json.dumps({"token": "dead", "pid": 1, "acquired_at_ms": 1})
        fresh = json.dumps(
            {"token": "fast", "pid": 2, "acquired_at_ms": 9_999_999_999_999}
        )
        # the fast contender already overtook: lease payload is FRESH
        fsio.write_text(spark, lease, fresh)
        with pytest.raises(RuntimeError, match="already replaced"):
            _reclaim_stale(spark, store, lease, stale, '{"token":"slow"}',
                           "slow")
        # the fresh holder's lease survived the losing contender
        assert json.loads(fsio.read_text(spark, lease))["token"] == "fast"
        # unchanged stale payload: the overtake proceeds and holds
        fsio.write_text(spark, lease, stale)
        mine = json.dumps({"token": "slow", "pid": 3, "acquired_at_ms": 5})
        _reclaim_stale(spark, store, lease, stale, mine, "slow")
        assert json.loads(fsio.read_text(spark, lease))["token"] == "slow"
        # vanished lease (holder released between judge and reclaim):
        # fall through to a clean create
        fsio.delete(spark, lease)
        _reclaim_stale(spark, store, lease, stale, mine, "slow")
        assert json.loads(fsio.read_text(spark, lease))["token"] == "slow"


class TestStreamQualityDrift:
    """r13: the resident drift monitor — per-micro-batch PSI against a
    saved baseline histogram, verdicts appended to the report store."""

    def _baseline(self, spark, docs, path):
        import json as _json

        from etl_pack_spark.operators.quality import (
            DRIFT_CATEGORIES,
            DRIFT_EDGES,
            canonical_drift_config,
            signal_histogram,
        )
        from etl_pack_spark.operators.textops import text_signals
        from etl_pack_spark.sinks.fsio import write_text

        signal_histogram(
            text_signals(docs, "doc_id", "text")
        ).coalesce(1).write.parquet(path)
        write_text(
            spark, path.rstrip("/") + "/_drift_config.json",
            canonical_drift_config(dict(DRIFT_EDGES),
                                   dict(DRIFT_CATEGORIES)),
        )

    @pytest.mark.slow
    def test_stable_then_shifted_slices(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from etl_pack_spark.sources.reader import read_table
        from etl_pack_spark.streaming.incremental import stream_quality_drift

        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "text")
        hist = str(tmp_path / "hist")
        self._baseline(spark, docs, hist)
        src = str(tmp_path / "src")
        reports = str(tmp_path / "reports")
        ckpt = str(tmp_path / "ckpt")
        # slice 1: the baseline corpus itself -> PSI 0, all stable
        docs.coalesce(1).write.mode("append").parquet(src)
        n = stream_quality_drift(spark, src, hist, ckpt, reports)
        assert n >= 1
        rep = spark.read.parquet(reports)
        first = rep.where("mode = 'drift_stream'")
        assert first.count() > 0
        assert {r["verdict"] for r in first.collect()} == {"stable"}
        # slice 2: truncated texts -> token-length mix shifts
        docs.select(
            "doc_id", F.substring("text", 1, 12).alias("text")
        ).coalesce(1).write.mode("append").parquet(src)
        stream_quality_drift(spark, src, hist, ckpt, reports)
        rep2 = spark.read.parquet(reports).where("mode = 'drift_stream'")
        firings = {r["detail"] for r in rep2.select("detail").collect()}
        assert len(firings) >= 2  # the second slice scored separately
        worst = rep2.groupBy("detail").agg(
            F.max("value").alias("m")).collect()
        assert max(r["m"] for r in worst) > 0.25  # major shift caught
        # checkpoint: nothing new -> no new rows
        before = rep2.count()
        stream_quality_drift(spark, src, hist, ckpt, reports)
        assert spark.read.parquet(reports) \
            .where("mode = 'drift_stream'").count() == before

    def test_bad_baseline_is_loud(self, spark, sf_dir, tmp_path):
        import pytest as _pytest

        from etl_pack_spark.sources.reader import read_table
        from etl_pack_spark.sinks.fsio import delete
        from etl_pack_spark.streaming.incremental import stream_quality_drift

        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "text")
        src = str(tmp_path / "src")
        docs.coalesce(1).write.parquet(src)
        # not a histogram at all
        with _pytest.raises(ValueError, match="saved drift histogram"):
            stream_quality_drift(
                spark, src, src, str(tmp_path / "c1"),
                str(tmp_path / "r1"))
        # histogram with its config sidecar gone
        hist = str(tmp_path / "hist")
        self._baseline(spark, docs, hist)
        delete(spark, hist + "/_drift_config.json")
        with _pytest.raises(ValueError, match="_drift_config.json"):
            stream_quality_drift(
                spark, src, hist, str(tmp_path / "c2"),
                str(tmp_path / "r2"))

    @pytest.mark.slow
    def test_deploy_before_first_slice(self, spark, sf_dir, tmp_path):
        """r14: a resident monitor deployed before the day's crawl
        arrives must not crash — empty/missing source = 0 batches;
        the NEXT firing scores whatever landed in between."""
        from etl_pack_spark.sources.reader import read_table
        from etl_pack_spark.streaming.incremental import stream_quality_drift

        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "text")
        hist = str(tmp_path / "hist")
        self._baseline(spark, docs, hist)
        src = str(tmp_path / "src")  # does not exist yet
        reports = str(tmp_path / "reports")
        ckpt = str(tmp_path / "ckpt")
        assert stream_quality_drift(spark, src, hist, ckpt, reports) == 0
        # empty dir (created, no files) is the same normal state
        (tmp_path / "src").mkdir()
        assert stream_quality_drift(spark, src, hist, ckpt, reports) == 0
        import os
        assert not os.path.exists(reports)  # nothing scored, no rows
        # a slice lands -> the next firing scores it
        docs.coalesce(1).write.mode("append").parquet(src)
        assert stream_quality_drift(spark, src, hist, ckpt, reports) == 1
        rep = spark.read.parquet(reports).where("mode = 'drift_stream'")
        assert rep.count() > 0
        assert {r["verdict"] for r in rep.collect()} == {"stable"}

    @pytest.mark.slow
    def test_explicit_schema_and_batch_count(self, spark, sf_dir, tmp_path):
        """r14: schema= pins the slice schema without inferring from the
        first file, and the return counts batches from the callback
        (recentProgress caps at numRecentProgressUpdates)."""
        from etl_pack_spark.sources.reader import read_table
        from etl_pack_spark.streaming.incremental import stream_quality_drift

        docs = read_table(spark, sf_dir, "documents") \
            .select("doc_id", "text")
        hist = str(tmp_path / "hist")
        self._baseline(spark, docs, hist)
        src = str(tmp_path / "src")
        reports = str(tmp_path / "reports")
        ckpt = str(tmp_path / "ckpt")
        # explicit schema works even against a not-yet-existing source
        assert stream_quality_drift(
            spark, src, hist, ckpt, reports, schema=docs.schema) == 0
        # two files, maxFilesPerTrigger default -> availableNow drains
        # them; count comes back from the callback counter
        docs.limit(10).coalesce(1).write.mode("append").parquet(src)
        n = stream_quality_drift(
            spark, src, hist, ckpt, reports, schema=docs.schema)
        assert n >= 1


@pytest.mark.slow
def test_batch_count_uncapped_past_recent_progress_limit(spark, tmp_path):
    """round-14 VERDICT #2: a backlog larger than
    spark.sql.streaming.numRecentProgressUpdates (default 100) drained in
    ONE availableNow firing must report its exact micro-batch count —
    len(query.recentProgress) would cap at 100. 105 single-row files at
    maxFilesPerTrigger=1 = 105 micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    n_files = 105
    base_us = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
    for i in range(n_files):
        t = pa.table({
            "ts": pa.array([base_us + i * 60_000_000], pa.timestamp("us")),
            "event_type": pa.array(["click"]),
            "value": pa.array([1.0], pa.float64()),
        })
        pq.write_table(t, src / f"f{i:04d}.parquet")

    n = stream_transfer(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        window="1 hour", watermark="1 hour", max_files_per_trigger=1,
    )
    # 105 data batches, plus the watermark-finalization no-data batch
    # WHEN it wins the race with availableNow termination (it fires in
    # isolation; under full-suite load it has been observed to be
    # skipped — the same optionality the refire assertion below always
    # acknowledged). The VERDICT-#2 property under test is that the
    # count is UNCAPPED: recentProgress would report 100 here.
    assert n in (n_files, n_files + 1)

    # second firing over the same files: checkpoint says nothing new
    n2 = stream_transfer(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        window="1 hour", watermark="1 hour", max_files_per_trigger=1,
    )
    assert n2 <= 1  # at most the empty finalization batch


@pytest.mark.slow
class TestMediaDedupIngest:
    """r15: image near-dup-on-ingest — the multimodal member of the
    resident-dedup family (dHash store + incremental hamming match)."""

    def _media(self, spark, rows):
        return spark.createDataFrame(
            [(i, bytearray(b)) for i, b in rows],
            "media_id long, content binary")

    def test_two_firings_match_across_store(self, spark, tmp_path):
        from etl_pack_spark.operators.multimodal import image_dhash
        from etl_pack_spark.operators.neardup import hamming_neardup_pairs
        from etl_pack_spark.streaming.incremental import (
            stream_media_dedup_ingest,
        )

        # fake mode: dhash = md5(bytes)[:16] — exact payload dup = exact
        # signature dup; groups (1,4) and (2,5) duplicate across firings
        payloads = {1: b"img-A" * 10, 2: b"img-B" * 10, 3: b"img-C" * 10,
                    4: b"img-A" * 10, 5: b"img-B" * 10, 6: b"img-D" * 10}
        first = self._media(spark, [(i, payloads[i]) for i in (1, 2, 3)])
        second = self._media(spark, [(i, payloads[i]) for i in (4, 5, 6)])
        src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
        first.write.parquet(src1)
        second.write.parquet(src2)
        store = str(tmp_path / "store")
        matches = str(tmp_path / "matches")

        n1 = stream_media_dedup_ingest(
            spark, src1, store, matches, str(tmp_path / "c1"),
            max_hamming=0, fake=True)
        assert n1 == 1
        n2 = stream_media_dedup_ingest(
            spark, src2, store, matches, str(tmp_path / "c2"),
            max_hamming=0, fake=True)
        assert n2 == 1

        got = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
               for r in spark.read.parquet(matches)
               .select("id_a", "id_b").distinct().collect()}
        # streamed pairs == full-batch pairs over the whole corpus
        every = self._media(spark, list(payloads.items()))
        want = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
                for r in hamming_neardup_pairs(
                    image_dhash(every, fake=True), "media_id", "dhash",
                    max_hamming=0).collect()}
        assert got == want == {(1, 4), (2, 5)}
        # store holds one signature per media item
        assert spark.read.parquet(store) \
            .select("media_id").distinct().count() == 6

    def test_replay_absorbed_and_undecodable_skipped(self, spark, tmp_path):
        from etl_pack_spark.streaming.incremental import (
            stream_media_dedup_ingest,
        )

        media = self._media(spark, [(1, b"img-X" * 9), (2, b"img-Y" * 9)])
        src = str(tmp_path / "src")
        media.write.parquet(src)
        store, matches = str(tmp_path / "store"), str(tmp_path / "m")
        stream_media_dedup_ingest(
            spark, src, store, matches, str(tmp_path / "c1"),
            max_hamming=0, fake=True)
        # fresh checkpoint = full redelivery: the replay absorber keeps
        # the ids from self-matching their own stored signatures
        stream_media_dedup_ingest(
            spark, src, store, matches, str(tmp_path / "c2"),
            max_hamming=0, fake=True)
        import os
        assert (not os.path.exists(matches)
                or spark.read.parquet(matches).count() == 0)
        assert spark.read.parquet(store) \
            .select("media_id").distinct().count() == 2

        # real mode: undecodable payloads contribute nothing, real PNGs
        # still flow (plumbing identical)
        bad = self._media(spark, [(7, b"not an image"), (8, b"junk" * 5)])
        src2 = str(tmp_path / "src2")
        bad.write.parquet(src2)
        stream_media_dedup_ingest(
            spark, src2, str(tmp_path / "store2"), str(tmp_path / "m2"),
            str(tmp_path / "c3"), max_hamming=0, fake=False)
        assert not os.path.exists(str(tmp_path / "store2")) or \
            spark.read.parquet(str(tmp_path / "store2")).count() == 0
