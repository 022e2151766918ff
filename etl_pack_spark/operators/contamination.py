"""Train/eval contamination detection: flag training documents that
share long word n-grams with an evaluation set.

The standard decontamination step in LLM training-data pipelines
(benchmark answers leaking into pre-training text). A train doc is
contaminated when any of its ``n``-gram shingles appears in ANY eval
doc; the operator reports per-train-doc hit counts so callers can
threshold, inspect, or drop. (Not in the reference — whose dedup is
whole-row-only, etl.go:59-68 — part of the SURVEY §7.3 extension
family; same shingle machinery as :mod:`~.neardup`.)

Scale design:
  * The eval side is shingled to a DISTINCT hash set — eval sets
    (benchmarks) are orders of magnitude smaller than the corpus, so
    this set is tiny and Catalyst broadcasts the semi-join build side:
    the corpus-side scan streams map-only, nothing corpus-sized is
    ever shuffled.
  * Train shingles are hashed to 64-bit (xxhash64) BEFORE the join, so
    the join carries 8-byte keys, not n-word strings.
  * Per-doc hit counts aggregate map-side (partial count) — one
    shuffle of (doc, count) pairs bounded by contaminated docs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators.tokenize import shingle_rows, shingles_sql, tokens_sql


def eval_ngram_set(eval_df: DataFrame, text_col: str, n: int = 8) -> DataFrame:
    """Distinct 64-bit hashes of the eval set's word n-grams — the
    (small) build side of the contamination semi-join."""
    tagged = eval_df.select(F.monotonically_increasing_id().alias("__eid"), text_col)
    return (
        shingle_rows(tagged, "__eid", text_col, n)
        .select(F.xxhash64("s").alias("gh"))
        .distinct()
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-train-doc contamination: ``(id_col, hits)`` for every train
    doc sharing ≥ 1 distinct word ``n``-gram with the eval set.

    ``hits`` counts DISTINCT shared n-grams (a doc repeating one leaked
    n-gram scores 1), so thresholds mean "how much eval text appears",
    not "how often"."""
    evset = eval_ngram_set(eval_df, text_col, n)
    train_grams = shingle_rows(train, id_col, text_col, n).select(
        id_col, F.xxhash64("s").alias("gh")
    )
    return (
        # bounded by construction: evset is the distinct n-gram hashes
        # of the EVAL set — benchmarks are fixed-size by contract
        # (thousands of questions), independent of corpus scale
        train_grams.join(F.broadcast(evset), "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("gh").alias("hits"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
) -> DataFrame:
    """Drop train docs with more than ``max_hits`` distinct shared
    n-grams (default: any overlap).

    The flagged-id set is USUALLY small (clean corpus, fixed eval set)
    — but it grows with corpus size for a fixed eval set, and a
    heavily contaminated mirror-crawl can flag a large corpus fraction,
    so the anti-join build side is NOT bounded by construction. The
    flagged frame is persisted (its lineage is a full train-shingle
    scan — the probe and the join must not run it twice) and routed
    through :func:`~etl_pack_spark.operators.guards.maybe_broadcast`:
    broadcast when a bounded probe proves it small, AQE's shuffled
    join otherwise. The corpus side is never shuffled in the broadcast
    case."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.guards import maybe_broadcast

    flagged = pooled_persist(
        contamination_report(train, eval_df, id_col, text_col, n)
        .where(F.col("hits") > max_hits)
        .select(id_col)
    )
    return train.join(maybe_broadcast(flagged), id_col, "left_anti")


def eval_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-EVAL-ITEM contamination: ``(id_col, n_grams, n_hit,
    contaminated_frac)`` — for each eval doc with ≥ 1 word ``n``-gram,
    the fraction of its DISTINCT n-grams that appear anywhere in the
    training corpus. The reverse direction of
    :func:`contamination_report`: that one decides which TRAIN docs to
    drop; this one measures how compromised each EVAL item (benchmark
    question) is — the number a benchmark contamination appendix
    reports ("X% of test items are ≥ 50% contaminated") and the basis
    for flagging/removing eval items rather than training text.
    Zero-hit eval items appear with frac 0 (a report that silently
    omits clean items can't state a contamination RATE).

    Scale: the corpus-sized side does map-only shingling + ONE
    semi-join against the (broadcast, benchmark-sized) eval gram set;
    what comes back — the distinct TRAIN-∩-EVAL gram hashes — is
    bounded by the eval set again, so the final per-item join
    broadcasts too. Nothing corpus-sized ever shuffles.
    """
    ev_grams = (
        shingle_rows(eval_df, id_col, text_col, n)
        .select(id_col, F.xxhash64("s").alias("gh"))
        .distinct()
    )
    # bounded by construction: benchmarks are fixed-size by contract
    ev_gram_set = ev_grams.select("gh").distinct()
    train_grams = shingle_rows(train, id_col, text_col, n).select(
        F.xxhash64("s").alias("gh")
    )
    # bounded by construction: a subset of the eval gram set
    hit_set = (
        train_grams.join(F.broadcast(ev_gram_set), "gh", "left_semi")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per = ev_grams.join(F.broadcast(hit_set), "gh", "left")
    return per.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__hit").alias("n_hit"),
    ).select(
        id_col,
        "n_grams",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.col("n_grams").cast("double"), 9
        ).alias("contaminated_frac"),
    )


def eval_contamination_sql(
    train_table: str,
    eval_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> str:
    """DuckDB oracle twin of :func:`eval_contamination` (string
    shingles — same hashing caveat as :func:`contamination_report_sql`)."""
    return f"""
    WITH __ev AS (
        SELECT DISTINCT {id_col}, unnest({shingles_sql('toks', n)}) AS s
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {eval_table})
    ),
    __hits AS (
        SELECT DISTINCT s
        FROM (
            SELECT unnest({shingles_sql('toks', n)}) AS s
            FROM (SELECT {tokens_sql(text_col)} AS toks FROM {train_table})
        )
        WHERE s IN (SELECT s FROM __ev)
    )
    SELECT {id_col},
           count(*) AS n_grams,
           count(h.s) AS n_hit,
           round(CAST(count(h.s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
               AS contaminated_frac
    FROM __ev LEFT JOIN __hits h USING (s)
    GROUP BY {id_col}
    """


def contamination_report_sql(
    train_table: str,
    eval_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> str:
    """DuckDB oracle twin of :func:`contamination_report` (string
    shingles compared directly — hashing is an engine-side join-width
    optimization that cannot change the distinct-match count)."""
    return f"""
    WITH __ev_grams AS (
        SELECT DISTINCT unnest({shingles_sql('toks', n)}) AS s
        FROM (SELECT {tokens_sql(text_col)} AS toks FROM {eval_table})
    ),
    __train_grams AS (
        SELECT {id_col}, unnest({shingles_sql('toks', n)}) AS s
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {train_table})
    )
    SELECT {id_col}, count(DISTINCT s) AS hits
    FROM __train_grams JOIN __ev_grams USING (s)
    GROUP BY {id_col}
    """


# ---------------------------------------------------------------------------
# Eval-fingerprint registry (r12): cross-run decontamination store
# ---------------------------------------------------------------------------
#
# decontaminate() takes an eval frame per call; a real training-data
# platform accumulates eval sets over time (new benchmarks, new held-out
# splits) and every ingest/refresh must decontaminate against ALL of
# them. The registry persists each eval set's distinct n-gram hashes
# ONCE — (gh, eval_set, n, registered_at_ms) rows, benchmark-sized, so
# the store stays broadcast-sized by contract — and later runs join
# against the store without ever re-reading eval text. Same operational
# posture as the other incremental stores: exclusive ingest lease
# around the append, append-only parquet, a manifest (underscore name,
# invisible to parquet readers) recording the store's DEFAULT shingle
# width. The width is PER EVAL SET since r13 (round-12 VERDICT #3: one
# global width forced mixed code/prose benchmark suites into separate
# stores — and separate corpus scans — defeating the one-scan design);
# each set's width lives in its rows, the corpus pass groups by
# distinct width (one scan per width, not per set), and an explicit
# ``n`` contradicting a set's OWN registered width stays a loud error.

_REGISTRY_META = "_eval_registry.json"

# eval_set names are interpolated into oracle SQL string literals and
# land in report rows — same plain-token posture as the drift signal
# names (r13, ADVICE): a quote or whitespace would break the DuckDB
# twin silently.
_EVAL_SET_RE = r"[A-Za-z0-9_.\-]+"


def _check_eval_set_name(eval_set: str) -> None:
    import re

    if not re.fullmatch(_EVAL_SET_RE, eval_set or ""):
        raise ValueError(
            f"eval_set must be a plain token ({_EVAL_SET_RE}), got "
            f"{eval_set!r} — it is interpolated into report rows and "
            "oracle SQL string literals"
        )


def _registry_meta_path(store_path: str) -> str:
    return store_path.rstrip("/") + "/" + _REGISTRY_META


def _registry_default_n(spark, store_path: str) -> int:
    """The registry's manifest default width (used when ``n`` is
    omitted for a NEW set). A missing manifest means the path is not a
    registry — loud, not a silent empty frame."""
    import json as _json

    from etl_pack_spark.sinks.fsio import read_text

    raw = read_text(spark, _registry_meta_path(store_path))
    if raw is None:
        raise ValueError(
            f"{store_path!r} has no eval-registry manifest "
            f"({_REGISTRY_META}) — register an eval set first, or point "
            "at the right store"
        )
    return int(_json.loads(raw)["n"])


_REGISTRY_SCHEMA = (
    "gh long, eval_set string, n int, registered_at_ms long"
)


def _read_registry(spark, store_path: str) -> DataFrame:
    """The registry as ``(gh, eval_set, n, registered_at_ms)``.
    Legacy stores (r12: one global width, rows without an ``n``
    column) read with every row at the manifest width, so a store
    written before the per-set upgrade keeps matching identically.
    A manifest with ZERO data files (the documented crash window
    between manifest write and first append — Spark cannot infer a
    schema from an empty dir) reads as an empty registry, not an
    AnalysisException."""
    default_n = _registry_default_n(spark, store_path)
    try:
        df = spark.read.parquet(store_path)
    except Exception as e:  # noqa: BLE001 - empty-dir probe below
        if "UNABLE_TO_INFER_SCHEMA" not in str(e) \
                and "Unable to infer schema" not in str(e):
            raise
        return spark.createDataFrame([], _REGISTRY_SCHEMA)
    if "n" not in df.columns:
        df = df.withColumn("n", F.lit(default_n))
    return df.select("gh", "eval_set", F.col("n").cast("int").alias("n"),
                     "registered_at_ms")


def register_eval_set(
    spark,
    eval_df: DataFrame,
    store_path: str,
    eval_set: str,
    text_col: str = "text",
    n: int | None = None,
) -> int:
    """Fingerprint one eval set into the registry at ``store_path``:
    distinct 64-bit word-``n``-gram hashes, appended as
    ``(gh, eval_set, n, registered_at_ms)``. Returns the number of NEW
    hashes appended — re-registering the same set (same name) is
    idempotent by anti-join, so a retried cron firing appends 0.

    The append runs under the store's exclusive ingest lease (one
    registration at a time per store, like every other incremental
    store). Width rules: a NEW set registers at ``n`` (or the store's
    manifest default, pinned at first registration — 8 when the first
    call omits it); an EXISTING set always re-registers at its OWN
    width, and an explicit ``n`` contradicting it is a loud error (a
    mismatched width silently matches nothing — different fingerprint
    space). Two sets at different widths in one store is the supported
    mixed-suite case (code vs prose benchmarks) — EXCEPT into a legacy
    (pre-r13, no width column) store, which stays single-width: mixing
    row schemas inside one parquet directory would make the width of
    every row depend on which file Spark's schema inference happens to
    pick, so appends into a legacy store keep the legacy schema and a
    non-manifest width there is a loud error pointing at a fresh
    store. The store stays benchmark-sized: eval sets are thousands of
    items by contract, so registration is a small job and every
    consumer can broadcast the whole registry.

    The stamped gram frame is pooled-persisted before the count, so
    the shingle + anti-join lineage executes ONCE per registration
    (r13, round-12 VERDICT #2: count-then-write used to run it twice
    while holding the lease) — the lease hold covers that one job plus
    a single benchmark-sized existing-width probe."""
    import json as _json
    import time as _time

    from etl_pack_spark.operators import guards
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.sinks.fsio import exists, read_text, write_text
    from etl_pack_spark.streaming.incremental import _stamp_lease

    with _stamp_lease(spark, store_path):
        meta_path = _registry_meta_path(store_path)
        raw = read_text(spark, meta_path)
        manifest_n = None if raw is None else int(_json.loads(raw)["n"])
        default_n = manifest_n if manifest_n is not None \
            else (8 if n is None else int(n))
        # ONE store read reused for the width probe and the idempotence
        # anti-join; a manifest-only dir (crash between manifest write
        # and first append) reads as an empty store
        reg = legacy = None
        if exists(spark, store_path):
            try:
                reg = spark.read.parquet(store_path)
            except Exception as e:  # noqa: BLE001 - empty-dir probe
                if "UNABLE_TO_INFER_SCHEMA" not in str(e) \
                        and "Unable to infer schema" not in str(e):
                    raise
            else:
                legacy = "n" not in reg.columns
        existing_n = None
        if reg is not None:
            mine = reg.where(F.col("eval_set") == eval_set)
            if legacy:
                if guards.bounded_count(mine, 0):
                    existing_n = default_n
            else:
                row = mine.select("n").limit(1).collect()
                existing_n = int(row[0]["n"]) if row else None
        if existing_n is None:
            # plain-token rule applies to NEW names only: a set
            # registered under the laxer pre-r13 rule (e.g. a name
            # with a space) stays re-registerable — its reads and
            # engine-side reports never interpolate the name; only
            # the oracle SQL twin does, and that validates its own
            # inputs
            _check_eval_set_name(eval_set)
        if existing_n is not None and n is not None and int(n) != existing_n:
            raise ValueError(
                f"eval set {eval_set!r} in registry {store_path!r} is "
                f"fingerprinted with {existing_n}-gram shingles; "
                f"re-registering with n={n} would silently match "
                "nothing — omit n, or register under a new name"
            )
        n_set = existing_n if existing_n is not None \
            else (int(n) if n is not None else default_n)
        if legacy and n_set != default_n:
            raise ValueError(
                f"registry {store_path!r} predates per-set widths and "
                f"is pinned to {default_n}-gram shingles; registering "
                f"{eval_set!r} at n={n_set} would mix parquet schemas "
                "— register mixed-width suites into a new store"
            )
        grams = eval_ngram_set(eval_df, text_col, n_set)
        if reg is not None:
            grams = grams.join(
                reg.where(F.col("eval_set") == eval_set).select("gh"),
                "gh", "left_anti",
            )
        stamp_ms = F.lit(int(_time.time() * 1000)).alias("registered_at_ms")
        cols = (
            # legacy store: keep its file schema uniform (no width
            # column; the manifest IS the width)
            [F.col("gh"), F.lit(eval_set).alias("eval_set"), stamp_ms]
            if legacy else
            [F.col("gh"), F.lit(eval_set).alias("eval_set"),
             F.lit(n_set).cast("int").alias("n"), stamp_ms]
        )
        stamped = pooled_persist(grams.select(*cols))
        # manifest BEFORE data: a crash in between leaves an empty-but-
        # described store (harmless); data-without-manifest would make
        # every later consumer raise
        if raw is None:
            write_text(spark, meta_path, _json.dumps({"n": default_n}))
        appended = stamped.count()
        if appended:
            stamped.coalesce(1).write.mode("append").parquet(store_path)
        return appended


def registered_eval_sets(spark, store_path: str) -> DataFrame:
    """Registry inventory: ``(eval_set, n, n_grams, registered_at_ms)``
    (the set's shingle width and first registration time) — the audit
    view."""
    return (
        _read_registry(spark, store_path)
        .groupBy("eval_set")
        .agg(
            F.min("n").alias("n"),
            F.count(F.lit(1)).alias("n_grams"),
            F.min("registered_at_ms").alias("registered_at_ms"),
        )
    )


def registry_contamination_report(
    spark,
    train: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-train-doc, per-eval-set contamination against the WHOLE
    registry: ``(id_col, eval_set, hits)`` with ``hits`` = distinct
    shared n-grams, one row per (doc, set) with any overlap. Each
    set's shingle width comes from its registry rows, so the train
    side fingerprints exactly like every registered set.

    Scale: ONE corpus scan TOTAL, regardless of how many widths are
    registered (r13; a mixed suite of prose benchmarks at n=8 and
    code benchmarks at n=10 still costs one pass): the corpus is
    tokenized once and every distinct width's shingle stream is built
    off that one token array in a single projection, each gram tagged
    with its width, so the join key is ``(n, gh)`` — a width can
    never match another width's fingerprint space. The width list is
    registry metadata (a handful of values, collected driver-side);
    the registry side rides the bounded-broadcast guard —
    benchmark-sized by contract, so it broadcasts, but a registry
    grown past the model bound (hundreds of accumulated benchmarks)
    falls back to AQE's shuffled join instead of a forced-broadcast
    OOM; the groupBy carries only matching (doc, set, gh) rows."""
    from etl_pack_spark.operators.guards import maybe_broadcast
    from etl_pack_spark.operators.tokenize import shingles_expr, tokens

    reg = _read_registry(spark, store_path)
    # registry metadata, not data: a few distinct widths by contract
    widths = sorted(r["n"] for r in reg.select("n").distinct().collect())
    if not widths:
        # a registry with a manifest but zero rows (crash window between
        # manifest and first data write): an empty report in the same
        # schema, id typed like the train corpus
        return train.select(id_col).limit(0).select(
            id_col,
            F.lit("").alias("eval_set"),
            F.lit(0).cast("long").alias("hits"),
        )
    # one tokenization, all widths' grams in one exploded projection:
    # per width w, transform its shingle array into (n, gh) structs,
    # flatten across widths, explode — map-only, no second scan.
    # (closure factory, not a default arg: pyspark feeds a two-arg
    # transform lambda the element INDEX as its second argument)
    # array_distinct BEFORE hashing: hits counts DISTINCT shared grams
    # (count_distinct below), so per-doc repeats are semantic no-ops —
    # but without the dedup every occurrence of a boilerplate-repeated
    # gram enters the join and groupBy, the hot-key shuffle shape the
    # r7 posture guards against (r14, restores the r12 single-width
    # path's per-doc distinct)
    def _gram_structs(w: int):
        return F.transform(
            F.array_distinct(shingles_expr("__toks", w)),
            lambda s: F.struct(
                F.lit(w).cast("int").alias("n"),
                F.xxhash64(s).alias("gh"),
            ),
        )

    per_width = [_gram_structs(int(w)) for w in widths]
    train_grams = (
        train.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            id_col,
            F.explode(F.flatten(F.array(*per_width))).alias("__g"),
        )
        .select(id_col, F.col("__g.n").alias("n"), F.col("__g.gh").alias("gh"))
    )
    return (
        train_grams.join(
            maybe_broadcast(reg.select("gh", "eval_set", "n")), ["n", "gh"]
        )
        .groupBy(id_col, "eval_set")
        .agg(F.count_distinct("gh").alias("hits"))
    )


def decontaminate_registered(
    spark,
    train: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """Drop train docs sharing more than ``max_hits`` distinct n-grams
    with ANY registered eval set — :func:`decontaminate` lifted to the
    registry: one corpus scan against every benchmark ever registered.
    Same bounded-or-AQE anti-join posture as the per-call variant."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.guards import maybe_broadcast

    flagged = pooled_persist(
        registry_contamination_report(spark, train, store_path, id_col, text_col)
        .groupBy(id_col)
        .agg(F.max("hits").alias("__worst"))
        .where(F.col("__worst") > max_hits)
        .select(id_col)
    )
    return train.join(maybe_broadcast(flagged), id_col, "left_anti")


def registry_contamination_report_sql(
    train_table: str,
    eval_tables: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int | dict[str, int] = 8,
) -> str:
    """DuckDB oracle twin of :func:`registry_contamination_report`
    over named eval tables (string shingles — hashing is an engine-
    side join-width optimization that cannot change distinct-match
    counts). ``n`` is one width for every set or a per-set dict
    (r13: the per-eval-set width upgrade) — each set's train-side
    shingling uses ITS width, exactly like the engine's per-width
    corpus passes."""
    if not eval_tables:
        raise ValueError("eval_tables must name at least one eval set")
    if isinstance(n, int):
        widths = {name: int(n) for name in eval_tables}
    else:
        missing = sorted(set(eval_tables) - set(n))
        if missing:
            raise ValueError(
                f"per-set width dict is missing eval sets {missing} — "
                "every named eval table needs a width"
            )
        widths = {name: int(n[name]) for name in eval_tables}
    for name in eval_tables:
        _check_eval_set_name(name)
    regs = "\nUNION ALL\n".join(
        f"SELECT DISTINCT '{name}' AS eval_set, {widths[name]} AS n, "
        f"unnest({shingles_sql('toks', widths[name])}) AS s "
        f"FROM (SELECT {tokens_sql(text_col)} AS toks FROM {table})"
        for name, table in sorted(eval_tables.items())
    )
    train_grams = "\nUNION ALL\n".join(
        f"SELECT {id_col}, {w} AS n, "
        f"unnest({shingles_sql('toks', w)}) AS s "
        f"FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks "
        f"FROM {train_table})"
        for w in sorted(set(widths.values()))
    )
    return f"""
    WITH __reg AS ({regs}),
    __train_grams AS (
        {train_grams}
    )
    SELECT {id_col}, eval_set, count(DISTINCT s) AS hits
    FROM __train_grams JOIN __reg USING (n, s)
    GROUP BY {id_col}, eval_set
    """
