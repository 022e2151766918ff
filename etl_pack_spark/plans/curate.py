"""End-to-end corpus curation — the training-data pipeline composed:

    quality gate → language verification → exact dedup → split assign

One query, engine-shaped: all per-document signals (token stats,
language scores) are computed in a SINGLE projection over one scan —
not operator-joins, which would re-read the corpus once per signal.
The only shuffle is the dedup hash group-by; the split is a map-side
expression. At 100 TB: scan → map → one exchange → map.

The whole pipeline is deterministic (marker lexicons, md5 canonical
hash, hash-range splits), so the DuckDB oracle hash-checks the
composition end-to-end, not just each stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators.dedup import exact_dedup
from etl_pack_spark.operators.sampling import SPACE, _h28_sql
from etl_pack_spark.operators.sampling import split_assign
from etl_pack_spark.operators.textops import MARKERS, _marker_count, _marker_count_sql
from etl_pack_spark.operators.tokenize import tokens, tokens_sql

MIN_TOKENS = 10
MIN_AVG_LEN = 2.0
MAX_AVG_LEN = 12.0


def curate_corpus(docs: DataFrame) -> DataFrame:
    """Filter to quality, language-verified, content-unique documents
    and assign train/val/test splits. Returns (doc_id, lang, split)."""
    t = docs.select("doc_id", "text", "lang", tokens("text").alias("__toks"))
    n_toks = F.size("__toks")
    avg_len = F.when(
        n_toks > 0,
        F.expr("aggregate(transform(__toks, x -> length(x)), 0, (a, v) -> a + v)")
        .cast("double") / n_toks.cast("double"),
    )
    s = {lang: _marker_count("__toks", lang) for lang in MARKERS}
    lang_pred = (
        F.when(s["de"].isNull(), None)
        .when((s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    kept = t.where(
        (n_toks >= MIN_TOKENS)
        & avg_len.between(MIN_AVG_LEN, MAX_AVG_LEN)
        & (lang_pred == F.col("lang"))
    ).select("doc_id", "text", "lang")
    deduped = exact_dedup(kept, cols=["text"], keep_order_col="doc_id")
    return split_assign(deduped, "doc_id").select("doc_id", "lang", "split")


def curate_corpus_sql(table: str) -> str:
    scores = ",\n                   ".join(
        f"{_marker_count_sql('toks', lang)} AS score_{lang}" for lang in MARKERS
    )
    cum_train = int(0.90 * SPACE)
    cum_val = cum_train + int(0.05 * SPACE)
    h = _h28_sql("doc_id", "split")
    return f"""
    WITH t AS (
        SELECT doc_id, text, lang, {tokens_sql('text')} AS toks FROM {table}
    ),
    sig AS (
        SELECT doc_id, text, lang,
               len(toks) AS n_tokens,
               CASE WHEN len(toks) > 0 THEN
                   CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                                    (a, v) -> a + v) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE) END AS avg_token_len,
                   {scores}
        FROM t
    ),
    kept AS (
        SELECT doc_id, text, lang FROM sig
        WHERE n_tokens >= {MIN_TOKENS}
          AND avg_token_len BETWEEN {MIN_AVG_LEN} AND {MAX_AVG_LEN}
          AND (CASE WHEN score_de IS NULL THEN NULL
                    WHEN score_de >= score_en AND score_de >= score_es
                         AND score_de >= score_fr THEN 'de'
                    WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                    WHEN score_es >= score_fr THEN 'es'
                    ELSE 'fr' END) = lang
    ),
    dd AS (
        SELECT min(doc_id) AS doc_id FROM kept
        GROUP BY md5(lower(coalesce(text, '')))
    )
    SELECT k.doc_id, k.lang,
           CASE WHEN {h} < {cum_train} THEN 'train'
                WHEN {h} < {cum_val} THEN 'val'
                ELSE 'test' END AS split
    FROM dd JOIN kept k USING (doc_id)
    """


def curate_disposition(docs: DataFrame) -> DataFrame:
    """The audit grain of :func:`curate_corpus` (r10, same posture as
    ``cleaning.c4_disposition``): every document gets a verdict —
    ``(doc_id, lang, drop_stage, split, dup_of)`` where ``drop_stage``
    names the FIRST failing gate in the pipeline's order
    (``token_count`` | ``avg_token_len`` | ``lang_mismatch`` |
    ``exact_dup``), NULL means kept, and kept rows carry exactly
    :func:`curate_corpus`'s split — its output is the ``drop_stage IS
    NULL`` slice of this frame. ``dup_of`` (r11 rider) is the KEPT
    winner's id on ``exact_dup`` rows and NULL everywhere else — the
    "my document disappeared, where is its surviving twin" pointer an
    audit consumer needs, and it is free: the winner id is the value
    the dedup exchange already computes to decide the drop. Aggregate
    with ``cleaning.curation_funnel`` for the run report.

    Cost shape is identical to the survivor-only query: the gate
    verdicts ride the SAME single signal projection, and the exact-dup
    attribution reuses the one dedup hash exchange (min doc_id per
    canonical text hash — the same winner rule as ``exact_dedup``'s
    ``keep_order_col``). NULL text counts as zero tokens so every doc
    is classified (three-valued predicates silently drop them from the
    survivor query; an audit row must never go missing).

    r11 (driver-gating this grain): the signal projection emits the
    dedup hash UP FRONT and drops ``text``, and the resulting SLIM
    frame (id, lang, verdict, hash — tens of bytes/row) is
    pooled-persisted: it feeds three differently-keyed consumers (the
    dropped-rows filter, the dedup groupBy, the winner join), which
    unpersisted would re-run the corpus scan + tokenize once each —
    the standing multi-consumer lineage trap. Persisting the slim
    projection instead of the text-bearing frame is what makes the
    cache 100 TB-viable."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.hashing import row_hash

    t = docs.select("doc_id", "text", "lang", tokens("text").alias("__toks"))
    n_toks = F.coalesce(F.size("__toks"), F.lit(0))
    avg_len = F.when(
        n_toks > 0,
        F.expr("aggregate(transform(__toks, x -> length(x)), 0, (a, v) -> a + v)")
        .cast("double") / n_toks.cast("double"),
    )
    s = {lang: _marker_count("__toks", lang) for lang in MARKERS}
    lang_pred = (
        F.when(s["de"].isNull(), None)
        .when((s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )

    # a NULL verdict (e.g. NULL lang column) fails its gate, exactly
    # like the survivor query's three-valued where() drops the row
    def fails(cond):
        return ~F.coalesce(cond, F.lit(False))

    staged = pooled_persist(
        t.select(
            "doc_id",
            "lang",
            F.when(fails(n_toks >= MIN_TOKENS), F.lit("token_count"))
            .when(
                fails(avg_len.between(MIN_AVG_LEN, MAX_AVG_LEN)),
                F.lit("avg_token_len"),
            )
            .when(fails(lang_pred == F.col("lang")), F.lit("lang_mismatch"))
            .alias("__s0"),
            row_hash(["text"]).alias("__h"),
        )
    )
    dropped = staged.where(F.col("__s0").isNotNull()).select(
        "doc_id", "lang",
        F.col("__s0").alias("drop_stage"),
        F.lit(None).cast("string").alias("split"),
        # dup_of is an id-typed column (the exact_dup branch carries the
        # winner's doc_id); derive its NULL's type from the id column so
        # string-id corpora union cleanly instead of failing on long
        F.lit(None).cast(docs.schema["doc_id"].dataType).alias("dup_of"),
    )
    keyed = staged.where(F.col("__s0").isNull())
    winners = keyed.groupBy("__h").agg(F.min("doc_id").alias("__win"))
    surv = split_assign(
        keyed.join(winners, "__h"), "doc_id"
    ).select(
        "doc_id", "lang",
        F.when(F.col("doc_id") != F.col("__win"), F.lit("exact_dup")).alias(
            "drop_stage"
        ),
        F.when(F.col("doc_id") == F.col("__win"), F.col("split")).alias(
            "split"
        ),
        F.when(F.col("doc_id") != F.col("__win"), F.col("__win")).alias(
            "dup_of"
        ),
    )
    return dropped.unionByName(surv)


def curate_disposition_sql(table: str) -> str:
    """DuckDB twin of :func:`curate_disposition` (exact semantics)."""
    scores = ",\n                   ".join(
        f"{_marker_count_sql('toks', lang)} AS score_{lang}" for lang in MARKERS
    )
    cum_train = int(0.90 * SPACE)
    cum_val = cum_train + int(0.05 * SPACE)
    h = _h28_sql("doc_id", "split")
    split_case = (
        f"CASE WHEN {h} < {cum_train} THEN 'train' "
        f"WHEN {h} < {cum_val} THEN 'val' ELSE 'test' END"
    )
    return f"""
    WITH t AS (
        SELECT doc_id, text, lang, {tokens_sql('text')} AS toks FROM {table}
    ),
    sig AS (
        SELECT doc_id, text, lang,
               coalesce(len(toks), 0) AS n_tokens,
               CASE WHEN coalesce(len(toks), 0) > 0 THEN
                   CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                                    (a, v) -> a + v) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE) END AS avg_token_len,
                   {scores}
        FROM t
    ),
    staged AS (
        SELECT doc_id, text, lang,
               CASE WHEN NOT coalesce(n_tokens >= {MIN_TOKENS}, false)
                      THEN 'token_count'
                    WHEN NOT coalesce(avg_token_len BETWEEN {MIN_AVG_LEN}
                                      AND {MAX_AVG_LEN}, false)
                      THEN 'avg_token_len'
                    WHEN NOT coalesce((CASE WHEN score_de IS NULL THEN NULL
                         WHEN score_de >= score_en AND score_de >= score_es
                              AND score_de >= score_fr THEN 'de'
                         WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                         WHEN score_es >= score_fr THEN 'es'
                         ELSE 'fr' END) = lang, false)
                      THEN 'lang_mismatch'
               END AS s0
        FROM sig
    ),
    surv AS (
        SELECT doc_id, lang,
               min(doc_id) OVER (
                   PARTITION BY md5(lower(coalesce(text, '')))
               ) AS win,
               {split_case} AS sp
        FROM staged WHERE s0 IS NULL
    )
    SELECT doc_id, lang, s0 AS drop_stage, CAST(NULL AS VARCHAR) AS split,
           CAST(NULL AS BIGINT) AS dup_of
    FROM staged WHERE s0 IS NOT NULL
    UNION ALL
    SELECT doc_id, lang,
           CASE WHEN doc_id <> win THEN 'exact_dup' END AS drop_stage,
           CASE WHEN doc_id = win THEN sp END AS split,
           CASE WHEN doc_id <> win THEN win END AS dup_of
    FROM surv
    """
