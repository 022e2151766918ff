"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All pure Catalyst expressions (no Python in the hot path), each with a
DuckDB SQL mirror for the correctness oracle. Ratios are int/int
divisions and therefore bit-identical cross-engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators.tokenize import (
    shingle_rows,
    shingles_expr,
    shingles_sql,
    tokens,
    tokens_sql,
)

# Tiny high-frequency marker lexicons (public-knowledge stopwords).
MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "for", "was"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "dans"],
}

PUNCT_RE = "[^a-zA-Z0-9 ]"
# BPE-ish piece segmentation: letter runs, digit runs, single symbols
PIECE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _marker_count(toks_col: str, lang: str) -> Column:
    arr = ", ".join(f"'{w}'" for w in MARKERS[lang])
    return F.expr(f"size(filter({toks_col}, t -> array_contains(array({arr}), t)))")


def _marker_count_sql(toks_col: str, lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in MARKERS[lang])
    return f"len(list_filter({toks_col}, t -> list_contains([{arr}], t)))"


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """n-gram/stopword-heuristic language ID: marker-token hit counts
    per language, winner = highest count with alphabetical tie-break
    (deterministic CASE cascade — same logic in the oracle)."""
    out = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    scores = {lang: _marker_count("__toks", lang) for lang in MARKERS}
    out = out.select(
        F.col(id_col), *[c.alias(f"score_{lang}") for lang, c in scores.items()]
    )
    s = {lang: F.col(f"score_{lang}") for lang in MARKERS}
    lang_pred = (
        F.when(s["de"].isNull(), None)  # NULL text → NULL prediction
        .when((s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return out.select(id_col, "score_de", "score_en", "score_es", "score_fr",
                      lang_pred.alias("lang_pred"))


def language_id_sql(table: str, id_col: str, text_col: str) -> str:
    scores = ",\n               ".join(
        f"{_marker_count_sql('toks', lang)} AS score_{lang}" for lang in MARKERS
    )
    return f"""
    WITH t AS (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table}),
    s AS (SELECT {id_col}, {scores} FROM t)
    SELECT {id_col}, score_de, score_en, score_es, score_fr,
           CASE WHEN score_de IS NULL THEN NULL
                WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """


def quality_signals(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Combined per-doc quality gate: length/punct/stopword metrics plus
    the k-gram repetition signal, in ONE projection pass (single scan,
    no shuffle) — the shape a 100 TB curation filter wants."""
    stop_hits = _marker_count("__toks", "en")
    n_toks = F.size("__toks")
    safe = lambda num: F.when(n_toks > 0, num.cast("double") / n_toks.cast("double"))  # noqa: E731
    sh_total = F.size("__sh")
    sh_uniq = F.size(F.array_distinct("__sh"))
    repetition = F.when(
        sh_total > 0, F.lit(1.0) - sh_uniq.cast("double") / sh_total.cast("double")
    )
    return (
        df.select(F.col(id_col), F.col(text_col).alias("__t"), tokens(text_col).alias("__toks"))
        .select(F.col(id_col), F.col("__t"), F.col("__toks"), shingles_expr("__toks", k).alias("__sh"))
        .select(
            F.col(id_col),
            F.length("__t").alias("n_chars"),
            n_toks.alias("n_tokens"),
            (F.length("__t") - F.length(F.regexp_replace(F.col("__t"), PUNCT_RE, "")))
            .alias("n_punct"),
            stop_hits.alias("n_stopwords"),
            safe(F.expr("aggregate(transform(__toks, x -> length(x)), 0, (a, v) -> a + v)"))
            .alias("avg_token_len"),
            safe(stop_hits).alias("stopword_ratio"),
            sh_total.alias("n_grams"),
            sh_uniq.alias("n_distinct"),
            repetition.alias("repetition"),
        )
    )


def quality_signals_sql(table: str, id_col: str, text_col: str, k: int = 3) -> str:
    stop = _marker_count_sql("toks", "en")
    return f"""
    WITH t AS (
        SELECT {id_col}, {text_col} AS txt, toks, {shingles_sql('toks', k)} AS s
        FROM (SELECT {id_col}, {text_col}, {tokens_sql(text_col)} AS toks FROM {table})
    )
    SELECT {id_col},
           length(txt) AS n_chars,
           len(toks) AS n_tokens,
           length(txt) - length(regexp_replace(txt, '{PUNCT_RE}', '', 'g')) AS n_punct,
           {stop} AS n_stopwords,
           CASE WHEN len(toks) > 0 THEN
               CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                                (a, v) -> a + v) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS avg_token_len,
           CASE WHEN len(toks) > 0 THEN
               CAST({stop} AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
           len(s) AS n_grams,
           len(list_distinct(s)) AS n_distinct,
           CASE WHEN len(s) > 0 THEN
               1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / CAST(len(s) AS DOUBLE)
           END AS repetition
    FROM t
    """


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish piece count (regex segmentation)."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("n_words"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(PIECE_RE), 0)).alias("n_pieces"),
    )


def token_counts_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
    SELECT {id_col},
           len({tokens_sql(text_col)}) AS n_words,
           len(regexp_extract_all({text_col}, '{PIECE_RE}')) AS n_pieces
    FROM {table}
    """


# PII patterns (training-data scrubbing): emails, international-ish
# phone numbers, 16-digit card-like numbers. Same regexes both engines.
# order matters: the broad phone pattern would swallow card numbers,
# so cards are matched (and replaced) first
PII_PATTERNS = [
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"),
    ("card", "[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}"),
    ("phone", "\\+?[0-9][0-9()\\- ]{7,}[0-9]"),
]


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Replace PII spans with typed placeholders and count the hits —
    the scrub-before-training pass. Pure regexp_replace chain, one scan.
    """
    out = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(out, F.lit(pat), 0)).alias(f"n_{name}"))
        out = F.regexp_replace(out, pat, f"<{name}>")
    return df.select(F.col(id_col), *counts, out.alias("redacted"))


def redact_pii_sql(table: str, id_col: str, text_col: str) -> str:
    expr = text_col
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({expr}, '{pat}')) AS n_{name}")
        expr = f"regexp_replace({expr}, '{pat}', '<{name}>', 'g')"
    return f"""
    SELECT {id_col}, {', '.join(counts)}, {expr} AS redacted FROM {table}
    """


def fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Document fingerprint (winnowing-style hash selection): md5 each
    k-shingle, keep hashes whose first hex char is '0' (1/16 mod-class
    selection — engine-portable, no modulus on parsed ints), sorted and
    comma-joined. Robust to small edits, fixed-size-ish per doc."""
    sh = df.select(F.col(id_col), tokens(text_col).alias("__toks")).select(
        F.col(id_col), F.array_distinct(shingles_expr("__toks", k)).alias("__sh")
    )
    selected = F.expr(
        "array_sort(filter(transform(__sh, s -> md5(s)), h -> substring(h, 1, 1) = '0'))"
    )
    return sh.select(
        F.col(id_col),
        F.size(selected).alias("n_grams"),
        F.concat_ws(",", selected).alias("fingerprint"),
    )


def fingerprint_sql(table: str, id_col: str, text_col: str, k: int = 3) -> str:
    return f"""
    WITH sh AS (
        SELECT {id_col}, list_distinct({shingles_sql('toks', k)}) AS s
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table})
    ),
    sel AS (
        SELECT {id_col},
               list_sort(list_filter(list_transform(s, x -> md5(x)),
                                     h -> substr(h, 1, 1) = '0')) AS hashes
        FROM sh
    )
    SELECT {id_col}, len(hashes) AS n_grams,
           coalesce(array_to_string(hashes, ','), '') AS fingerprint
    FROM sel
    """


# Every output column text_signals produces besides the id and carried
# columns — the single source of truth for the carry-clash guard (a
# test pins this against the actual projection, so adding a signal
# without extending it fails loudly instead of silently un-reserving
# the new name).
SIGNAL_OUTPUT_COLS: tuple[str, ...] = (
    *(f"score_{lang}" for lang in sorted(MARKERS)),
    "n_chars", "n_tokens", "n_punct", "n_stopwords",
    "avg_token_len", "stopword_ratio", "n_grams", "n_distinct",
    "repetition", "n_pieces", "n_fp_hashes", "fingerprint",
    "lang_pred",
)


def text_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """EVERY per-document text signal in ONE scan and one projection
    chain — no joins, no shuffle: language-ID marker scores + argmax
    prediction, length/punct/stopword quality metrics, k-gram
    repetition, the BPE-ish piece count, and the winnowing fingerprint.
    ``carry_cols`` (r12) selects extra input columns through the
    projection chain unchanged — free (map-only), and what keeps a
    grouped consumer (``quality.corpus_datacard``) at ONE scan instead
    of a corpus-sized join back to the source for its group keys.

    Same expressions as :func:`language_id` / :func:`quality_signals` /
    :func:`token_counts` / :func:`fingerprint`, sharing a single
    tokenization — at 100 TB this is the difference between one pass
    over the corpus and four. (``n_words`` from token_counts is omitted:
    it is definitionally ``n_tokens``. fingerprint's hash count is
    renamed ``n_fp_hashes``; ``n_grams`` here keeps quality_signals'
    meaning, total k-shingles.)
    """
    stop_hits = _marker_count("__toks", "en")
    n_toks = F.size("__toks")
    safe = lambda num: F.when(n_toks > 0, num.cast("double") / n_toks.cast("double"))  # noqa: E731
    sh_total = F.size("__sh")
    sh_uniq = F.size(F.array_distinct("__sh"))
    repetition = F.when(
        sh_total > 0, F.lit(1.0) - sh_uniq.cast("double") / sh_total.cast("double")
    )
    fp_sel = F.expr(
        "array_sort(filter(transform(array_distinct(__sh), s -> md5(s)),"
        " h -> substring(h, 1, 1) = '0'))"
    )
    scores = {lang: _marker_count("__toks", lang) for lang in MARKERS}
    # reserved: the inputs, the internal staging columns, AND the
    # projection's OUTPUT names (r13, ADVICE — carrying a column named
    # like an output, e.g. grouping a datacard by "n_tokens", used to
    # produce a duplicate/ambiguous column and a confusing
    # AnalysisException instead of this loud error)
    reserved = {id_col, text_col, "__t", "__toks", "__sh",
                *SIGNAL_OUTPUT_COLS}
    clash = [c for c in carry_cols if c in reserved]
    if clash:
        raise ValueError(
            f"carry_cols {clash} collide with the signal projection's "
            "input, staging, or output columns"
        )
    carried = [F.col(c) for c in carry_cols]
    wide = (
        df.select(F.col(id_col), F.col(text_col).alias("__t"),
                  tokens(text_col).alias("__toks"), *carried)
        .select(
            F.col(id_col), F.col("__t"), F.col("__toks"),
            shingles_expr("__toks", k).alias("__sh"), *carried,
        )
        .select(
            F.col(id_col), *carried,
            *[scores[lang].alias(f"score_{lang}") for lang in MARKERS],
            F.length("__t").alias("n_chars"),
            n_toks.alias("n_tokens"),
            (F.length("__t") - F.length(F.regexp_replace(F.col("__t"), PUNCT_RE, "")))
            .alias("n_punct"),
            stop_hits.alias("n_stopwords"),
            safe(F.expr("aggregate(transform(__toks, x -> length(x)), 0, (a, v) -> a + v)"))
            .alias("avg_token_len"),
            safe(stop_hits).alias("stopword_ratio"),
            sh_total.alias("n_grams"),
            sh_uniq.alias("n_distinct"),
            repetition.alias("repetition"),
            F.size(F.regexp_extract_all(F.col("__t"), F.lit(PIECE_RE), 0)).alias("n_pieces"),
            F.size(fp_sel).alias("n_fp_hashes"),
            F.concat_ws(",", fp_sel).alias("fingerprint"),
        )
    )
    s = {lang: F.col(f"score_{lang}") for lang in MARKERS}
    lang_pred = (
        F.when(s["de"].isNull(), None)
        .when((s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return wide.withColumn("lang_pred", lang_pred)


def text_signals_sql(table: str, id_col: str, text_col: str, k: int = 3) -> str:
    """DuckDB oracle twin of :func:`text_signals` — composed from the
    per-family SQL twins by equi-join on the id (the oracle only needs
    to be CORRECT; the one-pass shape is the Spark side's concern)."""
    return f"""
    SELECT L.{id_col},
           L.score_de, L.score_en, L.score_es, L.score_fr, L.lang_pred,
           Q.n_chars, Q.n_tokens, Q.n_punct, Q.n_stopwords,
           Q.avg_token_len, Q.stopword_ratio,
           Q.n_grams, Q.n_distinct, Q.repetition,
           T.n_pieces,
           Fp.n_grams AS n_fp_hashes, Fp.fingerprint
    FROM ({language_id_sql(table, id_col, text_col)}) L
    JOIN ({quality_signals_sql(table, id_col, text_col, k)}) Q USING ({id_col})
    JOIN ({token_counts_sql(table, id_col, text_col)}) T USING ({id_col})
    JOIN ({fingerprint_sql(table, id_col, text_col, k)}) Fp USING ({id_col})
    """


# Tiny polarity lexicon (public-knowledge sentiment words) — a stand-in
# for a real dictionary; the operator shape (broadcast lexicon join)
# is what matters at scale.
SENTIMENT_LEXICON: dict[str, int] = {
    **{w: 1 for w in [
        "good", "great", "excellent", "happy", "love", "best", "wonderful",
        "amazing", "positive", "success", "win", "fast", "clean", "clear",
    ]},
    **{w: -1 for w in [
        "bad", "terrible", "awful", "sad", "hate", "worst", "horrible",
        "negative", "failure", "lose", "slow", "dirty", "broken", "wrong",
    ]},
}


def lexicon_sentiment(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Lexicon sentiment (SURVEY §7.3, EDBT'16 Spark pattern): polarity
    = Σ weight(token), score = polarity / tokens.

    Scale shape: tokens explode to rows, the (tiny) lexicon is a
    broadcast dim — a map-side hash join, no shuffle for the lookup —
    and the per-doc aggregate is map-side combinable. Zero-token docs
    survive via explode_outer. Per-occurrence counting (a word twice
    counts twice), unlike the distinct-set marker heuristics above.
    """
    spark = df.sparkSession
    lex = spark.createDataFrame(
        [(w, wt) for w, wt in sorted(SENTIMENT_LEXICON.items())], "tok string, wt int"
    )
    exploded = df.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("tok")
    )
    return (
        # bounded by construction: lex is the fixed in-module lexicon
        exploded.join(F.broadcast(lex), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("tok").alias("n_toks"),
            F.coalesce(F.sum("wt"), F.lit(0)).cast("long").alias("polarity"),
        )
        .withColumn(
            "sentiment",
            F.when(
                F.col("n_toks") > 0,
                F.col("polarity").cast("double") / F.col("n_toks"),
            ).otherwise(F.lit(0.0)),
        )
    )


def lexicon_sentiment_sql(table: str, id_col: str, text_col: str) -> str:
    lex_rows = ", ".join(
        f"('{w}', {wt})" for w, wt in sorted(SENTIMENT_LEXICON.items())
    )
    return f"""
    WITH lex(tok, wt) AS (VALUES {lex_rows}),
    toks AS (
        SELECT {id_col}, unnest({tokens_sql(text_col)}) AS tok FROM {table}
    ),
    agg AS (
        SELECT t.{id_col},
               COUNT(t.tok) AS n_toks,
               CAST(COALESCE(SUM(l.wt), 0) AS BIGINT) AS polarity
        FROM toks t LEFT JOIN lex l ON t.tok = l.tok
        GROUP BY t.{id_col}
    )
    SELECT b.{id_col},
           CAST(COALESCE(a.n_toks, 0) AS BIGINT) AS n_toks,
           CAST(COALESCE(a.polarity, 0) AS BIGINT) AS polarity,
           CASE WHEN COALESCE(a.n_toks, 0) > 0
                THEN CAST(a.polarity AS DOUBLE) / a.n_toks ELSE 0.0 END AS sentiment
    FROM (SELECT DISTINCT {id_col} FROM {table}) b
    LEFT JOIN agg a ON a.{id_col} = b.{id_col}
    """


# ---------------------------------------------------------------------------
# Unigram log-probability scoring (CCNet-style LM quality proxy,
# Wenzek et al. 2020 — there the LM is KenLM; the unigram variant is
# the deterministic, engine-native shape of the same pipeline)
# ---------------------------------------------------------------------------

def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution (add-``alpha`` smoothing; unseen mass via the
    vocabulary+1 denominator). Low scores = rare-token documents —
    the standard LM-quality proxy for corpus filtering.

    Scale shape: the model IS a token-count aggregate (map-side
    combinable, vocabulary-sized result — zipf makes that << corpus),
    broadcast back onto the exploded tokens; the per-doc mean is a
    second map-side-combinable aggregate. Two shuffles total, both of
    vocabulary/doc cardinality, never raw-corpus-sized rows. The model
    broadcast is guarded (guards.maybe_broadcast): a noise-token web
    vocabulary past the bound falls back to an AQE-planned join instead
    of a forced executor-OOM broadcast.
    """
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.guards import maybe_broadcast

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    counts = pooled_persist(toks.groupBy("tok").agg(F.count("*").alias("cnt")))
    stats = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vocab")
    )
    # bounded by construction: stats is a ONE-ROW global aggregate
    model = counts.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.log(
            (F.col("cnt") + F.lit(alpha))
            / (F.col("total") + F.lit(alpha) * (F.col("vocab") + 1))
        ).alias("logp"),
    )
    return (
        toks.join(maybe_broadcast(model), "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("logp") / F.count("*")).alias("mean_logprob"),
        )
    )


def ppl_bucket_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    head: float = 0.3,
    tail: float = 0.3,
    alpha: float = 1.0,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with :func:`unigram_logprob`, then label the
    best-scoring ``head`` fraction "head", the worst ``tail`` fraction
    "tail", and the rest "middle" — the split CCNet uses to keep head
    data, LM-filter middle, and drop tail.

    EVERY document gets a bucket: zero-token docs (empty text, pure
    punctuation) have no LM score — ``n_tokens`` 0, NULL
    ``mean_logprob`` — and route to "tail" (no scoreable content is
    the worst quality signal, and silently dropping them would leak
    rows out of a corpus SPLIT).

    Scale shape: cutoffs are ONE tiny exact-percentile aggregate over
    the (already doc-sized, pooled-persisted) score frame, broadcast
    back as a cross join; bucket assignment is then map-only. No
    global sort, no single-partition window (an ``ntile`` over all
    docs would funnel the corpus through one task). Scores are rounded
    to 6 dp BEFORE the cutoffs and comparisons on both engines — ln()
    is libm-dependent (±1 ulp) and the per-doc double sum is
    partition-order dependent, so an unrounded near-tie at a cutoff
    could bucket differently per engine or per run.
    """
    if not (0 < head and 0 < tail and head + tail < 1):
        raise ValueError(f"fractions out of range: head={head} tail={tail}")
    from etl_pack_spark.operators.cache import pooled_persist

    # pooled: the cutoff aggregate and the output both consume the
    # corpus-sized scoring pipeline — persist the doc-sized result
    scored = pooled_persist(
        unigram_logprob(df, id_col, text_col, alpha=alpha).withColumn(
            "mean_logprob", F.round("mean_logprob", 6)
        )
    )
    base = df.select(F.col(id_col)).distinct()
    full = base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "mean_logprob",
    )
    cuts = scored.agg(
        F.expr(
            f"percentile(mean_logprob, array({1 - head}, {tail}))"
        ).alias("__cuts")
    ).select(
        F.element_at("__cuts", 1).alias("__hi"),
        F.element_at("__cuts", 2).alias("__lo"),
    )
    bucket = (
        F.when(F.col("mean_logprob").isNull(), "tail")
        .when(F.col("mean_logprob") >= F.col("__hi"), "head")
        .when(F.col("mean_logprob") <= F.col("__lo"), "tail")
        .otherwise("middle")
    )
    # bounded by construction: cuts is a ONE-ROW percentile aggregate
    return full.crossJoin(F.broadcast(cuts)).select(
        id_col, "n_tokens", "mean_logprob", bucket.alias("bucket")
    )


def ppl_bucket_split_sql(
    table: str,
    id_col: str,
    text_col: str,
    head: float = 0.3,
    tail: float = 0.3,
    alpha: float = 1.0,
) -> str:
    """DuckDB oracle twin of :func:`ppl_bucket_split`: same round-6
    scores (ln is libm-dependent), same quantile_cont interpolation
    for cutoffs, same zero-token → tail routing."""
    return f"""
    WITH scored AS (
        SELECT {id_col}, n_tokens, round(mean_logprob, 6) AS mean_logprob
        FROM ({unigram_logprob_sql(table, id_col, text_col, alpha=alpha)})
    ),
    base AS (SELECT DISTINCT {id_col} FROM {table}),
    full_set AS (
        SELECT b.{id_col},
               coalesce(s.n_tokens, 0) AS n_tokens,
               s.mean_logprob
        FROM base b LEFT JOIN scored s USING ({id_col})
    ),
    cuts AS (
        SELECT quantile_cont(mean_logprob, {1 - head}) AS hi,
               quantile_cont(mean_logprob, {tail}) AS lo
        FROM scored
    )
    SELECT {id_col}, n_tokens, mean_logprob,
           CASE WHEN mean_logprob IS NULL THEN 'tail'
                WHEN mean_logprob >= hi THEN 'head'
                WHEN mean_logprob <= lo THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM full_set, cuts
    """


def unigram_logprob_sql(table: str, id_col: str, text_col: str, alpha: float = 1.0) -> str:
    """DuckDB twin of :func:`unigram_logprob`. log() is libm-dependent
    (±1 ulp vs the JVM), so tests compare at 1e-12 relative tolerance
    rather than hash-exact."""
    return f"""
    WITH tk AS (
        SELECT {id_col}, unnest(toks) AS tok
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table})
    ),
    counts AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
    stats AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM counts),
    model AS (
        SELECT tok, ln((cnt + {alpha}) / (total + {alpha} * (vocab + 1))) AS logp
        FROM counts, stats
    )
    SELECT {id_col}, count(*) AS n_tokens,
           sum(logp) / count(*) AS mean_logprob
    FROM tk JOIN model USING (tok)
    GROUP BY {id_col}
    """


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 1.0,
    lam: float = 0.7,
) -> DataFrame:
    """Per-document mean INTERPOLATED-BIGRAM log-probability — one
    rung up the CCNet ladder from :func:`unigram_logprob` (Wenzek et
    al. 2020 score with a 5-gram KenLM; the bigram-with-unigram-
    interpolation variant is the engine-native deterministic analogue
    and separates fluent text from bag-of-common-words noise the
    unigram proxy cannot see):

        p(w_i | w_{i-1}) = lam * C(w_{i-1} w_i) / C(w_{i-1} ·)
                           + (1 - lam) * p_uni(w_i)

    ``C(w1 w2)`` is the corpus bigram count, ``C(w1 ·)`` the count of
    ``w1`` as a LEFT context (so the conditional sums to 1 over
    observed followers), ``p_uni`` the add-``alpha`` unigram exactly
    as in :func:`unigram_logprob`. Each document's FIRST token, having
    no predecessor, scores as ``p_uni`` alone — so every token scores
    and ``n_tokens`` matches the unigram op. Self-trained on the
    scored corpus (the same posture as the unigram op), which also
    guarantees every scored bigram exists in the model. Returns
    ``(id_col, n_tokens, mean_logprob)``; zero-token docs are absent
    (as in the unigram op).

    Scale shape: the bigram model is a map-side-combinable count over
    the pair stream (bigram-vocab-sized — zipf makes that << corpus);
    the context totals reduce the MODEL, not the corpus; scoring joins
    are guarded broadcasts (guards.maybe_broadcast) of model-sized
    frames onto the token/pair streams; the per-doc mean is one more
    combinable aggregate. No shuffle ever carries more than
    vocab/doc-cardinality rows.
    """
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.guards import maybe_broadcast

    # the SAME counts plan as unigram_logprob (explode, not
    # posexplode), so when both ops run in one session — the gated
    # slot does — the pooled persist is shared instead of the corpus
    # being count-aggregated twice
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    counts = pooled_persist(toks.groupBy("tok").agg(F.count("*").alias("cnt")))
    stats = counts.agg(F.sum("cnt").alias("total"), F.count("*").alias("vocab"))
    # p_uni is the same double the unigram op takes ln() of: the
    # division is IEEE-exactly-rounded once, so interpolating with it
    # here stays bit-identical to the SQL twin's arithmetic
    # bounded by construction: stats is a ONE-ROW global aggregate
    model = pooled_persist(
        counts.crossJoin(F.broadcast(stats)).select(
            "tok",
            (
                (F.col("cnt") + F.lit(alpha))
                / (F.col("total") + F.lit(alpha) * (F.col("vocab") + 1))
            ).alias("p_uni"),
        )
    )
    pairs = shingle_rows(
        df, id_col, text_col, k=2, distinct=False, positions=True
    )
    big = pooled_persist(
        pairs.groupBy("s").agg(F.count(F.lit(1)).alias("c12")).select(
            F.element_at(F.split("s", " "), 1).alias("w1"),
            F.element_at(F.split("s", " "), 2).alias("w2"),
            "s",
            "c12",
        )
    )
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    bmodel = (
        big.join(ctx, "w1")
        .join(model.select(F.col("tok").alias("w2"), "p_uni"), "w2")
        .select(
            "s",
            F.log(
                F.lit(lam) * (F.col("c12") / F.col("c1"))
                + F.lit(1.0 - lam) * F.col("p_uni")
            ).alias("logp"),
        )
    )
    # first token per doc is a map-only projection (F.get is
    # NULL-out-of-bounds even under ANSI mode), no positional explode
    first = (
        df.select(F.col(id_col), F.get(tokens(text_col), 0).alias("tok"))
        .where(F.col("tok").isNotNull())
        .join(maybe_broadcast(model), "tok")
        .select(F.col(id_col), F.log("p_uni").alias("logp"))
    )
    rest = (
        pairs.select(F.col(id_col), "s")
        .join(maybe_broadcast(bmodel), "s")
        .select(F.col(id_col), "logp")
    )
    return (
        first.unionByName(rest)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("logp") / F.count("*")).alias("mean_logprob"),
        )
    )


def bigram_logprob_sql(
    table: str,
    id_col: str,
    text_col: str,
    alpha: float = 1.0,
    lam: float = 0.7,
) -> str:
    """DuckDB twin of :func:`bigram_logprob` — identical counting,
    identical interpolation arithmetic (integer divisions surface as
    exactly-rounded doubles in both engines); ln() is libm-dependent
    so tests compare at tight relative tolerance, and gated slots
    round before hashing."""
    return f"""
    WITH toks AS (
        SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table}
    ),
    tk AS (
        SELECT {id_col}, r['pos'] AS pos, r['tok'] AS tok FROM (
            SELECT {id_col}, unnest(
                list_transform(generate_series(1, len(t)),
                               i -> {{'pos': i - 1, 'tok': t[i]}})) AS r
            FROM toks)
    ),
    counts AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
    stats AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM counts),
    model AS (
        SELECT tok,
               (cnt + {alpha}) / (total + {alpha} * (vocab + 1)) AS p_uni
        FROM counts, stats
    ),
    pairs AS (
        SELECT {id_col}, r['w1'] AS w1, r['w2'] AS w2 FROM (
            SELECT {id_col}, unnest(
                CASE WHEN len(t) >= 2 THEN
                    list_transform(generate_series(1, len(t) - 1),
                                   i -> {{'w1': t[i], 'w2': t[i + 1]}})
                ELSE [] END) AS r
            FROM toks)
    ),
    big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
    ctx AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY w1),
    bmodel AS (
        SELECT b.w1, b.w2,
               ln({lam} * (b.c12 / c.c1) + {1.0 - lam} * m.p_uni) AS logp
        FROM big b JOIN ctx c USING (w1) JOIN model m ON m.tok = b.w2
    ),
    scored AS (
        SELECT {id_col}, ln(p_uni) AS logp
        FROM tk JOIN model USING (tok) WHERE pos = 0
        UNION ALL
        SELECT {id_col}, bm.logp
        FROM pairs p JOIN bmodel bm ON p.w1 = bm.w1 AND p.w2 = bm.w2
    )
    SELECT {id_col}, count(*) AS n_tokens,
           sum(logp) / count(*) AS mean_logprob
    FROM scored GROUP BY {id_col}
    """


# ---------------------------------------------------------------------------
# Unicode canonicalization (corpus normalization pass: run BEFORE any
# hashing/dedup so byte-different, canonically-equal text coincides)
# ---------------------------------------------------------------------------

# C0 (except \t and \n, after newline canonicalization), DEL, and the
# C1 range U+0080-U+009F — C1 strays are the classic Windows-1252
# mojibake signature in web corpora. Both engines treat \x80-\x9f as
# RUNES (verified: strips U+0085, leaves é untouched), never bytes.
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x80-\x9f]"


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonicalize ``text_col``: newline forms → ``\\n``, control
    chars stripped, then Unicode NFC composition. Returns ``(id,
    text_norm)``, NULLs passed through.

    Why: exact/near-dup hashing treats ``é`` (composed) and ``é``
    (e + combining accent) as different documents; normalizing first
    makes canonical equality literal equality. The newline/control
    steps are JVM-side ``regexp_replace`` (codegen); only the NFC
    composition itself needs Python — Spark has no Unicode-
    normalization expression — and runs as ONE Arrow-batched pandas
    UDF (never per-row Python). Map-only, no shuffle.

    Cross-engine note: the DuckDB twin's ``nfc_normalize`` (utf8proc)
    and CPython's ``unicodedata`` implement the same Unicode standard;
    divergence would need a UCD version skew on freshly-assigned
    codepoints — not a property of corpus text.
    """
    return df.select(
        F.col(id_col).alias("id"), normalize_text_col(text_col).alias("text_norm")
    )


def normalize_text_col(text_col) -> Column:
    """The canonicalized text as a standalone Column expression —
    composable into any projection without a join. See
    :func:`normalize_text` for semantics."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    x = F.col(text_col) if isinstance(text_col, str) else text_col
    x = F.regexp_replace(x, r"\r\n|\r", "\n")
    x = F.regexp_replace(x, _CTRL_RE, "")
    return _nfc(x)


def normalize_text_expr_sql(text_expr: str) -> str:
    """DuckDB expression twin of :func:`normalize_text_col` over any
    SQL string expression — composable into a larger SELECT."""
    x = text_expr
    x = f"regexp_replace({x}, '\\r\\n|\\r', chr(10), 'g')"
    x = f"regexp_replace({x}, '{_CTRL_RE}', '', 'g')"
    return f"nfc_normalize({x})"


def normalize_text_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB oracle twin of :func:`normalize_text` — same newline and
    control-char steps, utf8proc NFC."""
    return (
        f"SELECT {id_col} AS id, "
        f"{normalize_text_expr_sql(text_col)} AS text_norm FROM {table}"
    )
