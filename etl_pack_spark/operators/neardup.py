"""Near-duplicate detection for training-data pipelines: MinHash+LSH,
SimHash, and exact n-gram Jaccard.

Design for 100 TB:
  * MinHash signatures are computed in ONE projection (no explode —
    ``array_min`` over per-shingle md5s per hash function), so the scan
    stays a single codegen stage; the only shuffle is the band-bucket
    self-join, whose fan-in LSH bounds by construction.
  * Candidate verification (exact Jaccard) happens only on LSH
    candidates — the quadratic step never touches the full corpus.
  * SimHash is one explode + one aggregation (64 integer sums per doc,
    map-side combined).

Cross-engine determinism: hash functions are md5-derived
(``min(md5("i:" || shingle))`` — the lexicographic min of md5 hexes is
a valid minhash permutation), so the *same* pipeline is expressible in
DuckDB SQL and the oracle matches by construction, including LSH's
recall misses. No RNG, no seed, no engine-specific hash.

(The reference's only dedup is whole-row exact hashing, etl.go:59-68;
this module is the SURVEY §7.3 extension family built on the same
canonicalize-then-hash idea.)
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators import guards
from etl_pack_spark.operators.cache import pooled_persist as _pooled_persist

_log = logging.getLogger(__name__)

from etl_pack_spark.operators.tokenize import (
    shingle_rows,
    shingles_expr,
    shingles_sql,
    tokens,
    tokens_sql,
)

HEX = "0123456789abcdef"

# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingled(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """id + distinct k-shingle set. Zero-shingle docs keep an empty
    array (no filter here: a size-guard WHERE would make Catalyst
    inline the whole shingling expression into the predicate and
    evaluate the interpreted HOF chain twice; explode-based consumers
    drop empty docs for free)."""
    # a small-file corpus scans as ONE task; shingling is CPU-bound, so
    # spread rows across the cluster before the per-row work. At scale
    # this stays the right plan: downstream per-doc aggregates reuse
    # HashPartitioning(id), so ONE shuffle of compact doc rows here
    # replaces a strictly larger shuffle of exploded shingle rows later.
    return (
        df.repartition(F.col(id_col))
        .select(id_col, tokens(text_col).alias("__toks"))
        .select(id_col, F.array_distinct(shingles_expr("__toks", k)).alias("shingles"))
    )


# Fixed permutation constants (seedless, embedded identically in the
# oracle SQL): a_i odd multipliers, b_i offsets, all < 2^31 so
# a*h7 + b stays well inside int64 (h7 < 2^28).
MH_PRIME = 1_000_000_007
MH_A = [((2 * i + 1) * 2_654_435_761) % 2_147_483_647 for i in range(64)]
MH_B = [((i * 97 + 31) * 40_503) % 2_147_483_647 for i in range(64)]

# 28-bit integer hash of a shingle: first 7 hex chars of its md5.
_H7_SPARK = "CAST(conv(substr(md5(s), 1, 7), 16, 10) AS BIGINT)"


def _h7_sql(s: str) -> str:
    return f"CAST('0x' || substr(md5({s}), 1, 7) AS BIGINT)"


def minhash_signature(sh_rows: DataFrame, id_col: str, num_hashes: int = 16) -> DataFrame:
    """Minhash signature from shingle ROWS (see tokenize.shingle_rows)
    via a codegen'd hash aggregate.

    One md5 per shingle, then ``num_hashes`` integer permutations
    ``(a_i*h + b_i) mod p`` — 16x fewer md5 evaluations than hashing
    per function. The per-(doc,i) ``min`` is a map-side partial
    aggregate, so the shuffle carries num_hashes longs per doc, not
    shingle sets. Per-row array lambdas (``array_min(transform(...))``)
    would be interpreted expression trees — fine at 500 docs, ruinous
    at 10^9."""
    hashed = sh_rows.withColumn("h7", F.expr(_H7_SPARK))
    mins = [
        F.min((F.lit(MH_A[i]) * F.col("h7") + F.lit(MH_B[i])) % MH_PRIME).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*mins)


def _banded(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """One row per (doc, band) with the band's bucket key — the LSH
    banding shared by the self-join and the incremental match."""
    rows_per_band = num_hashes // bands
    band_keys = [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"mh_{b * rows_per_band + r}").cast("string")
                  for r in range(rows_per_band)],
            )
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col),
        *(extra_cols or []),
        F.posexplode(F.array(*band_keys)).alias("band", "bk"),
    )


# Default heavy-hitter cap for the candidate-generating self-joins,
# ON by default since r6 (the opt-in default left a demonstrated
# superlinear point: at 30x corpus replication one simhash block
# reached 8 730 members = ~38M candidate pairs from a single block,
# and real crawls produce the same shape — boilerplate pages and
# empty/short docs collapse to one signature, which exact dedup does
# NOT own because identical simhash != identical text). 4096 sits far
# above any natural bucket observed on the fixtures (sf0.01 max 28,
# sf0.1 max 291 — 14x-680x margin) while bounding any one bucket's
# pair emission at ~8.4M; the cap is mirrored in the oracle SQL
# generators, so cross-engine parity holds by construction even when
# it engages. Pass None to disable.
DEFAULT_MAX_BUCKET = 4096


def overfull_buckets(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The bucket keys holding more than ``cap`` members, with their
    counts — ONE map-side-combinable aggregate. Small by construction
    (heavy hitters are few); the dedup guard anti-joins on it, and
    operators surface it so a large corpus' skew is VISIBLE (a hot
    bucket seen here is the shuffle that would have died) before the
    candidate join runs."""
    return rows.groupBy(*keys).count().where(F.col("count") > cap)


def _drop_hot_buckets(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Remove rows whose bucket (by ``keys``) holds more than ``cap``
    members: ONE map-side-combinable count + a broadcast anti-join on
    the (by construction few) overfull bucket keys — the heavy-hitter
    guard for candidate-generating self-joins. A bucket of b members
    emits b² / 2 candidate pairs, so a single degenerate bucket
    (boilerplate pages, empty docs, adversarial duplication) can
    dominate the whole job; capping trades recall ONLY among pairs
    whose every shared bucket is overfull — which at cap≫1 means
    near-identical floods that exact dedup upstream should own.

    Adaptive since r7: the overfull keys are collected to the driver
    in ONE action (tiny by construction: heavy hitters are few, and a
    broadcast build side passes through the driver anyway). That one
    action answers the emptiness test, the warning's key count and the
    anti-join's build side (a persisted key frame would need a job of
    its own to materialize the cache). When NO bucket is overfull — every
    healthy corpus — the anti-join never enters the plan, so the
    default-on cap costs one combinable count over the bucketed rows
    (whose upstream signature frame the callers persist) instead of an
    extra count + broadcast + probe pass per candidate join (most of
    the r6 +48%/+22% minhash/simhash headline cost). When buckets ARE
    overfull, the engagement is no longer silent: the
    count of dropped bucket keys is logged at WARNING, because a cap
    engaging means near-identical floods larger than ``cap`` are
    escaping near-dup dedup (exact dedup upstream owns them). The
    bucketed rows and the filtered output stay LAZY on purpose: the
    candidate self-join's two sides are identical subplans, so Spark's
    exchange reuse already computes the banding once — an r7 interim
    that cached both frames measured ~1.7× SLOWER on the engaged-cap
    30× replication probe (interleaved A/B, SCALE.md round-7) than
    recomputing the cheap banding expressions from the cached
    signatures."""
    over = overfull_buckets(rows, keys, cap).drop("count")
    hot = over.collect()
    if not hot:
        return rows
    _log.warning(
        "heavy-hitter cap engaged: %d bucket key(s) on %s exceed %d "
        "members and are excluded from candidate generation "
        "(near-identical floods above the cap escape near-dup dedup; "
        "inspect them with overfull_buckets())",
        len(hot), keys, cap,
    )
    hot_keys = rows.sparkSession.createDataFrame(hot, over.schema)
    return rows.join(F.broadcast(hot_keys), keys, "left_anti")


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Band the signature, bucket-join on (band, key), emit id pairs
    (a < b). The self-join is the one shuffle; bucket sizes are bounded
    by LSH, so no quadratic blowup at scale — except under mass
    duplication, where ``max_bucket`` (ON by default, see
    ``DEFAULT_MAX_BUCKET``; ``None`` disables) caps the blowup via
    :func:`_drop_hot_buckets`. :func:`overfull_buckets` over the
    banding reports what a given cap would drop."""
    banded = _banded(sig, id_col, num_hashes, bands)
    if max_bucket is not None:
        # the banding stays lazy: exchange reuse computes it once for
        # both self-join sides, and the probe's extra pass recomputes
        # only cheap md5 band keys from the persisted signatures
        banded = _drop_hot_buckets(banded, ["band", "bk"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verified_pairs(
    cand: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs only. intersection/union sizes
    are ints; the division is the same double on every engine."""
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # union=0 (two empty shingle sets) would be an ANSI 0/0 — such pairs
    # are by definition not near-dups, drop them
    jac = F.when(union > 0, inter.cast("double") / union.cast("double"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The full near-dup pipeline: shingle → minhash → LSH buckets →
    exact-Jaccard verify.

    Verification re-shingles ONLY candidate docs (semi-join on the
    candidate id set, broadcast-able): at scale the candidate set is
    orders of magnitude smaller than the corpus, so the expensive
    shingle arrays are never materialized corpus-wide a second time."""
    # minhash is multiset-invariant → skip the shingle-dedup shuffle
    rows = shingle_rows(df, id_col, text_col, k, distinct=False)
    # sig feeds BOTH sides of the bucket self-join and, transitively,
    # the candidate-id union — without persist the whole shingle+minhash
    # lineage re-executes once per reference (4-6x). The signature is
    # tiny (num_hashes longs per doc), so caching it is correct at any
    # corpus size; cand is smaller still.
    sig = _pooled_persist(minhash_signature(rows, id_col, num_hashes))
    cand = _pooled_persist(
        lsh_candidate_pairs(sig, id_col, num_hashes, bands, max_bucket)
    )
    cand_ids = _pooled_persist(
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # exact-Jaccard verification re-shingles ONLY candidate docs; the
    # candidate shingle arrays are pooled too — the final join consumes
    # sh_cand through two references' worth of lineage, and re-running
    # the operator (bench repeats, notebook) skips the interpreted
    # shingling HOFs entirely. Candidates-only keeps the persist small
    # at scale (the corpus-wide shingles are never cached). The semi-
    # join build side is deliberately UNHINTED (r8): the candidate id
    # set is usually tiny but NOT bounded by construction (at a 30-50%
    # dup-rate crawl it is corpus-fraction scale), and an interleaved
    # ABBA A/B showed AQE converts this join to broadcast at runtime
    # when the set is actually small at ZERO extra cost (1.73s vs
    # 1.80s forced at sf0.1), while a maybe_broadcast probe job cost
    # ~14% — so AQE gets the decision, not a hint and not a probe.
    cand_docs = df.join(cand_ids, id_col, "left_semi")
    sh_cand = _pooled_persist(
        shingle_rows(cand_docs, id_col, text_col, k)
        .groupBy(id_col)
        .agg(F.collect_list("s").alias("shingles"))
    )
    return jaccard_verified_pairs(cand, sh_cand, id_col, threshold)


def minhash_match_incremental(
    new_docs: DataFrame,
    existing_sig: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_est: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental near-dup: match a NEW batch against a persisted
    signature store WITHOUT touching the existing corpus's text — the
    reference's incremental posture (anti-join new rows against the
    target's hash snapshot, etl.go:23-48) lifted from exact dedup to
    near-dup. ``existing_sig`` is a prior :func:`minhash_signature`
    output (``id_col`` + ``mh_0..mh_{n-1}``, ~128 B/doc — the only
    state a 100 TB corpus needs to retain for dedup-on-ingest).

    Returns ``(id_a, id_b, est_jaccard)`` where ``id_a`` is always a
    new doc, ``id_b`` an existing doc OR a new doc with ``id_a <
    id_b`` (new-new pairs reported once, old-old pairs never
    recomputed), and ``est_jaccard`` is the matching-minhash fraction
    — the standard unbiased Jaccard estimator, exact-arithmetic
    (int/int double) so it is bit-identical cross-engine. Granularity
    is 1/num_hashes; callers wanting exact Jaccard re-verify the
    (small) match set against retained text.

    Shuffle shape: new-side banding joins the (old ∪ new) banding on
    (band, key) — at scale the old side is a bucketed signature table
    and the join shuffles ONLY signatures, never documents. Appending
    the new signatures to the store afterwards keeps the next batch
    incremental (same posture as the exact-hash snapshot).

    ``max_bucket`` (r7, same adaptive heavy-hitter guard as the
    self-joins): a store accumulating a mass-duplicated signature —
    boilerplate pages ingested for months — makes one (band, key)
    bucket emit every new matching doc × the whole flood. Bucket
    occupancy is measured on the UNION banding (old + new — total
    membership is what drives pair volume) and overfull keys are
    dropped from the store side of the join, which removes every pair
    that bucket would emit while leaving other shared buckets intact —
    the identical recall trade, mirrored in the SQL twin. Adaptive: no
    overfull buckets (every healthy store) ⇒ no anti-join in the plan.
    """
    rows = shingle_rows(new_docs, id_col, text_col, k, distinct=False)
    sig_new = _pooled_persist(minhash_signature(rows, id_col, num_hashes))
    allsig = existing_sig.withColumn("__new", F.lit(False)).unionByName(
        sig_new.withColumn("__new", F.lit(True))
    )
    banded_all = _banded(allsig, id_col, num_hashes, bands, extra_cols=["__new"])
    banded_new = _banded(sig_new, id_col, num_hashes, bands)
    if max_bucket is not None:
        banded_all = _drop_hot_buckets(banded_all, ["band", "bk"], max_bucket)
    a, b = banded_new.alias("a"), banded_all.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (
                (~F.col("b.__new"))  # new-vs-old: any order
                | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))  # new-new once
            ),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sig_new.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)],
    )
    sb = allsig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_est)
    )


def _hot_filter_sql(src: str, keys: list[str], cap: int | None) -> str:
    """CTE tail mirroring :func:`_drop_hot_buckets`: rows of ``src``
    whose bucket (by ``keys``) holds more than ``cap`` members are
    dropped. Returns SQL for a subquery usable in FROM; the identity
    passthrough when the cap is disabled."""
    if cap is None:
        return src
    kl = ", ".join(keys)
    on = " AND ".join(f"h.{k} = b.{k}" for k in keys)
    return (
        f"(SELECT b.* FROM {src} b WHERE NOT EXISTS ("
        f"SELECT 1 FROM (SELECT {kl} FROM {src} GROUP BY {kl} "
        f"HAVING COUNT(*) > {cap}) h WHERE {on}))"
    )


def minhash_lsh_dedup_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    """The identical pipeline as DuckDB SQL (oracle), including the
    heavy-hitter bucket cap (same default as the Spark op, so parity
    holds by construction even when the cap engages)."""
    rows_per_band = num_hashes // bands
    mh_cols = ",\n               ".join(
        f"list_aggregate(list_transform(shingles, s -> "
        f"({MH_A[i]} * {_h7_sql('s')} + {MH_B[i]}) % {MH_PRIME}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT {id_col}, {b} AS band, "
        f"md5(concat_ws(',', "
        f"{', '.join(f'CAST(mh_{b * rows_per_band + r} AS VARCHAR)' for r in range(rows_per_band))}"
        f")) AS bk FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH sh AS (
        SELECT {id_col},
               list_distinct({shingles_sql('toks', k)}) AS shingles
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table})
    ),
    sh2 AS (SELECT * FROM sh WHERE len(shingles) >= 1),
    sig AS (
        SELECT {id_col}, {mh_cols}
        FROM sh2
    ),
    banded AS (
{band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM {_hot_filter_sql('banded', ['band', 'bk'], max_bucket)} a
        JOIN {_hot_filter_sql('banded', ['band', 'bk'], max_bucket)} b
          ON a.band = b.band AND a.bk = b.bk AND a.{id_col} < b.{id_col}
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / CAST(len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
    FROM cand
    JOIN sh2 sa ON sa.{id_col} = cand.id_a
    JOIN sh2 sb ON sb.{id_col} = cand.id_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / CAST(len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) >= {threshold}
    """


def minhash_match_incremental_sql(
    old_table: str,
    new_table: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    min_est: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    """DuckDB oracle twin of :func:`minhash_match_incremental`: the
    old side's signatures recomputed from text here (the engine reads
    them from the store — the arithmetic is identical either way, as
    the store itself is a :func:`minhash_signature` output), same
    banding, same new-vs-all candidate rule, same matching-fraction
    estimator (int/int double — bit-identical cross-engine), same
    union-measured heavy-hitter bucket cap on the store side (shared
    default, so parity holds even when the cap engages)."""
    rows_per_band = num_hashes // bands
    mh_cols = ",\n               ".join(
        f"list_aggregate(list_transform(shingles, s -> "
        f"({MH_A[i]} * {_h7_sql('s')} + {MH_B[i]}) % {MH_PRIME}), 'min') AS mh_{i}"
        for i in range(num_hashes)
    )

    def _band_rows(src: str, flag: str) -> str:
        return "\n        UNION ALL\n".join(
            f"        SELECT {id_col}{flag}, {b} AS band, "
            f"md5(concat_ws(',', "
            f"{', '.join(f'CAST(mh_{b * rows_per_band + r} AS VARCHAR)' for r in range(rows_per_band))}"
            f")) AS bk FROM {src}"
            for b in range(bands)
        )

    def _sig(src: str) -> str:
        return f"""
        SELECT {id_col}, {mh_cols}
        FROM (
            SELECT {id_col}, list_distinct({shingles_sql('toks', k)}) AS shingles
            FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {src})
        ) WHERE len(shingles) >= 1
        """

    match_frac = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
    WITH sig_old AS ({_sig(old_table)}),
    sig_new AS ({_sig(new_table)}),
    sig_all AS (
        SELECT *, FALSE AS is_new FROM sig_old
        UNION ALL
        SELECT *, TRUE AS is_new FROM sig_new
    ),
    banded_all AS (
{_band_rows('sig_all', ', is_new')}
    ),
    banded_new AS (
{_band_rows('sig_new', '')}
    ),
    cand AS (
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM banded_new a
        JOIN {_hot_filter_sql('banded_all', ['band', 'bk'], max_bucket)} b
          ON a.band = b.band AND a.bk = b.bk
         AND ((NOT b.is_new) OR a.{id_col} < b.{id_col})
    )
    SELECT id_a, id_b,
           CAST({match_frac} AS DOUBLE) / {float(num_hashes)} AS est_jaccard
    FROM cand
    JOIN sig_new sa ON sa.{id_col} = cand.id_a
    JOIN sig_all sb ON sb.{id_col} = cand.id_b
    WHERE CAST({match_frac} AS DOUBLE) / {float(num_hashes)} >= {min_est}
    """


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (the brute-force baseline LSH approximates)
# ---------------------------------------------------------------------------

# ngram_jaccard_pairs is the O(n²) exactness baseline; above this many
# docs the self-join is a scale-killer and the guard forces callers to
# the LSH path instead (mirrors the bounded-path gates elsewhere).
MAX_BRUTE_FORCE_DOCS = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_docs: int = MAX_BRUTE_FORCE_DOCS,
) -> DataFrame:
    """Exact n-gram Jaccard pairs — the correctness baseline LSH is
    judged against. At scale you never run this on a full corpus; in
    the suite it runs on a sample, and the ``max_docs`` guard refuses
    anything larger (use :func:`minhash_lsh_dedup_pairs` there).

    Execution (r15): for ``threshold > 0`` the output is EXACTLY the
    pairs sharing at least one shingle that verify at the threshold
    (jaccard ≥ t > 0 ⟹ intersection ≥ 1), so candidates come from a
    shared-shingle EQUI-join on the exploded shingle list and the full
    jaccard is evaluated ONCE per candidate. The previous all-pairs
    ``id_a < id_b`` BroadcastNestedLoopJoin evaluated the
    ``array_intersect`` jaccard inside the join CONDITION — Catalyst
    pushes the threshold filter there, ANDed BEFORE the cheap id
    predicate — on every ORDERED pair (2× the unordered count) and
    again ×3 in the surviving projection, all on the scan's task
    layout (a single-file corpus ran the whole n² scan in ONE task:
    20+ min at the 5000-doc bench scale; the rewrite's measured wall
    is seconds). The brute-force plan is kept for ``threshold <= 0``,
    where a zero-intersection pair is a legitimate result."""
    if guards.bounded_count(df.select(id_col), max_docs) > max_docs:
        raise ValueError(
            f"ngram_jaccard_pairs is an O(n^2) all-pairs baseline capped at "
            f"{max_docs} docs; use minhash_lsh_dedup_pairs for corpora this size"
        )
    # conditional spread (r15): both the candidate equi-join's explode
    # and the threshold<=0 BNLJ stream side inherit the scan's
    # partitioning — spread a single-file corpus so neither runs
    # single-task. Capped corpora only, by the guard above.
    # FULL width on purpose (r16): this is the one spread site whose
    # downstream work is O(n²) in rows (shared-shingle pair fan-out),
    # so the bytes-per-task floor that sizes every other spread
    # under-provisions it by construction — the r16 adaptive width
    # narrowed it 32→25 at sf0.1 and the row slowed ~25%. The guard
    # above caps n, so full fan-out is bounded.
    from etl_pack_spark.operators.partitioning import spread_small_scan

    sh = shingled(
        spread_small_scan(df, id_col, full_width=True), id_col, text_col, k
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double"))
    if threshold <= 0:
        a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
        return (
            cand.select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
        )
    # three consumers of the shingle frame (explode + two array
    # attaches) — one materialization; bounded by the max_docs guard
    sh = _pooled_persist(sh)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    ex = sh.select(id_col, F.explode("shingles").alias("__g"))
    cand_ids = (
        ex.alias("x")
        .join(
            ex.alias("y"),
            (F.col("x.__g") == F.col("y.__g"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return (
        cand_ids.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(
    table: str, id_col: str, text_col: str, k: int = 3, threshold: float = 0.8
) -> str:
    return f"""
    WITH sh AS (
        SELECT {id_col},
               list_distinct({shingles_sql('toks', k)}) AS shingles
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table})
    ),
    sh2 AS (SELECT * FROM sh WHERE len(shingles) >= 1)
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           / CAST(len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
    FROM sh2 a JOIN sh2 b ON a.{id_col} < b.{id_col}
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / CAST(len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash (64-bit, md5-derived token bits, term-frequency weighted)
# ---------------------------------------------------------------------------

def simhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document as a 16-hex-char string.

    explode(tokens) → per-token md5 → 64 weighted bit sums (integer,
    order-independent, map-side combinable) → sign → hex render.

    The hex digest is parsed ONCE into four 16-bit ints per token;
    each bit sum is then an integer shift/mask (4 string parses + 64
    integer ops per token, vs 64 substr/instr string extractions —
    ~2x on the signature stage).

    Term-frequency weighting runs as count-then-weight: tokens are
    counted per (doc, token) FIRST, so md5 and the 64 bit-extractions
    evaluate once per DISTINCT doc token, not once per occurrence
    (~2.3x fewer on prose, where tokens repeat). sum(bit * count) ==
    sum-per-occurrence exactly (integer arithmetic), and because the
    plan is already hash-partitioned by doc id, the extra groupBy
    introduces NO extra shuffle (HashPartitioning(id) satisfies the
    (id, tok) clustering).

    The words and the aggregate are built from SQL strings, in about
    100 driver calls plus the shared ``tokens`` Column: one
    ``selectExpr`` for the four words, and ONE aggregate expression
    that renders the 64 bit sums straight into the hex digest (the
    optimizer folds a separate render projection into the aggregate
    anyway). Building the same plan one Column function at a time
    costs about 5,800 py4j round trips, over half a second of driver
    time before any job runs.
    """
    tok = (
        df.repartition(F.col(id_col))  # parallelize the CPU-bound explode
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .count()
        .withColumn("h", F.md5("tok"))
        .selectExpr("*", *[
            f"CAST(conv(substr(h, {4 * w + 1}, 4), 16, 10) AS INT) AS w{w}"
            for w in range(4)
        ])
    )
    bit = [
        f"sum(((shiftright(w{j // 16}, {15 - j % 16}) & 1) * 2 - 1) * count) > 0"
        for j in range(64)
    ]
    hex_chars = ", ".join(
        f"substr('{HEX}', "
        + " + ".join(
            f"CASE WHEN {bit[4 * p + b]} THEN {8 >> b} ELSE 0 END" for b in range(4)
        )
        + " + 1, 1)"
        for p in range(16)
    )
    return tok.groupBy(id_col).agg(F.expr(f"concat({hex_chars}) AS simhash"))


# nibble popcount lookup: POP[v] = number of set bits in v (0..15)
POP = "0112122312232334"


def _hamming_exprs(ha: str, hb: str, dialect: str) -> str:
    """Hamming distance between two 16-hex-char simhashes as a sum of
    per-nibble XOR popcounts — identical arithmetic, two dialects."""
    terms = []
    for p in range(1, 17):
        if dialect == "spark":
            va = f"(instr('{HEX}', substr({ha}, {p}, 1)) - 1)"
            vb = f"(instr('{HEX}', substr({hb}, {p}, 1)) - 1)"
            x = f"({va} ^ {vb})"
        else:
            va = f"(strpos('{HEX}', substr({ha}, {p}, 1)) - 1)"
            vb = f"(strpos('{HEX}', substr({hb}, {p}, 1)) - 1)"
            x = f"xor({va}, {vb})"
        terms.append(f"CAST(substr('{POP}', {x} + 1, 1) AS INT)")
    return "(" + " + ".join(terms) + ")"


def hamming_neardup_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    max_hamming: int = 10,
    chunks: int = 4,
    max_block_freq: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature rendered as 16 hex
    chars (simhash of text, dHash of images, …): candidates share at
    least one exact 16/chunks-hex-char block (pigeonhole: any pair
    within ``chunks-1`` differing blocks is found), then exact hamming
    filters. Block equi-join — never all-pairs; ``max_block_freq``
    (ON by default, see ``DEFAULT_MAX_BUCKET``; ``None`` disables)
    drops degenerate hot blocks first. The signature frame is
    pooled-persisted HERE: it feeds both sides of the banding
    self-join and both verify joins, and for image/audio signatures
    the upstream lineage is an expensive pixel/PCM decode that must
    not run four times."""
    sig = _pooled_persist(sig)
    width = 16 // chunks
    blocks = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.substring(sig_col, 1 + c * width, width) for c in range(chunks)])
        ).alias("blk_idx", "blk"),
    )
    if max_block_freq is not None:
        # heavy-hitter guard (default on): a block value shared by b
        # docs emits b²/2 candidates — mass-duplicated signatures make
        # one block dominate the join (the 30x replication probe's
        # superlinear point). Pairs whose EVERY shared block is capped
        # are lost; at sane caps those are identical-signature floods.
        # blocks stays lazy (substring over cached sig — see
        # lsh_candidate_pairs / _drop_hot_buckets on why caching it
        # regressed the engaged-cap path).
        blocks = _drop_hot_buckets(blocks, ["blk_idx", "blk"], max_block_freq)
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("ha"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("hb"))
    ham = F.expr(_hamming_exprs("ha", "hb", "spark"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def hamming_match_incremental(
    new_sig: DataFrame,
    existing_sig: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    max_hamming: int = 10,
    chunks: int = 4,
    max_block_freq: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental hamming near-dup (r15): match a NEW batch of 64-bit
    signatures (simhash of text, dHash of images/audio) against a
    persisted signature store — :func:`minhash_match_incremental`'s
    posture for the hamming family. ``existing_sig`` holds prior
    signatures (8 B/item of real state); old items are never
    re-decoded or re-paired among themselves.

    Returns ``(id_a, id_b, hamming)`` where ``id_a`` is always new and
    ``id_b`` is existing OR new with ``id_a < id_b`` (new-new once,
    old-old never). Same block-pigeonhole guarantee as
    :func:`hamming_neardup_pairs`: any pair within ``chunks-1``
    differing blocks shares an exact block; exact hamming verifies.

    Shuffle shape: the new side's blocks equi-join the (old ∪ new)
    blocks — only signatures shuffle, never payloads; the heavy-hitter
    cap (measured on the union — total membership drives pair volume)
    drops degenerate blocks a mass-duplicated signature floods, same
    adaptive trade as every banded join here."""
    new_sig = _pooled_persist(new_sig.select(id_col, sig_col))
    allsig = (
        existing_sig.select(id_col, sig_col)
        .withColumn("__new", F.lit(False))
        .unionByName(new_sig.withColumn("__new", F.lit(True)))
    )
    width = 16 // chunks

    def _blocks(s, extra=()):
        return s.select(
            F.col(id_col),
            *[F.col(c) for c in extra],
            F.posexplode(
                F.array(*[F.substring(sig_col, 1 + c * width, width)
                          for c in range(chunks)])
            ).alias("blk_idx", "blk"),
        )

    blocks_all = _blocks(allsig, ("__new",))
    blocks_new = _blocks(new_sig)
    if max_block_freq is not None:
        blocks_all = _drop_hot_buckets(
            blocks_all, ["blk_idx", "blk"], max_block_freq)
    a, b = blocks_new.alias("a"), blocks_all.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (
                (~F.col("b.__new"))  # new-vs-old: any order
                | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))  # new-new once
            ),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = new_sig.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("ha"))
    sb = allsig.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("hb"))
    ham = F.expr(_hamming_exprs("ha", "hb", "spark"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 10,
    chunks: int = 4,
    max_block_freq: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs: text signatures through the generic
    :func:`hamming_neardup_pairs` block-match (same shuffle shape as
    minhash LSH — block equi-join, no all-pairs; the generic op owns
    the signature persist). ``max_block_freq`` is the heavy-hitter
    bucket cap (default on, ``DEFAULT_MAX_BUCKET``)."""
    sig = simhash_signature(df, id_col, text_col)
    return hamming_neardup_pairs(
        sig, id_col, "simhash", max_hamming, chunks, max_block_freq
    )


def hamming_neardup_pairs_sql(
    sig_sql: str,
    id_col: str,
    sig_col: str = "simhash",
    max_hamming: int = 10,
    chunks: int = 4,
    max_block_freq: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    """DuckDB oracle twin of :func:`hamming_neardup_pairs` over ANY
    signature subquery ``sig_sql`` producing ``(id_col, sig_col)`` —
    same pigeonhole block candidates, same nibble-popcount hamming,
    same heavy-hitter block cap (shared default, so parity holds even
    when the cap engages)."""
    width = 16 // chunks
    block_rows = "\n            UNION ALL\n".join(
        f"            SELECT {id_col}, {c} AS blk_idx, "
        f"substr({sig_col}, {1 + c * width}, {width}) AS blk FROM sig"
        for c in range(chunks)
    )
    ham = _hamming_exprs(f"sa.{sig_col}", f"sb.{sig_col}", "duckdb")
    blocks_k = _hot_filter_sql("blocks", ["blk_idx", "blk"], max_block_freq)
    return f"""
    WITH sig AS ({sig_sql}),
    blocks AS (
{block_rows}
    ),
    cand AS (
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM {blocks_k} a JOIN {blocks_k} b
          ON a.blk_idx = b.blk_idx AND a.blk = b.blk AND a.{id_col} < b.{id_col}
    )
    SELECT id_a, id_b, {ham} AS hamming
    FROM cand
    JOIN sig sa ON sa.{id_col} = cand.id_a
    JOIN sig sb ON sb.{id_col} = cand.id_b
    WHERE {ham} <= {max_hamming}
    """


def simhash_neardup_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    max_hamming: int = 10,
    chunks: int = 4,
    max_block_freq: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    return hamming_neardup_pairs_sql(
        simhash_signature_sql(table, id_col, text_col),
        id_col, "simhash", max_hamming, chunks, max_block_freq,
    )


def simhash_signature_sql(table: str, id_col: str, text_col: str) -> str:
    sums = ",\n               ".join(
        f"SUM((((w{j // 16} >> {15 - j % 16}) & 1) * 2 - 1)) AS s{j}"
        for j in range(64)
    )
    words = ", ".join(
        f"CAST('0x' || substr(h, {4 * w + 1}, 4) AS INTEGER) AS w{w}" for w in range(4)
    )
    nibbles = " || ".join(
        f"substr('{HEX}', 1 + (CASE WHEN s{4 * p} > 0 THEN 8 ELSE 0 END "
        f"+ CASE WHEN s{4 * p + 1} > 0 THEN 4 ELSE 0 END "
        f"+ CASE WHEN s{4 * p + 2} > 0 THEN 2 ELSE 0 END "
        f"+ CASE WHEN s{4 * p + 3} > 0 THEN 1 ELSE 0 END), 1)"
        for p in range(16)
    )
    return f"""
    WITH tok AS (
        SELECT {id_col}, md5(unnest(toks)) AS h
        FROM (SELECT {id_col}, {tokens_sql(text_col)} AS toks FROM {table})
    ),
    tw AS (SELECT {id_col}, {words} FROM tok),
    agg AS (
        SELECT {id_col},
               {sums}
        FROM tw GROUP BY {id_col}
    )
    SELECT {id_col}, {nibbles} AS simhash FROM agg
    """
