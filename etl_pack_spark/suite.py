"""The engine's query suite: every SURVEY §2 operator as a named
(spark_query, oracle_sql) pair for the driver's correctness gate.

Conventions that make the DuckDB hash-comparison deterministic:
  * every computed column is aliased identically on both sides;
  * money aggregates go through DECIMAL(18,2) (exact, order-independent)
    and only the final value is cast back to DOUBLE — double summation
    order differs between engines, decimal summation cannot;
  * rankings always carry a unique tie-break column;
  * timestamps rendered to strings use one pinned format on both sides.

Spark side uses the DataFrame API (the operator library under
``etl_pack_spark``); oracle side is ANSI-ish DuckDB SQL over the same
parquet views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pack_spark.operators import guards, multimodal, neardup, sampling, similarity, textops
from etl_pack_spark.operators import quantize as _quantize
from etl_pack_spark.operators.classify import nb_train_score_sql
from etl_pack_spark.operators.cleaning import (
    c4_disposition_sql,
    dedup_lines_sql,
    gopher_signals_sql,
    html_clean_lines_sql,
)
from etl_pack_spark.operators.textops import normalize_text_expr_sql
from etl_pack_spark.operators.temporal import rolling_aggregate_sql
from etl_pack_spark.operators.chunking import chunk_documents_sql as _chunk_documents_sql
from etl_pack_spark.operators.packing import pack_sequences_sql as _pack_sequences_sql
from etl_pack_spark.operators.components import connected_components_sql
from etl_pack_spark.operators.substrings import (
    remove_repeated_spans_sql as _remove_repeated_spans_sql,
    repeated_ngram_spans_sql as _repeated_ngram_spans_sql,
)
from etl_pack_spark.sinks.sharding import shard_assign_sql as _shard_assign_sql
from etl_pack_spark.operators.contamination import eval_contamination_sql
from etl_pack_spark.operators.quality import (
    corpus_datacard_sql,
    mad_outliers_sql,
    pii_profile_sql,
    profile_sql,
    psi_report_sql,
    signal_histogram_sql,
)
from etl_pack_spark.operators.retrieval import (
    bm25_topk_batch_sql as retrieval_bm25_batch_sql,
)
from etl_pack_spark.operators.retrieval import bm25_topk_sql
from etl_pack_spark.operators.retrieval import rrf_fuse_sql as retrieval_rrf_fuse_sql
from etl_pack_spark.plans.merge import scd2_build_sql, snapshot_diff_sql
from etl_pack_spark.operators.dedup import (
    exact_dedup,
    incremental_filter,
    incremental_load,
    snapshot_hashes,
)
from etl_pack_spark.operators.hashing import row_hash_sql, with_row_hash
from etl_pack_spark.operators.partitioning import spread_small_scan
from etl_pack_spark.plans.curate import curate_corpus_sql, curate_disposition_sql
from etl_pack_spark.sinks.writers import append_table
from etl_pack_spark.sources.reader import ReadSpec, read_table, windowed_read

QueryFn = Callable[[SparkSession, str], DataFrame]

WIN_LO, WIN_HI = "1996-01-01 00:00:00", "1996-12-31 23:59:59"

CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

# money → exact decimal on both engines (order-independent sums)
_DEC = "decimal(18,2)"


def _dec(c: str):
    return F.col(c).cast(_DEC)


# ---------------------------------------------------------------------------
# P: projection / window / order / limit (reference read-path semantics)
# ---------------------------------------------------------------------------

def q_p2_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — inclusive BETWEEN range window on the cursor column
    (mysql/reader/main.go:146-148)."""
    spec = ReadSpec(
        table="lineitem",
        fields=["l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"],
        window=("l_shipdate", WIN_LO, WIN_HI),
    )
    return windowed_read(spark, sf_dir, spec)


def q_p4_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — one page of the reference's ordered pagination
    (LIMIT 0,50 over a total order, mysql/reader/main.go:167)."""
    spec = ReadSpec(
        table="lineitem",
        fields=["l_orderkey", "l_linenumber"],
        order=["l_orderkey", "l_linenumber"],
        limit=50,
    )
    return windowed_read(spark, sf_dir, spec)


# ---------------------------------------------------------------------------
# H: canonical hash / snapshot / incremental anti-join
# ---------------------------------------------------------------------------

def q_h1_row_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 — canonical row hash (etl.go:59-68) over customer."""
    df = read_table(spark, sf_dir, "customer")
    return with_row_hash(df, CUSTOMER_COLS, out="row_h").select("c_custkey", "row_h")


def q_h2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 — distinct hash set of the target window (consumer.go:88-95);
    target simulated as the even-custkey half."""
    df = read_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 2 == 0)
    return snapshot_hashes(df, CUSTOMER_COLS)


def q_h3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 — incremental anti-join (etl.go:23-48): src minus target-by-hash;
    expected result = the odd-custkey complement. Also covers H2: the
    snapshot hash set (consumer.go:88-95) is built in-plan via
    snapshot_hashes (q_h2_snapshot pins it standalone in pytest)."""
    src = read_table(spark, sf_dir, "customer")
    tgt = src.where(F.col("c_custkey") % 2 == 0)
    return incremental_filter(src, snapshot_hashes(tgt, CUSTOMER_COLS), CUSTOMER_COLS)


# ---------------------------------------------------------------------------
# T: type normalization
# ---------------------------------------------------------------------------

def q_t1_datetime_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 + T3 — the universal datetime rewrite (mysql/types/types.go:
    17-28): render to the source wire format, parse back (sub-second
    truncated, as the reference's format implies); plus the
    universal→sink literal rendering (types.go:42-55): datetime wire
    format, strings single-quoted with '' escaping, numerics as text.
    Also pins the `date` universal type end-to-end (types.go:12):
    DateType is exercised in-plan (cast + date arithmetic); the final
    projection renders dates as ISO strings because that IS the wire
    literal (and pandas rehydrates DuckDB DATE as midnight datetimes,
    so a raw date column can never hash-match across engines).

    Round-4 merge: the same events projection also pins T2 (type-tag
    normalization incl. unsigned widening — uint64→DECIMAL(20,0),
    uint16→INT, SURVEY §7.4) and the JSON extraction path
    (events.props): all are per-row casts over one scan, so one registry
    slot covers the whole projection family and is the oracle pin of
    those casts and of ``get_json_object``."""
    df = read_table(spark, sf_dir, "events")
    wire = F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
    quoted = F.concat(F.lit("'"),
                      F.regexp_replace(F.col("event_type"), "'", "''"),
                      F.lit("'"))
    d = F.col("ts").cast("date")  # DateType in-plan
    return df.select(
        F.col("event_id"),
        wire.alias("ts_wire"),
        F.try_to_timestamp(wire, F.lit("yyyy-MM-dd HH:mm:ss")).alias("ts_norm"),
        quoted.alias("str_literal"),
        F.col("value").cast("string").alias("num_literal"),
        F.date_format(d, "yyyy-MM-dd").alias("date_wire"),
        F.date_format(F.date_add(d, 7), "yyyy-MM-dd").alias("date_plus7"),
        # T2 widening casts (decimal rendered as string: pandas decimal
        # handling differs between engines, the digits do not)
        F.col("event_id").cast("decimal(20,0)").cast("string").alias("id_u64"),
        F.col("user_id").cast("int").alias("user_u16"),
        F.col("value").cast("double").alias("value_f64"),
        # JSON extraction (events.props)
        F.get_json_object("props", "$.k").cast("int").alias("props_k"),
    )


# ---------------------------------------------------------------------------
# S: scans & sinks
# ---------------------------------------------------------------------------

def q_s1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 — full table scan → typed rows (mysql/mysql.go:36-70)."""
    return read_table(spark, sf_dir, "nation")


def q_s4_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5+X4 — append-write a windowed batch, then read the target
    back (typed writer replaces the reference's literal rendering,
    mysql/writer/main.go:98-132). Overwrite mode keeps the query
    idempotent for repeated driver runs."""
    import tempfile

    spec = ReadSpec(
        table="orders",
        fields=["o_orderkey", "o_totalprice", "o_orderdate"],
        window=("o_orderdate", WIN_LO, WIN_HI),
    )
    df = windowed_read(spark, sf_dir, spec)
    # run-unique path: concurrent drivers/CI jobs on one host must not
    # clobber each other's overwrite-then-read roundtrip
    app_id = spark.sparkContext.applicationId
    path = f"{tempfile.gettempdir()}/etl_pack_spark_sink_roundtrip_{app_id}"
    append_table(df, path, mode="overwrite")
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# X: the flagship pipeline
# ---------------------------------------------------------------------------

def q_x4_incremental_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — the reference's raison d'être as one plan (SURVEY §3.4):
    windowed source minus already-loaded rows. Target simulated as the
    first half of the window (l_orderkey below the median)."""
    spec = ReadSpec(table="lineitem", window=("l_shipdate", WIN_LO, WIN_HI))
    # row hashing is CPU-bound; the fixture is a single small file (3
    # splits), so spread rows before hashing. CONDITIONAL: the anti-join
    # below keys on the row hash, not l_orderkey, so on a real
    # many-split scan this repartition would be a pure extra
    # full-corpus shuffle — spread only when the scan underuses the
    # cluster (operators/partitioning.py).
    from etl_pack_spark.operators.partitioning import spread_small_scan

    src = spread_small_scan(windowed_read(spark, sf_dir, spec), "l_orderkey")
    tgt = src.where(F.col("l_orderkey") % 4 != 3)
    return incremental_load(src, tgt, src.columns)


# ---------------------------------------------------------------------------
# Catalyst-native analytics the reference's users get for free on Spark
# (aggregation / join / window / set ops — SURVEY §2 "absent" list,
# provided as engine capabilities, not reference parity claims)
# ---------------------------------------------------------------------------

def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary; decimal-exact sums.

    Round-4 merge: the same aggregation also pins exact interpolated
    quantiles (Spark `percentile` == DuckDB `quantile_cont`, shared
    linear-interpolation definition, bit-identical doubles) — one agg
    pass covers both families and is the oracle pin of the
    ``percentile`` aggregate."""
    df = read_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast(_DEC)
    q = F.expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.25, 0.5, 0.99))")
    return (
        df.where(F.col("l_shipdate") <= "1997-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            q.alias("__q"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "count_order",
            F.element_at("__q", 1).alias("price_q25"),
            F.element_at("__q", 2).alias("price_q50"),
            F.element_at("__q", 3).alias("price_q99"),
        )
    )


def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with broadcast dims: revenue per nation."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        # bounded by construction: nation is a 25-row TPC-H dimension
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (window function with unique tie-break)."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def q_tpch_q3_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority shape (TPC-H Q3): 3-way join, filtered both
    sides, grouped revenue, top-10 by revenue."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast(_DEC)
    cutoff = "1997-03-15 00:00:00"
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .where(F.col("o_orderdate") < cutoff)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_tpch_q5_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume shape (TPC-H Q5): 5-way star join with
    the customer-and-supplier-same-nation constraint, revenue per
    nation in a region+year window."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    one = F.lit(1).cast(_DEC)
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier,
              (lineitem.l_suppkey == supplier.s_suppkey)
              & (customer.c_nationkey == supplier.s_nationkey))
        # bounded by construction: nation (25) / region (5) dims
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("o_orderdate").between("1996-01-01 00:00:00", "1996-12-31 23:59:59"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate at two resolutions in one
    pass: GROUPING SETS over (day, hour) and (day) buckets. The `res`
    marker disambiguates the levels (timescale-style rollups, Catalyst-
    native)."""
    events = read_table(spark, sf_dir, "events")
    bucketed = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
        "value",
    )
    return (
        bucketed.groupingSets(
            [["day", "hour"], ["day"]],
            "day", "hour",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "day",
            "hour",
            F.when(F.col("hour").isNull(), "day").otherwise("hour").alias("res"),
            "n_events",
            "sum_value",
        )
    )


def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — union+window, no join node): each
    purchase event enriched with the user's latest prior-or-equal view
    event. Oracle = DuckDB's native ASOF JOIN, an independent
    implementation of the same semantics."""
    from etl_pack_spark.operators.temporal import asof_join

    events = read_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    out = asof_join(purchases, views, on="user_id", right_payload=["view_id"])
    return out.select(
        "event_id", "user_id", "ts",
        F.col("ts_r").alias("view_ts"), F.col("view_id_r").alias("view_id"),
    )


def q_range_click_in_signup_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (custom operator — bucketized interval join): click
    events inside the hour following any signup. Oracle = plain
    BETWEEN join."""
    from etl_pack_spark.operators.temporal import range_join

    events = read_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    signups = events.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    out = range_join(clicks, signups, "click_ts", "start_ts", "end_ts", bucket_seconds=3600)
    return out.select("click_id", "signup_id", "click_ts")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via Spark's
    native session_window — the stateful-stream primitive, here in
    batch mode. Oracle reproduces it with gaps-and-islands SQL."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: customers in BUILDING segment with no order above 400k.
    (Threshold raised from 300k when this entry retired to the pytest
    pin, which runs at sf0.001 where >300k matched every BUILDING
    customer — the pin needs a non-empty difference.)"""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    seg = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = (
        orders.where(F.col("o_totalprice") > 400_000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return seg.exceptAll(big.distinct()).distinct()


# ---------------------------------------------------------------------------
# Training-data pipeline extensions: dedup family over `documents`,
# similarity search over `embeddings` (SURVEY §7.3)
# ---------------------------------------------------------------------------

def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: one surviving doc_id per canonicalized text
    (lowercase-fold md5, min-id survivor)."""
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, cols=["text"], keep_order_col="doc_id").select("doc_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over documents.text, exact-Jaccard
    verified at ≥0.8 (md5-derived hashes → oracle matches by
    construction)."""
    docs = read_table(spark, sf_dir, "documents")
    return neardup.minhash_lsh_dedup_pairs(docs, "doc_id", "text")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs (≥0.8) — the brute-force O(n²)
    baseline that LSH approximates; only ever run on corpora this
    small (the fixture is 500 docs at every sf)."""
    docs = read_table(spark, sf_dir, "documents")
    return neardup.ngram_jaccard_pairs(docs, "doc_id", "text")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 10 of 64 bits) via block-match
    candidates + exact hamming verify. Subsumes the signature stage
    (the pairs plan computes every doc's 64-bit simhash first;
    signatures alone are pinned by tests/test_neardup.py).

    Round-5 merge: the SAME generic block-match
    (``neardup.hamming_neardup_pairs``) also dedups IMAGE signatures —
    a re-ingested copy slice of the corpus (every 50th doc again under
    a shifted id, the media-pipeline duplicate-ingest case) is
    binarized and perceptual-hashed (``image_dhash`` fake path:
    md5-prefix over the payload — bit-exact in DuckDB), and its pairs
    ride this slot with ``modality='binary'``; the copy/original pairs
    land at hamming 0. Real-pixel dHash stays pinned by
    tests/test_multimodal.py."""
    docs = read_table(spark, sf_dir, "documents")
    text_pairs = (
        neardup.simhash_neardup_pairs(docs, "doc_id", "text")
        .select("id_a", "id_b", "hamming", F.lit("text").alias("modality"))
    )
    base = docs.select("doc_id", "text")
    copies = base.where(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    media = multimodal.binarize_documents(base.unionByName(copies))
    sig = multimodal.image_dhash(media, fake=True)
    img_pairs = (
        neardup.hamming_neardup_pairs(sig, "media_id", "dhash")
        .select("id_a", "id_b", "hamming", F.lit("binary").alias("modality"))
    )
    return text_pairs.unionByName(img_pairs)


def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-duplicates (all pairs ≥0.95) — strict
    left-fold dot products keep values bit-identical to the oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    # fixture embeddings are synthetic clusters with max pair-cos ≈0.51;
    # 0.4 exercises the operator with a non-degenerate result set
    return similarity.cosine_neardup_pairs(emb, threshold=0.4)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 50)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 50))


# fixture embedding dimensionality (embeddings.parquet; also hard-wired
# in the LSH hyperplane framing below)
EMB_DIMS = 64


def q_ann_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: hyperplane-LSH buckets + exact re-rank inside.
    "Approximate" = recall < 1 vs brute force; the computation itself
    is deterministic (md5-derived hyperplanes, left-fold sums), so
    since r4 it IS oracle-checked — the twin replicates the bucketing
    bit-exactly. Last rows-only slot retired; registry is 50/50."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.lsh_neardup_pairs(emb, dims=64, planes=4, tables=6, threshold=0.4)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-family ANN top-5, both compression tiers in one slot:

    * ``ivf_flat`` — sampled coarse quantizer, nprobe=4 of 16 lists,
      exact re-rank of probed raw vectors (cosine, descending).
    * ``ivf_pq`` (round-6 merge rider) — the billion-scale layout:
      the SAME coarse lists over PQ codes of the residuals (m=8, 16
      centroids, 5 Lloyd iterations on the md5-hash-bounded sample),
      ADC distance (ascending). The oracle twin unrolls the full
      Lloyd training in SQL, so the driver hash-checks codebook
      training, residual encoding, and ADC search end-to-end.

    ``score`` is rounded to 6dp on both engines: ADC sums 8 doubles
    whose accumulation order is engine-internal (last-ulp)."""
    from etl_pack_spark.operators import quantize

    emb = read_table(spark, sf_dir, "embeddings")
    # r15: ONE coarse-sample pass for both tiers — the flat and PQ
    # halves seed from the identical md5-ordered nlist=16 sample, so
    # sharing the collected frame removes a duplicate corpus-wide
    # TakeOrdered pass per query (deterministic total order: values
    # cannot change)
    coarse = similarity._collect_centroids(emb, 16, "vec_id", "embedding")
    # r16 (round-15 VERDICT #3): ONE fused assign+encode corpus pass
    # feeds both tiers — the flat tier's cosine-argmax assignment and
    # the PQ tier's residual encode previously each ran their own
    # kernel over the corpus. The fused kernel wraps the two existing
    # per-batch kernels verbatim (values bit-identical; oracle hash
    # unchanged). pooled_persist IS the sharing mechanism: a repartition
    # boundary does not deduplicate the kernel subtree (column pruning
    # makes the two consumers' exchanges non-identical, so exchange
    # reuse never fires — measured as the kernel running twice); the
    # persisted frame is the per-vector index payload a production
    # index build materializes anyway.
    from etl_pack_spark.operators.cache import pooled_persist

    cids, C, books = quantize.ivf_pq_quantizers(
        emb, EMB_DIMS, nlist=16, m=8, k=16, coarse_pdf=coarse
    )
    fused = pooled_persist(quantize.ivf_assign_encode(emb, coarse, cids, C, books))
    flat = similarity.ivf_topk(
        emb, coarse_pdf=coarse,
        assigned=fused.select(
            F.col("id").alias("n_id"), F.col("f_cid").alias("cid"),
            F.col("v").alias("nv"), F.col("norm").alias("nn"),
        ),
    ).select(
        "q_id", "n_id", F.round("cos_sim", 6).alias("score"), "rk",
        F.lit("ivf_flat").alias("method"),
    )
    pq = quantize.ivf_pq_topk(
        fused.select("id", "cid", "codes"),
        emb.where("vec_id < 50"), cids, C, books, k=5, nprobe=4,
    ).select(
        "q_id", "n_id", F.round("adc_dist", 6).alias("score"), "rk",
        F.lit("ivf_pq").alias("method"),
    )
    return flat.unionByName(pq)


# Rebalancing fractions for the stratified corpus sample: downsample the
# dominant language, keep the tail (a classic training-mix operation).
SAMPLE_FRACTIONS = {"en": 0.25, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 0.5}


def q_sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified sample of the corpus by language —
    map-only predicate, stable under repartitioning and re-ingest.

    Round-5 merge: ``domain_cap`` rides the sampled set as the next
    pipeline stage (keep the 10 longest docs per source, ties on id) —
    the two-phase top-N decomposition must equal the oracle's naive
    global window; the standalone cap stays pinned by
    tests/test_sampling.py."""
    docs = read_table(spark, sf_dir, "documents")
    samp = sampling.stratified_sample(
        docs, "doc_id", "lang", SAMPLE_FRACTIONS
    ).select("doc_id", "lang", "source", "n_chars")
    return sampling.domain_cap(
        samp, "doc_id", "source", score_col="n_chars", max_per_domain=10
    )


def q_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment (90/5/5): simhash
    near-dup clusters land whole in one split, so near-duplicate
    train/eval contamination is structurally impossible (Lee et al.
    2021 §5); singleton docs hash-split as before, appends never move
    an existing group. Round-4 upgrade of the plain per-doc split,
    whose ``split_assign`` stays gated as the split stage of
    ``curate_disposition`` in the ``corpus_curate`` slot."""
    from etl_pack_spark.operators.cache import truncated_persist

    docs = read_table(spark, sf_dir, "documents")
    # truncated (r16): connected_components' auto path probes and
    # collects this frame (it persists it too — execution was already
    # deduped); the checkpoint handle stops each of those actions from
    # re-analyzing the whole simhash-pipeline tree
    pairs = truncated_persist(
        neardup.simhash_neardup_pairs(docs, "doc_id", "text").select(
            "id_a", "id_b"
        )
    )
    return sampling.grouped_split_assign(
        docs.select("doc_id", "lang"), pairs
    ).select("doc_id", "lang", "cluster_id", "split")


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — the streaming transformation run in batch mode: tumbling
    1-hour event windows. The exact same function executes under
    readStream in etl_pack_spark.streaming (one definition, two
    execution modes)."""
    from etl_pack_spark.streaming.incremental import windowed_event_counts

    return windowed_event_counts(read_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Text analysis + multimodal plumbing (SURVEY §7.3 / north-star extensions)
# ---------------------------------------------------------------------------

def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass over documents (emails/phones/card-like).
    r15: scan spread at query entry (single-file input otherwise runs
    the whole regex pass in one task; per-row op, result unchanged)."""
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    return textops.redact_pii(docs, "doc_id", "text")


DQ_COLS = ["o_custkey", "o_orderstatus", "o_orderpriority"]
DQ_NUM = ["o_totalprice"]


# columns the PII exposure profile (r6 merge rider) scans: the
# free-text field that SHOULD carry the corpus' planted PII and a
# structured field that should be clean — both answers matter
PII_PROFILE_COLS = ["text", "source"]


def q_dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality pass: the one-aggregation orders profile PLUS a
    per-priority robust-outlier summary (round-5 merge: MAD modified
    z-score flagging — ``mad_outliers``; the exact aggregate is used
    here for oracle parity, the library default is the bounded-state
    ``percentile_approx`` sketch) PLUS the column-level PII exposure
    profile over the documents corpus (round-6 merge: ``pii_profile``
    — WHICH columns leak, the DQ question before the per-row
    ``text_redact_pii`` scrub) PLUS — round-11 merge — the ingest
    QUALITY-DRIFT summary (``quality.quality_drift``: PSI per text
    signal between the corpus and a deterministic short-docs slice,
    max PSI + count of major-shift signals), putting the whole PSI
    arithmetic under the driver's value hash, PLUS — round-12 merge —
    the CORPUS DATACARD's grand-total row
    (``quality.corpus_datacard``, exact-percentile variant: doc/token
    volumes, token-length p50/p90/p99, stopword/repetition averages,
    language-label agreement — ``card_*`` columns), putting the
    datacard arithmetic under the driver's value hash too (the
    grouped rows + GROUPING SETS shape are DuckDB-parity pytest-
    pinned). All one-row profiles broadcast onto the 5-row summary —
    no extra shuffle; the drift side computes the signals ONCE (both
    histograms read one persisted slim frame — baseline = the corpus,
    batch = its filtered slice). The profile, outlier and PII columns
    of the pre-drift framing are hashed here through the same
    operator calls."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.quality import (
        corpus_datacard,
        mad_outliers,
        pii_profile,
        profile,
        psi_report,
        signal_histogram,
    )
    from etl_pack_spark.operators.textops import text_signals

    orders = read_table(spark, sf_dir, "orders")
    prof = profile(orders, DQ_COLS, DQ_NUM)
    priced = orders.select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("price")
    )
    out = mad_outliers(priced, "price", ["o_orderpriority"], accuracy=None)
    summ = out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum(F.col("is_outlier").cast("int")).cast("long").alias("n_outliers"),
        F.round(F.max("robust_z"), 6).alias("max_robust_z"),
    )
    # r15: spread the documents scan — it feeds THREE heavy one-row
    # profile builds (pii regexes, the persisted signals frame, the
    # datacard tokenize), each of which ran as a ~1.2s single task on
    # the single-file fixture (4 near-identical broadcast-build jobs
    # in the profile). Counts are exact ints; the two datacard
    # averages are rounded to 9dp, which already absorbs cross-engine
    # (DuckDB-vs-Spark) accumulation order — the same argument covers
    # a partitioning change
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    pii = pii_profile(docs, PII_PROFILE_COLS).withColumnRenamed(
        "n_rows", "pii_n_docs"
    )
    # drift: ONE signals scan for both histogram sides (batch ⊆ corpus
    # here, so the filtered histogram reads the persisted slim frame)
    sig = pooled_persist(text_signals(docs, "doc_id", "text"))
    drift = psi_report(
        signal_histogram(sig),
        signal_histogram(sig.where(F.col("n_chars") < 500)),
    ).agg(
        F.round(F.max("psi"), 9).alias("drift_max_psi"),
        F.sum((F.col("verdict") == "major").cast("int"))
        .cast("long")
        .alias("drift_n_major"),
    )
    # r12 merge rider: the datacard's grand-total row (exact
    # percentiles for oracle parity; the operator itself — not a
    # reimplementation — so the gate covers its arithmetic)
    card = corpus_datacard(docs, accuracy=None).where(
        F.col("is_total") == 1
    ).select(
        F.col("n_docs").alias("card_n_docs"),
        F.col("n_null_text").alias("card_n_null_text"),
        F.col("n_tokens_total").alias("card_n_tokens_total"),
        F.col("n_chars_total").alias("card_n_chars_total"),
        F.col("tokens_p50").alias("card_tokens_p50"),
        F.col("tokens_p90").alias("card_tokens_p90"),
        F.col("tokens_p99").alias("card_tokens_p99"),
        F.col("avg_stopword_ratio").alias("card_stopword_ratio"),
        F.col("avg_repetition").alias("card_repetition"),
        F.col("lang_match_frac").alias("card_lang_match_frac"),
    )
    # bounded by construction: prof, pii, drift, card are ONE-ROW profiles
    return (
        summ.crossJoin(F.broadcast(prof))
        .crossJoin(F.broadcast(pii))
        .crossJoin(F.broadcast(drift))
        .crossJoin(F.broadcast(card))
    )


def q_mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata scan: binary payload column + typed metadata,
    magic-prefix sniffing without decode."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.media_metadata(multimodal.binarize_documents(docs))


def q_mm_decode_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + frame-sample in one mapInPandas pass: per sampled
    "frame", the decoded pseudo-dimensions (deterministic functions of
    payload size — so the stub is oracle-checkable) and the frame
    offset. Subsumes the standalone decode and frame-sample stages
    (both pinned by tests/test_multimodal.py)."""
    docs = read_table(spark, sf_dir, "documents")
    return multimodal.decode_frames(multimodal.binarize_documents(docs), fake=True)


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched featurizer over binary payloads: byte histogram +
    8×8 nearest-neighbor thumbnail in one mapInPandas pass. The array/
    binary feature columns are rendered to canonical scalars (CSV of the
    histogram, hex of the thumbnail) so the driver can hash-compare them
    against the DuckDB twin; exact raw bytes are pinned by
    tests/test_multimodal.py.

    Round-4 merge: the metadata scan (mime + magic-prefix sniffing,
    formerly mm_binary_meta) rides the same pass as passthrough columns
    — still one map-only stage, no join back onto the media table;
    q_mm_binary_meta stays pytest-pinned standalone."""
    docs = read_table(spark, sf_dir, "documents")
    media = multimodal.binarize_documents(docs).withColumn(
        "magic_hex", F.lower(F.hex(F.expr("substring(content, 1, 8)")))
    )
    feats = multimodal.media_features(
        media, fake=True, passthrough=["mime", "magic_hex"]
    )
    return feats.select(
        "media_id",
        "n_bytes",
        "src_w",
        "src_h",
        F.when(
            F.col("hist").isNotNull(),
            F.concat_ws(",", F.col("hist").cast("array<string>")),
        ).alias("hist_csv"),
        F.lower(F.hex("thumb")).alias("thumb_hex"),
        "mime",
        "magic_hex",
    )


def _crawl_url_col() -> F.Column:
    """Deterministic crawl-ish URLs for the documents fixture (which
    has no URL column): scheme/www/trailing-slash noise varies by
    doc_id parity, tracking params ride every URL, and the path
    collides on doc_id % 200 within a source — so canonicalization has
    real work to do and URL-dedup has real duplicates to drop. The
    oracle recomputes the EXPECTED canonical form directly (golden
    canonicalization at corpus scale)."""
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("http://WWW."))
        .otherwise(F.lit("https://")),
        F.col("source"), F.lit(".example.com/p/"),
        (F.col("doc_id") % 200).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=crawl&id="), (F.col("doc_id") % 2).cast("string"),
    )


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline at the full per-document
    DISPOSITION grain: URL-keyed crawl dedup → quality gate → language
    verification → exact content dedup → split assignment, with EVERY
    document getting a verdict row ``(doc_id, lang, drop_stage, split,
    canonical_url)`` — ``drop_stage`` names the first gate that
    dropped it (``url_dup`` | ``token_count`` | ``avg_token_len`` |
    ``lang_mismatch`` | ``exact_dup``), NULL means kept-for-training
    with its split assigned. See plans/curate.py and operators/urls.py.

    Round-4 merge: exact dedup (formerly the standalone
    dedup_exact_docs entry) is a stage of this plan, so this slot gates
    it; q_dedup_exact_docs stays pytest-pinned standalone.
    Round-6 merge: ``dedup_by_url`` is the pipeline's FIRST stage; the
    ``canonical_url`` column puts the canonicalizer's output under the
    driver's value hash. The pre-URL framing stays pinned as retired
    ``corpus_curate_plain``.
    Round-11 merge (r10 VERDICT #2): the slot flips from survivors to
    the audit grain — ``curate_disposition`` was the one r10 audit
    family without a CORRECTNESS row. The driver's hash now covers
    ``drop_stage`` for every document in the corpus; the survivor
    framing (exactly the ``drop_stage IS NULL`` slice) is pinned as
    retired ``corpus_curate_kept``. The r11 ``dup_of`` rider points
    every duplicate at its KEPT twin (``url_dup`` → the URL winner,
    ``exact_dup`` → the content-hash winner; NULL elsewhere) — both
    winner ids are values the dedup exchanges already compute, so the
    audit pointer is free.

    Scale shape: the URL-winner marking is one groupBy exchange +
    join (same keys as the r6 keep-first window); ``marked`` is
    pooled-persisted because the loser slice, the keeper slice, and
    the canonical_url join are three consumers of one canonicalize
    lineage; the curate stages then add their single slim persisted
    projection + one dedup exchange (see ``curate_disposition``)."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.urls import canonical_url_col
    from etl_pack_spark.plans.curate import curate_disposition

    # r15: spread the single-file scan at query entry — the URL
    # canonicalizer regexes and the curate tokenize otherwise run
    # single-task; every stage is hash-deterministic, result unchanged
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    flagged = docs.withColumn(
        "canonical_url", canonical_url_col(_crawl_url_col())
    )
    winners = (
        flagged.where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("__uwin"))
    )
    # LEFT join: NULL-canonical rows (unparseable URLs) pass through to
    # the content gates — they are never URL-duplicates of each other
    marked = pooled_persist(flagged.join(winners, "canonical_url", "left"))
    losers = marked.where(
        F.col("canonical_url").isNotNull()
        & (F.col("doc_id") != F.col("__uwin"))
    ).select(
        "doc_id", "lang",
        F.lit("url_dup").alias("drop_stage"),
        F.lit(None).cast("string").alias("split"),
        "canonical_url",
        F.col("__uwin").alias("dup_of"),
    )
    kept = marked.where(
        F.col("canonical_url").isNull()
        | (F.col("doc_id") == F.col("__uwin"))
    )
    dispo = curate_disposition(kept.select("doc_id", "text", "lang"))
    with_url = dispo.join(
        kept.select("doc_id", "canonical_url"), "doc_id"
    ).select("doc_id", "lang", "drop_stage", "split", "canonical_url",
             "dup_of")
    return losers.unionByName(with_url)


def q_corpus_curate_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r6-r10 framing (retired pin, displaced by the r11
    disposition grain): URL dedup → curate, SURVIVORS only —
    ``(doc_id, lang, split, canonical_url)``."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.urls import dedup_by_url
    from etl_pack_spark.plans.curate import curate_corpus

    docs = read_table(spark, sf_dir, "documents")
    kept = pooled_persist(
        dedup_by_url(docs.withColumn("url", _crawl_url_col()), "url", "doc_id")
    )
    curated = curate_corpus(kept.select("doc_id", "text", "lang"))
    return curated.join(kept.select("doc_id", "canonical_url"), "doc_id")


def q_corpus_curate_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r6 framing (retired pin): curation without the URL
    stage."""
    from etl_pack_spark.plans.curate import curate_corpus

    return curate_corpus(read_table(spark, sf_dir, "documents"))


def q_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment per document (broadcast lexicon join +
    map-side-combinable aggregate). r15: scan spread at query entry —
    the tokenize+explode before the broadcast join ran single-task on
    the single-file fixture; aggregates are exact int counts, so the
    result is partitioning-independent."""
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    return textops.lexicon_sentiment(docs, "doc_id", "text")


def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All per-doc text signals (language ID, quality, repetition,
    piece counts, fingerprint) in ONE scan / one projection — subsumes
    the former text_langid / text_quality / text_tokens /
    text_fingerprint entries (merge map at the registry).

    r15: the scan is spread when it underuses the cluster (guide §2.5
    input-layout fix at the QUERY entry — a single-file corpus ran the
    whole tokenize/regex projection as ONE task; the operator itself
    stays pinned map-only by tests/test_textops.py). Signals are
    per-row, so the result is partitioning-independent."""
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    return textops.text_signals(docs, "doc_id", "text")


def q_bm25_search_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r9 framing (retired pin): single-query BM25 top-20."""
    from etl_pack_spark.operators.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, "doc_id", "text", BM25_QUERY, k=20)
    return out.select("id", F.round("score", 6).alias("score"))


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval (r9: the slot grew from single-query BM25 to
    the full sparse⊕dense pipeline; the old framing stays pinned as
    retired ``bm25_search_plain``): query-by-example over seed docs
    (doc_id < 3) — batch BM25 over their text (inverted index, same
    idf/damping as the single-query op) ⊕ exact cosine top-k over
    their embeddings — fused by reciprocal-rank (RRF, the standard
    calibration-free hybrid combiner). Every stage is oracle-twinned;
    rrf_score rounded to 9 dp on both engines."""
    from etl_pack_spark.operators.retrieval import bm25_topk_batch, rrf_fuse

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    q_text = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"), "text"
    )
    q_vec = emb.where(F.col("vec_id") < 3)
    sparse = bm25_topk_batch(
        docs, q_text, "doc_id", "text", k=HYBRID_K_EACH, exclude_self=True
    )
    dense = similarity.cosine_topk(emb, q_vec, k=HYBRID_K_EACH)
    return rrf_fuse(
        {"bm25": sparse.withColumnRenamed("id", "doc_id"),
         "dense": dense.withColumnRenamed("n_id", "doc_id")},
        k=HYBRID_K,
    )


SNAP_CUT = "2024-01-20 00:00:00"   # old snapshot: events up to here
SNAP_LO = "2024-01-08 00:00:00"    # new snapshot: events from here on


def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build from the events change stream: one window
    shuffle on (user_id, event_type), effective_from/to ranges +
    is_current flag (plans/merge.py).

    Round-5 merge: snapshot RECONCILIATION (``plans.merge.
    snapshot_diff`` — union + one combinable groupBy, no full-outer
    join) rides this slot: two keyed snapshots of the same stream —
    an older partial extract (state up to SNAP_CUT, user shard 0
    missing) vs a fresher one (state since SNAP_LO, user shard 3
    missing; mismatched shard coverage is exactly the state
    reconciliation exists to surface) — are diffed and each history
    row is annotated with its key's I/U/D ``reconcile_op`` (NULL =
    unchanged), so all three ops are live paths. Full diff semantics
    (incl. the apply_cdc round-trip law) stay pinned by
    tests/test_merge.py."""
    from etl_pack_spark.plans.merge import scd2_build, snapshot_diff

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    hist = scd2_build(ev, ["user_id", "event_type"], "ts")

    # BOTH snapshots from ONE conditional aggregate over one scan —
    # the two filtered branches then share an identical agg subtree,
    # which Spark's ReuseExchange computes once (two separate
    # per-snapshot scans cost ~2.5x on the bench)
    old_pred = (F.col("ts") <= F.lit(SNAP_CUT).cast("timestamp")) & (
        F.col("user_id") % 10 != 0
    )
    new_pred = (F.col("ts") >= F.lit(SNAP_LO).cast("timestamp")) & (
        F.col("user_id") % 10 != 3
    )
    # all four aggregates inside ONE struct: per-branch column pruning
    # cannot split it, keeping the two snapshot branches' agg subtrees
    # identical (reuse-eligible) and the conditional math map-side —
    # versus two separately-filtered scans+aggs this is ~2x cheaper on
    # the bench (1.21s -> 0.63s at sf0.1)
    base = ev.groupBy("user_id", "event_type").agg(
        F.struct(
            F.max(F.when(old_pred, F.col("value"))).alias("vo"),
            F.count(F.when(old_pred, 1)).alias("no"),
            F.max(F.when(new_pred, F.col("value"))).alias("vn"),
            F.count(F.when(new_pred, 1)).alias("nn"),
        ).alias("__s")
    )

    def snap(vc, nc):
        return base.where(F.col(f"__s.{nc}") > 0).select(
            "user_id", "event_type",
            F.col(f"__s.{vc}").alias("v"), F.col(f"__s.{nc}").alias("n"),
        )

    old = snap("vo", "no")
    new = snap("vn", "nn")
    diff = snapshot_diff(old, new, ["user_id", "event_type"]).select(
        "user_id", "event_type", F.col("op").alias("reconcile_op")
    )
    return hist.join(diff, ["user_id", "event_type"], "left")


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-recipe corpus cleaning: line-level filters + document-level
    gates as one map-only projection (operators/cleaning.py). The
    fixture corpus is keyword text (no sentence punctuation), so the
    framing disables the terminal-punctuation rule and discriminates on
    word count + a badword gate instead.

    Round-5 merge: the two downstream canonicalization stages ride the
    same map-only projection over the survivors — HTML extraction
    (``html_clean_lines`` → ``text_stripped``) and Unicode NFC
    normalization (``normalize_text_col`` → ``text_norm``, the one
    Arrow-batched UDF in the cleaning family; Spark has no NFC
    expression). Still zero Exchanges; the standalone operators stay
    pinned by tests/test_cleaning.py and tests/test_textops.py.

    r10 rider: the slot flipped from the SURVIVOR slice to the full
    per-document DISPOSITION (``c4_disposition`` — every doc, with
    ``drop_stage`` naming the first gate that dropped it, NULL for
    keeps), putting the curation-audit semantics under the driver's
    value hash; survivors carry the canonicalization columns exactly
    as before, dropped docs carry NULLs. The survivor-only
    ``c4_clean`` is the ``drop_stage IS NULL`` slice of the same
    ``c4_disposition``, so this slot gates it too. A user aggregates the
    funnel report with ``cleaning.curation_funnel`` (pytest-pinned)."""
    from etl_pack_spark.operators.cleaning import (
        c4_disposition,
        html_clean_lines,
    )

    # r15: spread at query entry (per-row disposition + map-only
    # canonicalizers — single-file input otherwise runs one task; the
    # operators stay pinned Exchange-free by tests/test_cleaning.py)
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    dispo = c4_disposition(
        docs, "doc_id", "text",
        min_words=30, min_lines=1, badwords=["slow"], require_terminal=False,
    )
    kept = F.col("drop_stage").isNull()
    return dispo.select(
        "id", "drop_stage", "text_clean", "n_lines", "n_kept",
        F.when(
            kept,
            F.array_join(html_clean_lines(F.col("text_clean")), "\n"),
        ).alias("text_stripped"),
        F.when(
            kept, textops.normalize_text_col(F.col("text_clean"))
        ).alias("text_norm"),
    )


def q_contamination_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination, EVAL-ITEM grain (r9: the slot flipped
    direction — per-eval-item contaminated-fraction report, one row
    per held-out doc incl. clean ones at frac 0; the train-doc-grain
    ``contamination_report`` is DuckDB-pinned in
    tests/test_contamination.py and live inside ``decontaminate``/the
    pretrain plan): distinct
    8-gram overlap of each eval doc (doc_id % 10 == 7) against the
    rest of the corpus, broadcast-bounded both directions."""
    from etl_pack_spark.operators.contamination import eval_contamination

    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 7)
    evald = docs.where(F.col("doc_id") % 10 == 7)
    return eval_contamination(train, evald, "doc_id", "text", n=8)


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: reweight the documents corpus to a
    target source mixture with deterministic hash-thinning/repeating
    (map-only + broadcast domain counts, operators/sampling.py)."""
    docs = read_table(spark, sf_dir, "documents")
    return sampling.mixture_resample(
        docs.select("doc_id", "source", "lang"),
        "doc_id",
        "source",
        MIXTURE_WEIGHTS,
    )


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive duplicate CLUSTERS: simhash
    block-match pairs fed through iterative min-label propagation
    (operators/components.py); cluster_id = min doc id in the group.

    r8 rider (same grain, +1 column): ``survived`` — the quality-aware
    survivor pick (``cluster_dedup(survivor_by="n_chars")``: keep the
    LONGEST copy per cluster, min-id tie-break), putting the r7
    curation-posture operator under the oracle's value hash.

    r9 (same grain, same columns): the labeling is computed via an
    actual INCREMENTAL fold — the pair stream split into two batches
    and folded with ``update_clusters`` (components over
    label-edges ∪ batch-2, the maintained-clusters-store fold) — so
    the driver's oracle hash now gates the r8 fold operator's
    exactness against the full-history recursive-CTE twin, including
    genuine cross-batch cluster merges (the split provably merges
    batch-1 components at every shipped sf; pinned in
    tests/test_components.py). Min-id labels are canonical, so a
    one-shot labeling has the same twin; the one-shot
    ``neardup_clusters`` is DuckDB-pinned in tests/test_components.py."""
    from etl_pack_spark.operators.cache import truncated_persist
    from etl_pack_spark.operators.components import (
        cluster_dedup,
        connected_components,
        update_clusters,
    )

    docs = read_table(spark, sf_dir, "documents")
    # persisted: the two batch filters below are differently-keyed
    # consumers of the whole simhash pipeline (the bench-discipline
    # re-execution trap). TRUNCATED (r16, round-15 VERDICT #2): the
    # two components runs, their size probes, the driver collects and
    # cluster_dedup's broadcast probe — ~6 eager actions — each
    # re-analyzed the full simhash-pipeline tree through this frame;
    # the checkpoint handle pays that analysis once.
    pairs = truncated_persist(
        neardup.simhash_neardup_pairs(docs, "doc_id", "text").select(
            "id_a", "id_b"
        )
    )
    batch1 = pairs.where((F.col("id_a") + F.col("id_b")) % 2 == 0)
    batch2 = pairs.where((F.col("id_a") + F.col("id_b")) % 2 == 1)
    # ONE bounded probe for BOTH components runs (r16, round-15
    # VERDICT #2): each run's auto mode would persist + probe its own
    # edge frame — two extra eager actions over the same checkpointed
    # pairs. |batch1| and the fold's merged list (label edges + batch2
    # ≤ 2x total pairs) are both bounded by the TOTAL pair count, so
    # one limit probe at MAX/2 proves the driver path for both; larger
    # graphs keep the per-run auto probes (method="auto" unchanged).
    from etl_pack_spark.operators.components import MAX_DRIVER_PAIRS

    bound = MAX_DRIVER_PAIRS // 2
    small = guards.bounded_count(pairs, bound) <= bound
    method = "driver" if small else "auto"
    # the incremental posture: label batch 1, then FOLD batch 2 into
    # the existing labeling — exact (min-id labels are canonical), so
    # the result must hash-match components over ALL pairs
    clusters = update_clusters(
        connected_components(batch1, method=method), batch2, method=method
    ).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    # the operator input is restricted to CLUSTERED docs (broadcast
    # semi) so every frame in this slot stays cluster-sized — the
    # survived flags are identical (pass-through docs never affect
    # winner selection) and the operator's full-corpus anti-join shape
    # is benched separately via pretrain_e2e / lib_pretrain_e2e
    docs_c = docs.select("doc_id", "n_chars").join(
        clusters.select("doc_id"), "doc_id", "left_semi"
    )
    kept = cluster_dedup(
        docs_c, pairs, "doc_id", clusters=clusters, survivor_by="n_chars"
    )
    return clusters.join(
        kept.select("doc_id", F.lit(True).alias("survived")), "doc_id", "left"
    ).select(
        "doc_id", "cluster_id",
        F.coalesce("survived", F.lit(False)).alias("survived"),
    )


def q_lib_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring + perplexity bucketing in one
    pass (operators/textops.py): per-doc mean unigram log-prob under
    the corpus's own smoothed unigram model, PLUS the head/middle/tail
    bucket from the CCNet percentile split (Wenzek et al. 2020) —
    round-4 merge: ppl_bucket_split rides the same scoring pipeline
    (same grain, +1 column), so this slot gates both. Scores rounded
    to 6 dp on BOTH engines BEFORE the cutoffs — ln() is libm-
    dependent (±1 ulp), everything else is exact.

    r6 rider (same grain, +1 column): ``mean_logprob_bi`` — the
    interpolated-BIGRAM score (``textops.bigram_logprob``, the CCNet
    rung above the unigram proxy), rounded to 6 dp; LEFT join because
    zero-token docs have no LM row (their unigram columns are already
    NULL/0 here)."""
    docs = read_table(spark, sf_dir, "documents")
    bi = textops.bigram_logprob(docs, "doc_id", "text").select(
        "doc_id", F.round("mean_logprob", 6).alias("mean_logprob_bi")
    )
    return textops.ppl_bucket_split(docs, "doc_id", "text").join(
        bi, "doc_id", "left"
    )


def q_lib_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes quality classifier, train-on-self with the weak label
    n_chars > 250 (operators/classify.py): score every doc, rounded to
    6 dp on both engines (same ln() caveat as unigram)."""
    from etl_pack_spark.operators.classify import nb_score, nb_train

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "y", F.col("n_chars") > 250
    )
    out = nb_score(docs, "doc_id", "text", nb_train(docs, "text", "y"))
    return out.select("id", F.round("score", 6).alias("score"), "pred")


def q_lib_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-line removal (RefinedWeb-style boilerplate
    strip, operators/cleaning.py): every doc back with its cleaned text
    — exact strings, hash-exact compare."""
    from etl_pack_spark.operators.cleaning import dedup_lines

    docs = read_table(spark, sf_dir, "documents")
    out = dedup_lines(docs, "doc_id", "text")
    # n_lines: Spark size() is INT, the DuckDB twin's len() is BIGINT —
    # cast so the driver's schema compare lines up
    return out.withColumn("n_lines", F.col("n_lines").cast("long"))


def q_lib_rolling_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based trailing-hour moving aggregates per user over events
    (operators/temporal.py, RANGE frame on microsecond epoch).
    sum_window rounded to 6 dp on both engines (RANGE-frame double
    summation order is engine-internal); count/min/max are exact."""
    from etl_pack_spark.operators.temporal import rolling_aggregate

    ev = read_table(spark, sf_dir, "events")
    out = rolling_aggregate(ev, "user_id", "ts", "value")
    return out.select(
        "user_id", "ts", "value", "n_window",
        F.round("sum_window", 6).alias("sum_window"),
        "min_window", "max_window",
    )


def q_gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality gates (Rae et al. 2021 A1.1): per-doc
    metrics + composed keep flag, map-only (operators/cleaning.py).
    All ratios are int/int doubles — bit-identical cross-engine.

    r10 rider (same grain, +1 column): ``drop_reason`` — the FIRST
    failing gate in the keep conjunction's order (NULL = kept; keep ==
    drop_reason IS NULL by construction), completing the curation-audit
    posture alongside the c4 disposition."""
    from etl_pack_spark.operators.cleaning import gopher_signals

    # r15: spread at query entry (per-row metrics; single-file input
    # otherwise runs the whole projection in one task)
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    out = gopher_signals(docs, "doc_id", "text")
    # size() is INT on Spark, len() BIGINT on DuckDB — align the schema
    return out.withColumn("n_words", F.col("n_words").cast("long")).withColumn(
        "stop_hits", F.col("stop_hits").cast("long")
    )


# fixed framing constants shared by the Spark query and its oracle
BM25_QUERY = "spark hash table merge"
# hybrid retrieval framing (r9): 3 seed docs, 20 candidates per arm,
# fused top-10 per query
HYBRID_K = 10
HYBRID_K_EACH = 20
MIXTURE_WEIGHTS = {
    # upweight src1, keep src2, thin src3, drop everything else
    "src1": 0.5,
    "src2": 0.3,
    "src3": 0.2,
}
# char budget for budget_select: strictly between 0 and the corpus
# total at every shipped sf (sf0.01 ≈ 150k chars, sf0.1 ≈ 1.5M), so
# the prefix cut is always non-trivial
BUDGET_CHARS = 50_000
N_SHARDS = 8


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (arXiv:2303.09540): cluster embeddings
    by nearest sampled centroid, drop rows with a lower-id cosine-0.4
    neighbor in their cluster (operators/similarity.py). Replaces the
    rows-only cluster_embeddings slot with an ORACLE-checked entry —
    the clustering stage (nearest-centroid assignment) is inside this
    op and hash-compared bit-exactly; the iterative KMeans path stays
    pytest-pinned (tests/test_similarity.py)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, nlist=16, threshold=0.4)


def q_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-substring detection (exact-substring dedup
    at fixed window k=5, arXiv:2107.06499 approximation): per doc the
    duplicated-window fraction + keep gate (operators/substrings.py).
    r6 rider: the EXCISION half — ``remove_repeated_spans`` cuts every
    non-canonical duplicated window from the text (keep-first
    semantics), so the slot now value-hashes the full Lee et al. op:
    detect AND remove."""
    from etl_pack_spark.operators.substrings import (
        remove_repeated_spans,
        repeated_ngram_spans,
    )

    docs = read_table(spark, sf_dir, "documents")
    report = repeated_ngram_spans(docs, k=5)
    cleaned = remove_repeated_spans(docs, k=5)
    return report.join(cleaned, "doc_id")


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quality selection: exact global best-score prefix
    under a char budget, computed distributed via quantile-range
    decomposition (operators/sampling.py) — no single-partition
    window. Score = doc length as a quality proxy (framing; any score
    column works), weight = n_chars."""
    from etl_pack_spark.operators.sampling import budget_select

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("score"), "n_chars"
    )
    return budget_select(
        docs, BUDGET_CHARS, score_col="score", weight_col="n_chars"
    )


# chunk_uid = doc_id * 2^20 + chunk_idx — single packable key per chunk
_CHUNK_SPAN = 1 << 20
PACK_BUDGET, PACK_SHARDS = 150, 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk -> PACK pipeline (r7: the slot gained sequence packing —
    operators/packing.py's greedy shard-local first-fit, driver-gated
    here because chunking and packing are one pipeline at the same
    chunk grain): 64-token windows with 16-token overlap, then each
    chunk assigned to a <=150-token training pack. Deterministic and
    engine-agnostic throughout (md5-h7 shard hash, sorted greedy fold),
    so the DuckDB twin replays the identical packing bit-for-bit."""
    from etl_pack_spark.operators.chunking import chunk_documents
    from etl_pack_spark.operators.packing import pack_sequences

    # r15: spread at query entry — chunking's tokenize+posexplode ran
    # single-task on the single-file fixture; chunk rows and the md5
    # packing shards are per-row/hash-deterministic, result unchanged
    docs = spread_small_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, overlap=16
    ).select(
        (F.col("doc_id") * _CHUNK_SPAN + F.col("chunk_idx")).alias("chunk_uid"),
        "n_chunk_tokens",
    )
    packed = pack_sequences(
        chunks, "chunk_uid", "n_chunk_tokens",
        budget=PACK_BUDGET, shards=PACK_SHARDS,
    )
    return packed.select(
        "chunk_uid",
        F.expr(f"chunk_uid DIV {_CHUNK_SPAN}").alias("doc_id"),
        F.expr(f"chunk_uid % {_CHUNK_SPAN}").alias("chunk_idx"),
        "n_chunk_tokens", "pack_id", "oversize",
    )


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffled-shard assignment for training-corpus
    export (sinks/sharding.py): md5-derived shard + order key,
    append-stable, map-only. The file-writing wrapper
    (write_shuffled_shards) is pytest-pinned; this gates the
    assignment arithmetic the files are built from."""
    from etl_pack_spark.sinks.sharding import shard_assign

    docs = read_table(spark, sf_dir, "documents")
    return shard_assign(docs, N_SHARDS).select("doc_id", "shard", "pos")


def q_minhash_match_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a new batch (doc_id % 5 == 0) matched
    against the persisted minhash signature store of the existing
    corpus (doc_id % 5 != 0) — signatures only, old text never
    rescanned (operators/neardup.py). The reference's incremental
    anti-join posture (etl.go:23-48) lifted from exact-hash to
    near-dup."""
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.tokenize import shingle_rows

    docs = read_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    # persisted (r16): the slot's declared posture is a PERSISTED
    # signature store — but the fixture fabricates it from text, and
    # unpersisted that minhash lineage executed three times (the
    # hot-bucket probe, the union banding, the verify join — measured
    # 3.3 s of the slot's 3.1-7.3 s build as ONE probe count): one
    # store-materialization pass is exactly what "persisted store"
    # means, and it is recomputed inside every timed invocation
    sig_old = pooled_persist(neardup.minhash_signature(
        shingle_rows(old, "doc_id", "text", 3, distinct=False), "doc_id"
    ))
    return neardup.minhash_match_incremental(new, sig_old, "doc_id", "text")


# ---------------------------------------------------------------------------
# Registry + oracles
# ---------------------------------------------------------------------------

# EXACTLY 50 entries: the round-1 driver recorded the first 50 queries
# in insertion order and silently skipped the rest, so the registry is
# consolidated to 50 composed queries with no coverage loss (merge map,
# also in SURVEY §2 / COVERAGE.md: t3_render→t1_datetime_roundtrip,
# h2_snapshot→h3_anti_join, dedup_simhash→dedup_simhash_pairs,
# text_repetition→text_quality, mm_decode_fake+mm_frame_sample→
# mm_decode_frames, mm_byte_histogram+mm_resize_fake→mm_features;
# round 3: p1_projection→p2_window (same projected scan),
# p3_order_limit→p4_page (order+limit both pinned there),
# agg_rollup→multires_rollup (grouping-sets family),
# text_langid+text_quality+text_tokens+text_fingerprint→text_signals
# (one-scan composition) — freeing slots for the round-2 operator
# families (retrieval, CDC, cleaning, contamination, mixture,
# components) to get driver-gated oracle rows;
# round 4: t2_widen+json_extract→t1_datetime_roundtrip (per-row cast /
# extraction family over one events scan), agg_quantiles→
# agg_pricing_summary (percentile agg rides the Q1 aggregation),
# mm_binary_meta→mm_features (metadata as featurizer passthrough,
# still map-only), dedup_exact_docs→corpus_curate (exact dedup is a
# stage of the curation plan) — freeing slots for the round-3 library
# operators (unigram LM, NB classifier, dedup_lines, rolling
# aggregates, gopher gates); round-4 wave 2: ppl_bucket_split→
# lib_unigram_logprob (bucketing rides the scoring pass, same grain),
# cluster_embeddings→semantic_dedup (clustering gated INSIDE SemDeDup
# with a bit-exact oracle — upgrades a rows-only slot to oracle-
# checked; KMeans pytest-pinned), set_except→retired (anti-join
# family pinned at h3_anti_join), kmv_distinct_sketch / text_vocab_topk
# / pivot_events / text_sentiment→retired — freeing slots for
# repeated_ngram_spans, budget_select, chunk_documents, shard_assign,
# minhash_match_incremental. A merged-away framing keeps a pytest
# DuckDB-parity pin in RETIRED_ORACLES below only while it is the sole
# oracle pin of a public entry point (MIGRATION r18 lists the others).
# Round 5 — five previously pytest-only operators gain driver-gated
# oracle rows by riding existing slots (no slot count change):
# html_strip + normalize_text ride c4_clean (same map-only projection
# over the survivors), domain_cap rides sample_stratified_docs (next
# pipeline stage), mad_outliers rides dq_profile_orders (per-priority
# outlier summary × the profile row), snapshot_diff rides cdc_scd2
# (reconcile_op annotation, I/U/D all live), and image_dhash +
# generic hamming_neardup_pairs ride dedup_simhash_pairs (binary
# modality union over a corpus-with-reingested-copies media table).
# Round 9: neardup_components' labeling is computed THROUGH the
# incremental update_clusters fold (the one-shot labeling has the same
# twin); bm25_search becomes the hybrid
# sparse⊕dense pipeline — batch BM25 + cosine top-k fused by RRF
# (single-query framing retired as bm25_search_plain).
QUERIES: dict[str, QueryFn] = {
    "p2_window": q_p2_window,
    "p4_page": q_p4_page,
    "h1_row_hash": q_h1_row_hash,
    "h3_anti_join": q_h3_anti_join,
    "t1_datetime_roundtrip": q_t1_datetime_roundtrip,
    "s1_scan": q_s1_scan,
    "s4_sink_roundtrip": q_s4_sink_roundtrip,
    "x4_incremental_load": q_x4_incremental_load,
    "stream_window_counts": q_stream_window_counts,
    "corpus_curate": q_corpus_curate,
    "minhash_match_incremental": q_minhash_match_incremental,
    "mm_decode_frames": q_mm_decode_frames,
    "mm_features": q_mm_features,
    "agg_pricing_summary": q_agg_pricing_summary,
    "join_revenue_by_nation": q_join_revenue_by_nation,
    "window_topk_orders": q_window_topk_orders,
    "multires_rollup": q_multires_rollup,
    "budget_select": q_budget_select,
    "asof_purchase_view": q_asof_purchase_view,
    "range_click_in_signup_hour": q_range_click_in_signup_hour,
    "tpch_q3_like": q_tpch_q3_like,
    "tpch_q5_like": q_tpch_q5_like,
    "chunk_documents": q_chunk_documents,
    "semantic_dedup": q_semantic_dedup,
    "sessionize": q_sessionize,
    "shard_assign": q_shard_assign,
    "repeated_ngram_spans": q_repeated_ngram_spans,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "neardup_embedding": q_neardup_embedding,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_neardup": q_ann_lsh_neardup,
    "ann_ivf_topk": q_ann_ivf_topk,
    "sample_stratified_docs": q_sample_stratified_docs,
    "split_documents": q_split_documents,
    "text_signals": q_text_signals,
    "text_redact_pii": q_text_redact_pii,
    "dq_profile_orders": q_dq_profile_orders,
    "bm25_search": q_bm25_search,
    "cdc_scd2": q_cdc_scd2,
    "c4_clean": q_c4_clean,
    "contamination_eval": q_contamination_eval,
    "mixture_resample": q_mixture_resample,
    "neardup_components": q_neardup_components,
    "lib_unigram_logprob": q_lib_unigram_logprob,
    "lib_nb_classifier": q_lib_nb_classifier,
    "lib_dedup_lines": q_lib_dedup_lines,
    "lib_rolling_aggregate": q_lib_rolling_aggregate,
    "gopher_signals": q_gopher_signals,
}

_CUSTOMER_HASH = row_hash_sql(CUSTOMER_COLS)
_LINEITEM_TS = {"l_shipdate"}
_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]
_LINEITEM_HASH = row_hash_sql(_LINEITEM_COLS, ts_cols=_LINEITEM_TS)

ORACLES: dict[str, str] = {
    "p2_window": f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '{WIN_LO}' AND TIMESTAMP '{WIN_HI}'
    """,
    "p4_page": """
        SELECT l_orderkey, l_linenumber FROM lineitem
        ORDER BY l_orderkey, l_linenumber LIMIT 50
    """,
    "h1_row_hash": f"SELECT c_custkey, {_CUSTOMER_HASH} AS row_h FROM customer",
    "h3_anti_join": f"""
        SELECT * FROM customer
        WHERE {_CUSTOMER_HASH} NOT IN (
            SELECT {_CUSTOMER_HASH} FROM customer WHERE c_custkey % 2 = 0
        )
    """,
    "t1_datetime_roundtrip": """
        SELECT event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_wire,
               strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_norm,
               '''' || replace(event_type, '''', '''''') || '''' AS str_literal,
               CAST(value AS VARCHAR) AS num_literal,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date_wire,
               strftime(CAST(ts AS DATE) + INTERVAL 7 DAY, '%Y-%m-%d') AS date_plus7,
               CAST(CAST(event_id AS DECIMAL(20,0)) AS VARCHAR) AS id_u64,
               CAST(user_id AS INTEGER) AS user_u16,
               CAST(value AS DOUBLE) AS value_f64,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS props_k
        FROM events
    """,
    "s1_scan": "SELECT * FROM nation",
    "s4_sink_roundtrip": f"""
        SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '{WIN_LO}' AND TIMESTAMP '{WIN_HI}'
    """,
    "x4_incremental_load": f"""
        WITH src AS (
            SELECT * FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '{WIN_LO}' AND TIMESTAMP '{WIN_HI}'
        )
        SELECT * FROM src
        WHERE {_LINEITEM_HASH} NOT IN (
            SELECT {_LINEITEM_HASH} FROM src WHERE l_orderkey % 4 != 3
        )
    """,
    # events.ts is TIMESTAMP_NS in DuckDB but microseconds in Spark —
    # cast to plain TIMESTAMP (us, truncating like the Spark-side
    # `ts div 1000` rebuild) so output timestamp types line up
    "stream_window_counts": """
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "agg_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS price_q25,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS price_q50,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS price_q99
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1997-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "join_revenue_by_nation": """
        SELECT n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "window_topk_orders": """
        SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders
        ) WHERE rk <= 3
    """,
    "multires_rollup": """
        WITH b AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
                   value
            FROM events
        )
        SELECT day, hour,
               CASE WHEN hour IS NULL THEN 'day' ELSE 'hour' END AS res,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM b
        GROUP BY GROUPING SETS ((day, hour), (day))
    """,
    "asof_purchase_view": """
        WITH l AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase'
        ),
        r AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS view_id
            FROM events WHERE event_type = 'view' GROUP BY 1, 2
        )
        SELECT l.event_id, l.user_id, l.ts, r.ts AS view_ts, r.view_id
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "range_click_in_signup_hour": """
        WITH c AS (
            SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        s AS (
            SELECT event_id AS signup_id,
                   CAST(ts AS TIMESTAMP) AS start_ts,
                   CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS end_ts
            FROM events WHERE event_type = 'signup'
        )
        SELECT click_id, signup_id, click_ts
        FROM c JOIN s ON click_ts BETWEEN start_ts AND end_ts
    """,
    "tpch_q3_like": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    "tpch_q5_like": """
        SELECT r_name, n_name,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 23:59:59'
        GROUP BY r_name, n_name
    """,
    "sessionize": """
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        ),
        m AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        i AS (
            SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS island
            FROM m
        )
        SELECT user_id,
               MIN(ts) AS sess_start,
               MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM i GROUP BY user_id, island
    """,
    "dedup_minhash_lsh": neardup.minhash_lsh_dedup_pairs_sql("documents", "doc_id", "text"),
    "dedup_ngram_jaccard": neardup.ngram_jaccard_pairs_sql("documents", "doc_id", "text"),
    # r5 merge: text simhash pairs + binary (md5-prefix fake dHash)
    # hamming pairs over the corpus-with-reingested-copies media table
    "dedup_simhash_pairs": f"""
        SELECT id_a, id_b, hamming, 'text' AS modality
        FROM ({neardup.simhash_neardup_pairs_sql("documents", "doc_id", "text")})
        UNION ALL
        SELECT id_a, id_b, hamming, 'binary' AS modality
        FROM ({neardup.hamming_neardup_pairs_sql(
            '''SELECT doc_id AS media_id, substr(md5(text), 1, 16) AS dhash
               FROM (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 1000000 AS doc_id, text FROM documents
                     WHERE doc_id % 50 = 0)
               WHERE octet_length(encode(text)) > 0''',
            "media_id", "dhash")})
    """,
    "neardup_embedding": similarity.cosine_neardup_pairs_sql("embeddings", threshold=0.4),
    "ann_cosine_topk": similarity.cosine_topk_sql("embeddings", "vec_id < 50"),
    # "approximate" = sub-unit recall, NOT nondeterminism: the md5
    # hyperplanes + left-fold sums replicate bit-exactly (r4)
    "ann_lsh_neardup": similarity.lsh_neardup_pairs_sql(
        "embeddings", dims=64, planes=4, tables=6, threshold=0.4
    ),
    # r6 merge: IVF-flat + the full IVF-PQ pipeline (Lloyd training
    # unrolled in SQL) in one slot, distinguished by `method`
    "ann_ivf_topk": f"""
        SELECT q_id, n_id, round(cos_sim, 6) AS score, rk,
               'ivf_flat' AS method
        FROM ({similarity.ivf_topk_sql("embeddings")})
        UNION ALL
        SELECT q_id, n_id, round(adc_dist, 6) AS score, rk,
               'ivf_pq' AS method
        FROM ({_quantize.ivf_pq_topk_sql("embeddings", 64)})
    """,
    # r5 merge: domain_cap (two-phase top-N vs the oracle's naive
    # global window) rides the stratified sample
    "sample_stratified_docs": sampling.domain_cap_sql(
        f"""({sampling.stratified_sample_sql(
            "documents", "doc_id", "lang", SAMPLE_FRACTIONS,
            select="doc_id, lang, source, n_chars",
        )})""",
        "doc_id", "source", score_col="n_chars", max_per_domain=10,
    ),
    "split_documents": sampling.grouped_split_sql(
        "(SELECT doc_id, lang FROM documents)",
        f"SELECT id_a, id_b FROM ({neardup.simhash_neardup_pairs_sql('documents', 'doc_id', 'text')})",
        select="d.doc_id, d.lang",
    ),
    "text_signals": textops.text_signals_sql("documents", "doc_id", "text"),
    "text_redact_pii": textops.redact_pii_sql("documents", "doc_id", "text"),
    # r6 merge: URL-keyed crawl dedup is the pipeline's first stage;
    # the oracle recomputes the EXPECTED canonical form of the
    # synthesized URLs directly (scheme→https, www/port/slash/tracking
    # noise gone, params sorted) — golden canonicalization at corpus
    # scale — and keeps the min-doc_id winner per canonical URL.
    # r11 merge: disposition grain — URL-dedup losers get
    # drop_stage='url_dup', winners flow through the curate
    # disposition twin; every document gets exactly one verdict row
    "corpus_curate": f"""
        WITH uu AS (
            SELECT doc_id, lang,
                   'https://' || source || '.example.com/p/'
                   || CAST(doc_id % 200 AS VARCHAR)
                   || '?id=' || CAST(doc_id % 2 AS VARCHAR) AS canonical_url
            FROM documents
        ),
        keep AS (
            SELECT canonical_url, min(doc_id) AS doc_id
            FROM uu GROUP BY canonical_url
        ),
        base AS (
            SELECT d.doc_id, d.text, d.lang
            FROM keep k JOIN documents d USING (doc_id)
        )
        SELECT u.doc_id, u.lang, 'url_dup' AS drop_stage,
               CAST(NULL AS VARCHAR) AS split, u.canonical_url,
               k.doc_id AS dup_of
        FROM uu u JOIN keep k USING (canonical_url)
        WHERE u.doc_id <> k.doc_id
        UNION ALL
        SELECT c.doc_id, c.lang, c.drop_stage, c.split, u2.canonical_url,
               c.dup_of
        FROM ({curate_disposition_sql('base')}) c
        JOIN uu u2 USING (doc_id)
    """,
    # r5 merge: MAD outlier summary (exact-percentile variant) × the
    # one-row profile; r6 merge: × the one-row column-level PII
    # exposure profile over documents (cross join all three).
    # r12: the drift batch slice filters on the RECOMPUTED n_chars
    # (signals subquery), exactly like the Spark side's
    # sig.where(n_chars < 500) — the stored documents.n_chars column
    # only coincidentally equals length(text) on this fixture
    # (r11 VERDICT #4)
    "dq_profile_orders": f"""
        SELECT s.*, p.*, pp.*, dd.*, card.* FROM (
            SELECT o_orderpriority, COUNT(*) AS n_vals,
                   CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_outliers,
                   round(max(robust_z), 6) AS max_robust_z
            FROM ({mad_outliers_sql(
                "(SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS price FROM orders)",
                "price", ["o_orderpriority"])})
            GROUP BY 1
        ) s CROSS JOIN ({profile_sql("orders", DQ_COLS, DQ_NUM)}) p
        CROSS JOIN (
            SELECT * EXCLUDE (n_rows), n_rows AS pii_n_docs
            FROM ({pii_profile_sql("documents", PII_PROFILE_COLS)})
        ) pp
        CROSS JOIN (
            SELECT round(max(psi), 9) AS drift_max_psi,
                   CAST(SUM(CASE WHEN verdict = 'major' THEN 1 ELSE 0 END)
                        AS BIGINT) AS drift_n_major
            FROM ({psi_report_sql(
                signal_histogram_sql(
                    textops.text_signals_sql("documents", "doc_id", "text")),
                signal_histogram_sql(
                    "SELECT * FROM ("
                    + textops.text_signals_sql("documents", "doc_id", "text")
                    + ") WHERE n_chars < 500"),
            )})
        ) dd
        CROSS JOIN (
            SELECT n_docs AS card_n_docs,
                   n_null_text AS card_n_null_text,
                   n_tokens_total AS card_n_tokens_total,
                   n_chars_total AS card_n_chars_total,
                   tokens_p50 AS card_tokens_p50,
                   tokens_p90 AS card_tokens_p90,
                   tokens_p99 AS card_tokens_p99,
                   avg_stopword_ratio AS card_stopword_ratio,
                   avg_repetition AS card_repetition,
                   lang_match_frac AS card_lang_match_frac
            FROM ({corpus_datacard_sql("documents")})
            WHERE is_total = 1
        ) card
    """,
    # mm_features: the Arrow featurizer's fake path is a deterministic
    # function of the UTF-8 payload, so the DuckDB twin recomputes the
    # 16-bucket histogram (high nibble of each byte = odd hex chars) and
    # the 8x8 nearest-neighbor thumbnail (indexed hex pairs) from
    # hex(encode(text)) and compares the same canonical renderings.
    "mm_features": """
        WITH nz AS (
            SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n
            FROM documents
            WHERE octet_length(encode(text)) > 0
        ),
        dims AS (
            SELECT media_id, n,
                   16 + n % 64 AS w, 16 + (n // 64) % 64 AS h
            FROM nz
        ),
        nib AS (
            SELECT media_id,
                   strpos('0123456789ABCDEF', substr(hx, 2 * i + 1, 1)) - 1 AS bucket
            FROM (SELECT media_id, hx, unnest(generate_series(0, n - 1)) AS i FROM nz)
        ),
        hist AS (
            SELECT media_id, bucket, count(*) AS c FROM nib GROUP BY 1, 2
        ),
        hist_csv AS (
            SELECT d.media_id,
                   string_agg(CAST(coalesce(h.c, 0) AS VARCHAR), ',' ORDER BY g.b) AS hist_csv
            FROM dims d
            CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) g
            LEFT JOIN hist h ON h.media_id = d.media_id AND h.bucket = g.b
            GROUP BY 1
        ),
        idx AS (
            SELECT d.media_id, ij.k,
                   (((ij.k // 8) * d.h // 8) * d.w + ((ij.k % 8) * d.w // 8)) % d.n AS pos
            FROM dims d
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) ij
        ),
        thumb AS (
            SELECT i.media_id,
                   lower(string_agg(substr(nz.hx, 2 * i.pos + 1, 2), '' ORDER BY i.k)) AS thumb_hex
            FROM idx i JOIN nz ON nz.media_id = i.media_id
            GROUP BY 1
        )
        SELECT d.media_id,
               CAST(d.n AS BIGINT) AS n_bytes,
               CAST(d.w AS INTEGER) AS src_w,
               CAST(d.h AS INTEGER) AS src_h,
               hc.hist_csv, t.thumb_hex,
               'text/plain' AS mime,
               lower(substr(nz.hx, 1, 16)) AS magic_hex
        FROM dims d
        JOIN nz ON nz.media_id = d.media_id
        JOIN hist_csv hc ON hc.media_id = d.media_id
        JOIN thumb t ON t.media_id = d.media_id
        UNION ALL
        -- empty/NULL payloads: the featurizer emits the row with
        -- n_bytes=0 and NULL features rather than dropping it; the
        -- passthrough meta keeps binarize's semantics (mime is a
        -- literal; magic of an EMPTY payload is '', of NULL is NULL)
        SELECT doc_id AS media_id, CAST(0 AS BIGINT) AS n_bytes,
               CAST(NULL AS INTEGER) AS src_w, CAST(NULL AS INTEGER) AS src_h,
               CAST(NULL AS VARCHAR) AS hist_csv, CAST(NULL AS VARCHAR) AS thumb_hex,
               'text/plain' AS mime,
               CASE WHEN text IS NULL THEN CAST(NULL AS VARCHAR) ELSE '' END AS magic_hex
        FROM documents
        WHERE text IS NULL OR octet_length(encode(text)) = 0
    """,
    "mm_decode_frames": """
        SELECT media_id,
               CAST(16 + n % 64 AS INTEGER) AS width,
               CAST(16 + (n // 64) % 64 AS INTEGER) AS height,
               3 AS channels,
               CAST(u AS INTEGER) AS frame_idx,
               CAST(u * 64 AS BIGINT) AS "offset"
        FROM (
            SELECT doc_id AS media_id, octet_length(encode(text)) AS n,
                   unnest(generate_series(0, (octet_length(encode(text)) - 1) // 64)) AS u
            FROM documents
            WHERE octet_length(encode(text)) > 0
        )
    """,
    # round-6 on BOTH engines: per-term contributions are bit-identical
    # r9: the slot is the HYBRID pipeline — batch BM25 (per-query
    # ranking by round(score,6) so the few-term ln-sum's last ulp can't
    # flip a rank) ⊕ cosine top-k, fused by RRF (two-term double sum,
    # rounded to 9 dp on both engines)
    "bm25_search": retrieval_rrf_fuse_sql(
        {
            "bm25": (
                retrieval_bm25_batch_sql(
                    "documents",
                    "(SELECT doc_id AS q_id, text FROM documents WHERE doc_id < 3)",
                    "doc_id", "text", k=HYBRID_K_EACH, exclude_self=True,
                ),
                "q_id", "id", "rk",
            ),
            "dense": (
                similarity.cosine_topk_sql(
                    "embeddings", "vec_id < 3", k=HYBRID_K_EACH
                ),
                "q_id", "n_id", "rk",
            ),
        },
        k=HYBRID_K,
    ),
    # r5 merge: each SCD-2 history row annotated with its key's I/U/D
    # from the snapshot reconciliation (snapshot_diff's oracle twin is
    # deliberately the full-outer-join formulation)
    "cdc_scd2": f"""
        WITH hist AS ({scd2_build_sql(
            "SELECT user_id, event_type, ts, value FROM events",
            ["user_id", "event_type"],
            "ts",
            rest_cols=["value"],
        )}),
        snap_old AS (
            SELECT user_id, event_type, max(value) AS v, count(*) AS n
            FROM events
            WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '{SNAP_CUT}'
              AND user_id % 10 <> 0
            GROUP BY 1, 2
        ),
        snap_new AS (
            SELECT user_id, event_type, max(value) AS v, count(*) AS n
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{SNAP_LO}'
              AND user_id % 10 <> 3
            GROUP BY 1, 2
        ),
        d AS ({snapshot_diff_sql(
            "SELECT * FROM snap_old", "SELECT * FROM snap_new",
            ["user_id", "event_type"], ["v", "n"],
        )})
        SELECT hist.*, d.op AS reconcile_op
        FROM hist LEFT JOIN d
          ON hist.user_id = d.user_id AND hist.event_type = d.event_type
    """,
    # r5 merge: HTML extraction + NFC normalization ride the survivors;
    # r10 rider: full per-doc disposition grain (drop_stage, all docs)
    "c4_clean": f"""
        WITH base AS ({c4_disposition_sql(
            "documents", "doc_id", "text",
            min_words=30, min_lines=1, badwords=["slow"], require_terminal=False,
        )})
        SELECT id, drop_stage, text_clean, n_lines, n_kept,
               CASE WHEN drop_stage IS NULL THEN
                 COALESCE(array_to_string({html_clean_lines_sql("text_clean")},
                                          chr(10)), '')
               END AS text_stripped,
               CASE WHEN drop_stage IS NULL THEN
                 {normalize_text_expr_sql("text_clean")}
               END AS text_norm
        FROM base
    """,
    # r9: eval-item grain (per-eval-doc contaminated fraction)
    "contamination_eval": eval_contamination_sql(
        "(SELECT * FROM documents WHERE doc_id % 10 <> 7)",
        "(SELECT * FROM documents WHERE doc_id % 10 = 7)",
        n=8,
    ),
    "mixture_resample": sampling.mixture_resample_sql(
        "documents", "doc_id", "source", MIXTURE_WEIGHTS,
        select="doc_id, source, lang",
    ),
    # r8 rider: the quality-aware survivor pick (keep the longest copy
    # per cluster, min-id tie-break — cluster_dedup's survivor_by rule:
    # score = coalesce(cast double, -inf), winners = min id among
    # max-score members) rides the cluster labeling, same grain +1 col
    "neardup_components": f"""
        WITH cc AS ({connected_components_sql(
            neardup.simhash_neardup_pairs_sql("documents", "doc_id", "text")
        )}),
        m AS (
            SELECT cc.id, cc.cluster_id,
                   COALESCE(CAST(d.n_chars AS DOUBLE),
                            CAST('-inf' AS DOUBLE)) AS s
            FROM cc JOIN documents d ON d.doc_id = cc.id
        ),
        best AS (
            SELECT cluster_id, max(s) AS b FROM m GROUP BY cluster_id
        ),
        win AS (
            SELECT m.cluster_id, min(m.id) AS win_id
            FROM m JOIN best ON m.cluster_id = best.cluster_id AND m.s = best.b
            GROUP BY m.cluster_id
        )
        SELECT m.id AS doc_id, m.cluster_id, (m.id = w.win_id) AS survived
        FROM m JOIN win w ON m.cluster_id = w.cluster_id
    """,
    # round-6 on both engines BEFORE the percentile cutoffs: ln() is
    # libm-dependent (±1 ulp); counts and everything integer-derived
    # are exact (r4 merge: ppl bucketing rides the scoring pass;
    # r6 rider: the interpolated-bigram score, rounded like the rest)
    "lib_unigram_logprob": f"""
        WITH uni AS ({textops.ppl_bucket_split_sql("documents", "doc_id", "text")}),
        bi AS (
            SELECT doc_id, round(mean_logprob, 6) AS mean_logprob_bi
            FROM ({textops.bigram_logprob_sql("documents", "doc_id", "text")})
        )
        SELECT u.*, b.mean_logprob_bi FROM uni u LEFT JOIN bi b USING (doc_id)
    """,
    "lib_nb_classifier": f"""
        SELECT id, round(score, 6) AS score, pred
        FROM ({nb_train_score_sql("documents", "doc_id", "text", "n_chars > 250")})
    """,
    "lib_dedup_lines": dedup_lines_sql("documents", "doc_id", "text"),
    # sum_window rounded: RANGE-frame double summation order is
    # engine-internal; ts cast to us-precision TIMESTAMP (the Spark
    # reader truncates parquet nanos the same way)
    "lib_rolling_aggregate": f"""
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, n_window,
               round(sum_window, 6) AS sum_window, min_window, max_window
        FROM ({rolling_aggregate_sql("events", "user_id", "ts", "value")})
    """,
    "gopher_signals": gopher_signals_sql("documents", "doc_id", "text"),
    "semantic_dedup": similarity.semantic_dedup_sql(
        "embeddings", nlist=16, threshold=0.4
    ),
    "repeated_ngram_spans": f"""
        SELECT r.*, c.clean_text, c.n_tokens, c.n_removed_tokens
        FROM ({_repeated_ngram_spans_sql("documents", k=5)}) r
        JOIN ({_remove_repeated_spans_sql("documents", k=5)}) c
        USING (doc_id)
    """,
    "budget_select": sampling.budget_select_sql(
        "(SELECT doc_id, CAST(n_chars AS DOUBLE) AS score, n_chars FROM documents)",
        BUDGET_CHARS, score_col="score", weight_col="n_chars",
    ),
    # r7: the slot is the chunk -> pack pipeline; the packing twin
    # replays the greedy shard-local fold as a recursive CTE
    "chunk_documents": f"""
        SELECT chunk_uid, chunk_uid // {_CHUNK_SPAN} AS doc_id,
               chunk_uid % {_CHUNK_SPAN} AS chunk_idx,
               n_chunk_tokens, pack_id, oversize
        FROM ({_pack_sequences_sql(
            f'''(SELECT doc_id * {_CHUNK_SPAN} + chunk_idx AS chunk_uid,
                        n_chunk_tokens
                 FROM ({_chunk_documents_sql(
                     "documents", "doc_id", "text",
                     chunk_tokens=64, overlap=16)}))''',
            "chunk_uid", "n_chunk_tokens",
            budget=PACK_BUDGET, shards=PACK_SHARDS)})
    """,
    "shard_assign": f"""
        SELECT doc_id, shard, pos
        FROM ({_shard_assign_sql("documents", N_SHARDS)})
    """,
    "minhash_match_incremental": neardup.minhash_match_incremental_sql(
        "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "doc_id", "text",
    ),
}

# Former registry-slot oracles of merged-away registry entries. A
# framing stays here only while it is the sole oracle pin of a public
# entry point (or the headline bench times it); each (query, oracle)
# pair is pinned by tests/test_registry_merges.py with the same DuckDB
# hash-parity compare as tools/check_oracle.py. A framing whose behaviour a
# live slot or an operator test already pins does not belong here.
RETIRED_QUERIES: dict[str, QueryFn] = {
    # media_metadata's only oracle pin
    "mm_binary_meta": q_mm_binary_meta,
    # exact_dedup and the anti-join set op; both oracles are also run
    # verbatim on spark.sql by tests/test_sql_surface.py
    "dedup_exact_docs": q_dedup_exact_docs,
    "set_except": q_set_except,
    # lexicon_sentiment: a headline bench query
    "text_sentiment": q_text_sentiment,
    # curate_corpus, the survivor-grain entry point (the live slot runs
    # the disposition grain)
    "corpus_curate_plain": q_corpus_curate_plain,
    # ivf_topk's default IVF-flat assignment with unrounded cosine (the
    # live slot rounds to absorb the PQ rider's ulp)
    "ann_ivf_flat": lambda spark, sf_dir: similarity.ivf_topk(
        read_table(spark, sf_dir, "embeddings")
    ),
    # single-query bm25_topk (the live slot runs the batch hybrid)
    "bm25_search_plain": q_bm25_search_plain,
    # dedup_by_url -> curate_corpus at corpus scale, survivors only
    "corpus_curate_kept": q_corpus_curate_kept,
}

RETIRED_ORACLES: dict[str, str] = {
    "mm_binary_meta": """
        SELECT doc_id AS media_id, 'text/plain' AS mime,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               lower(substr(hex(encode(text)), 1, 16)) AS magic_hex
        FROM documents
    """,
    "dedup_exact_docs": """
        SELECT min(doc_id) AS doc_id FROM documents
        GROUP BY md5(lower(coalesce(text, '')))
    """,
    "set_except": """
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    """,
    "text_sentiment": textops.lexicon_sentiment_sql("documents", "doc_id", "text"),
    "corpus_curate_plain": curate_corpus_sql("documents"),
    "ann_ivf_flat": similarity.ivf_topk_sql("embeddings"),
    "bm25_search_plain": f"""
        SELECT id, round(score, 6) AS score
        FROM ({bm25_topk_sql("documents", "doc_id", "text", BM25_QUERY, k=20)})
    """,
    "corpus_curate_kept": f"""
        WITH uu AS (
            SELECT doc_id,
                   'https://' || source || '.example.com/p/'
                   || CAST(doc_id % 200 AS VARCHAR)
                   || '?id=' || CAST(doc_id % 2 AS VARCHAR) AS canonical_url
            FROM documents
        ),
        keep AS (
            SELECT canonical_url, min(doc_id) AS doc_id
            FROM uu GROUP BY canonical_url
        ),
        base AS (
            SELECT d.doc_id, d.text, d.lang
            FROM keep k JOIN documents d USING (doc_id)
        )
        SELECT c.doc_id, c.lang, c.split, k2.canonical_url
        FROM ({curate_corpus_sql('base')}) c
        JOIN keep k2 USING (doc_id)
    """,
}
