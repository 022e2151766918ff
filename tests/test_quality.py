"""Data-quality expectations + PII redaction + repetition signal."""

from __future__ import annotations

from etl_pack_spark.operators import textops
from etl_pack_spark.operators.quality import (
    expect,
    expect_between,
    expect_no_nulls,
    expect_unique,
    profile,
)
from etl_pack_spark.sources.reader import read_table


def test_expectations_one_pass(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    res = expect(orders, {
        "key_unique": expect_unique("o_orderkey"),
        "key_not_null": expect_no_nulls("o_orderkey"),
        "price_positive": expect_between("o_totalprice", 0, 10_000_000),
        "price_tiny": expect_between("o_totalprice", 0, 10),  # should fail
    })
    assert res["key_unique"] and res["key_not_null"] and res["price_positive"]
    assert not res["price_tiny"]


def test_profile_shape(spark, sf_dir):
    p = profile(read_table(spark, sf_dir, "orders"), ["o_custkey"], ["o_totalprice"]).first()
    assert p["n_rows"] == p["nn_o_custkey"]  # no nulls in fixture
    assert p["min_o_totalprice"] > 0 < p["max_o_totalprice"]


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
         (2, "card 4242-4242-4242-4242 expires soon"),
         (3, "nothing sensitive here")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in textops.redact_pii(df, "doc_id", "text").collect()}
    assert rows[1]["n_email"] == 1 and "<email>" in rows[1]["redacted"]
    assert rows[1]["n_phone"] >= 1 and "<phone>" in rows[1]["redacted"]
    assert rows[2]["n_card"] == 1 and "<card>" in rows[2]["redacted"]
    assert "4242" not in rows[2]["redacted"]
    assert rows[3]["redacted"] == "nothing sensitive here"


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),
         (2, "eight totally different words appear right here now")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in
            textops.quality_signals(df, "doc_id", "text").collect()}
    assert rows[1]["repetition"] > 0.8   # 6 identical 3-grams
    assert rows[2]["repetition"] == 0.0  # all 3-grams unique


class TestMadOutliers:
    def test_flags_planted_outlier_not_spread(self, spark):
        from etl_pack_spark.operators.quality import mad_outliers

        rows = [(i, "g", float(v)) for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 500])]
        df = spark.createDataFrame(rows, "id long, g string, v double")
        out = {r["id"]: r["is_outlier"] for r in mad_outliers(df, "v", ["g"]).collect()}
        assert out[7] is True
        assert all(not out[i] for i in range(7))

    def test_constant_group_flags_nothing(self, spark):
        from etl_pack_spark.operators.quality import mad_outliers

        df = spark.createDataFrame(
            [(i, 5.0) for i in range(10)] + [(99, None)], "id long, v double"
        )
        out = mad_outliers(df, "v").collect()
        assert all(not r["is_outlier"] for r in out)
        assert len(out) == 11                 # NULL row kept, unflagged

    def test_oracle_parity_grouped_fixture(self, spark, sf_dir):
        from etl_pack_spark.operators.quality import mad_outliers, mad_outliers_sql
        from etl_pack_spark.oracle import duck_connect
        from etl_pack_spark.sources.reader import read_table

        from pyspark.sql import functions as F

        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", F.col("value").cast("double").alias("value")
        )
        got = sorted(
            (r["event_id"], r["is_outlier"],
             None if r["robust_z"] is None else round(r["robust_z"], 9))
            for r in mad_outliers(
                ev, "value", ["event_type"], accuracy=None
            ).collect()
        )
        want = sorted(
            (r[0], r[2], None if r[1] is None else round(r[1], 9))
            for r in duck_connect(sf_dir).execute(mad_outliers_sql(
                "(SELECT event_id, event_type, CAST(value AS DOUBLE) AS value FROM events)",
                "value", ["event_type"], select="event_id",
            )).fetchall()
        )
        assert got == want
        assert len(got) > 0 and any(o for _, o, _ in got)


def test_mad_outliers_null_group_keys_kept(spark):
    """Review regression: NULL group keys must survive (null-safe join)
    and be scored as their own group — matching PARTITION BY."""
    from etl_pack_spark.operators.quality import mad_outliers

    rows = [(i, None if i < 8 else "g", float(v))
            for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 500, 1, 2])]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r["id"]: r["is_outlier"] for r in mad_outliers(df, "v", ["g"]).collect()}
    assert len(out) == 10                  # nothing dropped
    assert out[7] is True                  # outlier within the NULL group
    assert all(not out[i] for i in (0, 8, 9))


def test_mad_outliers_approx_default_matches_exact_flags(spark, sf_dir):
    """The scale default (percentile_approx sketch) must produce the
    same flag set as the exact aggregate on the fixture, and its plan
    must contain the approx aggregate, not exact percentile."""
    from pyspark.sql import functions as F

    from etl_pack_spark.operators.quality import mad_outliers

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    approx = mad_outliers(ev, "value", ["event_type"])
    plan = approx._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_percentile" in plan or "percentile_approx" in plan
    assert "percentile(" not in plan.replace("approx_percentile(", "")
    a = {r["event_id"]: r["is_outlier"] for r in approx.collect()}
    e = {
        r["event_id"]: r["is_outlier"]
        for r in mad_outliers(ev, "value", ["event_type"], accuracy=None).collect()
    }
    assert a == e and any(a.values())


def test_profile_approx_distinct(spark, sf_dir):
    """HLL profile variant: bounded sketch state, counts within rsd of
    exact on the fixture."""
    orders = read_table(spark, sf_dir, "orders")
    exact = profile(orders, ["o_custkey"], ["o_totalprice"]).first()
    appr = profile(
        orders, ["o_custkey"], ["o_totalprice"], approx_distinct=True
    ).first()
    assert abs(appr["nd_o_custkey"] - exact["nd_o_custkey"]) \
        <= 0.15 * exact["nd_o_custkey"]
    assert appr["n_rows"] == exact["n_rows"]


def test_pii_profile_counts_and_oracle_twin(spark):
    from etl_pack_spark.operators.quality import pii_profile, pii_profile_sql

    rows = [
        (1, "mail me at a@b.com", "clean"),
        (2, "card 4242-4242-4242-4242", "call +1 (555) 123-4567 now"),
        (3, None, "also clean"),
        (4, "two mails x@y.org and z@w.io", "clean"),
    ]
    df = spark.createDataFrame(rows, "id long, notes string, extra string")
    got = pii_profile(df, ["notes", "extra"]).first().asDict()
    assert got["n_rows"] == 4
    assert got["pii_email_notes"] == 2          # rows 1 and 4 (row-level)
    assert got["pii_card_notes"] == 1
    assert got["pii_phone_extra"] == 1
    assert got["pii_email_extra"] == 0
    assert got["pii_email_frac_notes"] == 0.5

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id BIGINT, notes VARCHAR, extra VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = dict(zip(
        [d[0] for d in con.execute(pii_profile_sql("t", ["notes", "extra"])).description],
        con.execute(pii_profile_sql("t", ["notes", "extra"])).fetchone(),
    ))
    assert {k: got[k] for k in want} == want


class TestQualityDrift:
    """r11: PSI-based ingest drift monitoring (quality_drift) — fixed
    deterministic bucket edges, DuckDB-twinned, NULLs classified."""

    def test_identical_corpora_have_zero_psi(self, spark, sf_dir):
        from etl_pack_spark.operators.quality import quality_drift
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        out = {r["signal"]: r for r in
               quality_drift(docs, docs, "doc_id", "text").collect()}
        assert set(out) == {"n_tokens", "avg_token_len",
                            "stopword_ratio", "repetition", "lang_pred"}
        for r in out.values():
            assert r["psi"] == 0.0 and r["verdict"] == "stable"

    def test_planted_shift_flags_only_the_moved_signal(self, spark, sf_dir):
        """Truncating every document moves the n_tokens distribution
        (major) while a genuinely unrelated signal stays calmer — and
        the verdict thresholds fire in severity order."""
        from pyspark.sql import functions as F

        from etl_pack_spark.operators.quality import quality_drift
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        truncated = docs.withColumn("text", F.substring("text", 1, 40))
        out = {r["signal"]: r for r in
               quality_drift(docs, truncated, "doc_id", "text").collect()}
        assert out["n_tokens"]["verdict"] == "major"
        assert out["n_tokens"]["psi"] > out["stopword_ratio"]["psi"]

    def test_language_mix_shift_is_categorical_drift(self, spark, sf_dir):
        """r11: lang_pred is a categorical drift signal — a batch
        restricted to one predicted language flags a major language-mix
        shift even when the numeric signals barely move."""
        from pyspark.sql import functions as F

        from etl_pack_spark.operators.quality import quality_drift
        from etl_pack_spark.operators.textops import text_signals
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        # batch = only the docs the language-ID calls German
        de_ids = text_signals(docs, "doc_id", "text").where(
            F.col("lang_pred") == "de"
        ).select("doc_id")
        batch = docs.join(de_ids, "doc_id", "left_semi")
        assert batch.count() > 0
        out = {r["signal"]: r for r in
               quality_drift(docs, batch, "doc_id", "text").collect()}
        assert out["lang_pred"]["verdict"] == "major"

    def test_null_text_lands_in_its_own_bucket(self, spark):
        """A drifting NULL rate IS drift: NULLs bucket to -1 and a
        batch full of them must flag, not vanish through three-valued
        predicates."""
        from etl_pack_spark.operators.quality import quality_drift

        base = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog " * 5)
             for i in range(50)],
            "doc_id long, text string",
        )
        broken = spark.createDataFrame(
            [(i, None) for i in range(50)], "doc_id long, text string"
        )
        out = {r["signal"]: r for r in
               quality_drift(base, broken, "doc_id", "text").collect()}
        assert all(r["verdict"] == "major" for r in out.values())

    def test_histogram_conservation_and_oracle_parity(self, spark, sf_dir):
        """Per-signal bucket counts sum to the corpus size, and the
        whole drift report hash-matches the DuckDB twin (PSI rounded
        to 9 dp on both engines)."""
        import duckdb
        from pyspark.sql import functions as F

        from etl_pack_spark.operators.quality import (
            quality_drift,
            quality_drift_sql,
            signal_histogram,
        )
        from etl_pack_spark.operators.textops import text_signals
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        n = docs.count()
        hist = signal_histogram(text_signals(docs, "doc_id", "text"))
        sums = {r["signal"]: r["s"] for r in
                hist.groupBy("signal").agg(F.sum("n").alias("s")).collect()}
        assert all(v == n for v in sums.values())
        # oracle parity: baseline = full corpus, batch = a slice with a
        # real distribution difference (short docs only)
        batch = docs.where("n_chars < 500")
        got = sorted(
            (r["signal"], r["psi"], r["verdict"])
            for r in quality_drift(docs, batch, "doc_id", "text").collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        con.execute(
            "CREATE VIEW batch AS SELECT * FROM documents WHERE n_chars < 500"
        )
        want = sorted(
            tuple(r) for r in con.sql(
                quality_drift_sql("documents", "batch", "doc_id", "text")
            ).fetchall()
        )
        assert got == want

    def test_drift_is_two_scans_map_side(self, spark, sf_dir):
        """Plan shape: no corpus-sized join — the signal projection +
        bucket explode is map-only per side, one combinable groupBy
        each, and the PSI stage joins report-sized frames."""
        from etl_pack_spark.operators.quality import quality_drift
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        plan = (
            quality_drift(docs, docs.limit(500), "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


def test_psi_is_symmetric_and_nonnegative(spark, sf_dir):
    """PSI laws: each term (p−q)·ln(p/q) is symmetric under swapping
    the two distributions and non-negative, so the report must be too
    — for any pair of corpus slices, in either direction."""
    from etl_pack_spark.operators.quality import quality_drift
    from etl_pack_spark.sources.reader import read_table

    docs = read_table(spark, sf_dir, "documents")
    slices = [docs.where(f"doc_id % 3 = {k}") for k in range(3)]
    for i in range(3):
        j = (i + 1) % 3
        ab = {r["signal"]: r["psi"] for r in quality_drift(
            slices[i], slices[j], "doc_id", "text").collect()}
        ba = {r["signal"]: r["psi"] for r in quality_drift(
            slices[j], slices[i], "doc_id", "text").collect()}
        assert ab == ba
        assert all(v >= 0.0 for v in ab.values())


def test_drift_signal_names_validated(spark):
    """Signal names and category values are interpolated into
    generated expressions / oracle SQL — non-identifier inputs raise
    at call time (the r10 badwords posture), in BOTH engines' builders."""
    import pytest as _pytest

    from etl_pack_spark.operators.quality import (
        signal_histogram,
        signal_histogram_sql,
    )

    df = spark.createDataFrame([(1.0,)], "x double")
    with _pytest.raises(ValueError, match="plain identifier"):
        signal_histogram(df, edges={"x; drop": (1.0,)})
    with _pytest.raises(ValueError, match="plain identifier"):
        signal_histogram_sql("SELECT 1", edges={"a b": (1.0,)})
    with _pytest.raises(ValueError, match="string literal"):
        signal_histogram(df, edges={}, categories={"x": ("a'b",)})


class TestCorpusDatacard:
    """r12: the one-pass dataset-card report — per-group + grand-total
    volume, token-length quantiles, quality mix, label agreement."""

    def test_oracle_parity_and_shape(self, spark, sf_dir):
        import duckdb as _duckdb

        from etl_pack_spark.operators.quality import (
            corpus_datacard,
            corpus_datacard_sql,
        )
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        card = corpus_datacard(docs, accuracy=None)

        def norm(rec):
            return tuple(
                "∅" if v is None
                else (round(float(v), 9) if isinstance(v, float) else v)
                for v in rec
            )

        got = sorted((norm(tuple(r)) for r in card.collect()), key=str)
        con = _duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * "
            f"FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        want = sorted(
            (norm(r) for r in con.execute(
                corpus_datacard_sql("documents")).fetchall()),
            key=str,
        )
        assert got == want and len(got) >= 2
        # exactly one grand-total row; its n_docs is the corpus size
        totals = [r for r in card.collect() if r["is_total"] == 1]
        assert len(totals) == 1
        assert totals[0]["n_docs"] == docs.count()
        # per-group rows conserve the total
        assert sum(r["n_docs"] for r in card.collect()
                   if r["is_total"] == 0) == totals[0]["n_docs"]

    def test_one_scan_no_join_back(self, spark, sf_dir):
        """The group keys ride the signals projection (carry_cols), so
        the card is scan -> map -> one grouped aggregate — a corpus-
        sized join back for group keys would double the scan."""
        from etl_pack_spark.operators.quality import corpus_datacard
        from etl_pack_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        plan = (
            corpus_datacard(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan

    def test_lang_match_counts_planted_mislabels(self, spark):
        from etl_pack_spark.operators.quality import corpus_datacard

        en = " ".join(["the", "and", "is", "of", "to"] * 8)
        docs = spark.createDataFrame(
            [(1, en, "en"), (2, en, "en"), (3, en, "fr"), (4, None, "en")],
            "doc_id long, text string, lang string",
        )
        card = {(r["lang"], r["is_total"]): r
                for r in corpus_datacard(docs).collect()}
        assert card[("en", 0)]["n_null_text"] == 1
        # NULL text: lang_pred NULL -> undecidable, excluded from the
        # agreement denominator (both engines; its volume shows in
        # n_null_text)
        assert card[("en", 0)]["lang_match_frac"] == 1.0
        assert card[("fr", 0)]["lang_match_frac"] == 0.0
        assert card[(None, 1)]["n_docs"] == 4

    def test_carry_cols_collision_is_loud(self, spark):
        import pytest as _pytest

        from etl_pack_spark.operators.textops import text_signals

        docs = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="carry_cols"):
            text_signals(docs, "doc_id", "text", carry_cols=("text",))
        # r13 (ADVICE): the projection's OUTPUT names are reserved too —
        # carrying a source column named like a signal used to produce
        # a duplicate/ambiguous column instead of this error
        docs2 = spark.createDataFrame(
            [(1, "a b c", 3, "en")],
            "doc_id long, text string, n_tokens long, lang_pred string")
        for bad in ("n_tokens", "lang_pred", "score_en", "fingerprint"):
            with _pytest.raises(ValueError, match="carry_cols"):
                text_signals(docs2, "doc_id", "text", carry_cols=(bad,))
