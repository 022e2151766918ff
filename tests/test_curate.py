"""Composed corpus-curation pipeline: stage invariants + plan shape."""

from __future__ import annotations

from etl_pack_spark.plans.curate import curate_corpus
from etl_pack_spark.sources.reader import read_table


def test_curate_invariants(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    out = curate_corpus(docs).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))  # dedup: unique survivors
    assert 0 < len(ids) < docs.count()  # filters actually filter
    langs = {r["lang"] for r in out}
    assert "zh" not in langs  # unverifiable language excluded
    assert {r["split"] for r in out} <= {"train", "val", "test"}


def test_curate_single_scan_single_shuffle(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    plan = curate_corpus(docs)._jdf.queryExecution().executedPlan().toString()
    # one scan of the corpus and one exchange (the dedup group-by)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1


def test_curate_disposition_audit_grain(spark, sf_dir):
    """r10: every document classified; the kept slice IS curate_corpus;
    exact-dup attribution names the non-winning copies; the funnel
    aggregator composes; DuckDB twin is hash-exact."""
    import duckdb
    from pyspark.sql import functions as F

    from etl_pack_spark.operators.cleaning import curation_funnel
    from etl_pack_spark.plans.curate import (
        curate_disposition,
        curate_disposition_sql,
    )

    docs = read_table(spark, sf_dir, "documents")
    dispo = curate_disposition(docs).persist()
    try:
        assert dispo.count() == docs.count()  # no silent drops, ever
        kept = {
            (r["doc_id"], r["lang"], r["split"])
            for r in dispo.where(F.col("drop_stage").isNull()).collect()
        }
        want = {
            (r["doc_id"], r["lang"], r["split"])
            for r in curate_corpus(docs).collect()
        }
        assert kept == want
        funnel = {
            r["stage"]: r["n_docs"] for r in curation_funnel(dispo).collect()
        }
        assert sum(funnel.values()) == docs.count()
        assert funnel.get("kept", 0) == len(want)
        # dup_of rider (r11): exactly the exact_dup rows carry it, and
        # each points at a KEPT doc (its content-hash winner)
        kept_ids = {k[0] for k in kept}
        for r in dispo.collect():
            if r["drop_stage"] == "exact_dup":
                assert r["dup_of"] in kept_ids and r["dup_of"] < r["doc_id"]
            else:
                assert r["dup_of"] is None
        # oracle parity, full grain
        got = sorted(
            (r["doc_id"], r["lang"], r["drop_stage"], r["split"],
             r["dup_of"])
            for r in dispo.collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        oracle = sorted(
            tuple(r)
            for r in con.sql(curate_disposition_sql("documents")).fetchall()
        )
        assert got == oracle
    finally:
        dispo.unpersist()


def test_curate_disposition_classifies_degenerate_docs(spark):
    """NULL text and duplicate texts get explicit verdicts (the
    survivor query's three-valued where() silently drops them)."""
    from pyspark.sql import functions as F

    from etl_pack_spark.plans.curate import curate_disposition

    text_en = " ".join(["the", "and", "with", "have"] * 5)  # 20 en tokens
    docs = spark.createDataFrame(
        [
            (1, text_en, "en"),
            (2, text_en, "en"),          # exact dup of 1
            (3, None, "en"),             # NULL text
            (4, text_en, "fr"),          # lang mismatch... but dup text
            (5, "tiny", "en"),           # token_count
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r for r in curate_disposition(docs).collect()}
    assert len(got) == 5
    assert got[1]["drop_stage"] is None and got[1]["split"] is not None
    assert got[2]["drop_stage"] == "exact_dup" and got[2]["split"] is None
    assert got[2]["dup_of"] == 1  # the kept twin, by name
    assert got[3]["drop_stage"] == "token_count"
    assert got[4]["drop_stage"] == "lang_mismatch"
    assert got[4]["dup_of"] is None  # gate drops carry no twin pointer
    assert got[5]["drop_stage"] == "token_count"


def test_curate_disposition_string_ids_carry_dup_of(spark):
    """r12 (r11 VERDICT #3 / ADVICE): dup_of is id-TYPED, derived from
    the corpus's own id column — on a string-id corpus (snowflake/UUID
    ids) the exact_dup rows must carry the winner's STRING id, not a
    silently-NULLed long."""
    from etl_pack_spark.plans.curate import curate_disposition

    text_en = " ".join(["the", "and", "with", "have"] * 5)
    docs = spark.createDataFrame(
        [
            ("doc-b", text_en, "en"),
            ("doc-a", text_en, "en"),   # min(doc_id) -> 'doc-a' wins
            ("doc-c", "tiny", "en"),
        ],
        "doc_id string, text string, lang string",
    )
    dispo = curate_disposition(docs)
    assert dispo.schema["dup_of"].dataType.simpleString() == "string"
    got = {r["doc_id"]: r for r in dispo.collect()}
    assert got["doc-a"]["drop_stage"] is None
    assert got["doc-b"]["drop_stage"] == "exact_dup"
    assert got["doc-b"]["dup_of"] == "doc-a"
    assert got["doc-c"]["dup_of"] is None
