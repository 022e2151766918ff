"""End-to-end pretraining pipeline: stage contracts, determinism,
and scale-shape checks over the documents fixture."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from etl_pack_spark.plans.pretrain import prepare_pretraining_corpus
from etl_pack_spark.sources.reader import read_table

WEIGHTS = {"src1": 0.5, "src2": 0.3, "src3": 0.2}
# `python -m etl_pack_spark.cli` imports the package from its cwd: run
# this checkout's CLI, wherever the checkout is
REPO_ROOT = str(Path(__file__).resolve().parents[1])


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def test_pipeline_end_to_end(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    evald = docs.where(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    out = prepare_pretraining_corpus(docs, eval_df=evald, weights=WEIGHTS).cache()
    try:
        n = out.count()
        assert n > 0
        # contract columns present
        assert {"doc_id", "lang", "split", "source", "copy_n",
                "n_tokens", "pack_id", "oversize"} <= set(out.columns)
        # train split only, listed domains only
        assert out.where(F.col("split") != "train").count() == 0
        assert out.where(~F.col("source").isin(*WEIGHTS)).count() == 0
        # packing respects the budget for non-oversize packs
        over = (
            out.where(~F.col("oversize"))
            .groupBy("pack_id").agg(F.sum("n_tokens").alias("s"))
            .where(F.col("s") > 2048).count()
        )
        assert over == 0
        # each (doc, copy) appears exactly once
        dup = (
            out.groupBy("doc_id", "copy_n").count()
            .where(F.col("count") > 1).count()
        )
        assert dup == 0
    finally:
        out.unpersist()


def test_pipeline_stages_monotone_and_effective(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    evald = docs.where(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    base = prepare_pretraining_corpus(docs)
    # a non-default budget: packing assigns packs, it drops no document
    decon = prepare_pretraining_corpus(docs, eval_df=evald, budget=512).collect()
    base_ids = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    decon_ids = {r["doc_id"] for r in decon}
    # decontamination only removes docs, and removes at least one
    # (the fixture's near-dups straddle the doc_id % 10 == 7 split)
    assert decon_ids < base_ids
    # the eval docs themselves are gone, and some of them were kept
    # without decontamination
    assert any(i % 10 == 7 for i in base_ids)
    assert not any(i % 10 == 7 for i in decon_ids)
    # every row is packed, and the budget bounds every non-oversize pack
    assert all(r["pack_id"] is not None for r in decon)
    fills = {}
    for r in decon:
        if not r["oversize"]:
            fills[r["pack_id"]] = fills.get(r["pack_id"], 0) + r["n_tokens"]
    assert fills and max(fills.values()) <= 512


def test_pipeline_deterministic_under_repartition(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = prepare_pretraining_corpus(docs, weights=WEIGHTS)
    b = prepare_pretraining_corpus(docs.repartition(13), weights=WEIGHTS)
    ka = sorted(map(tuple, a.select("doc_id", "copy_n", "n_tokens").collect()))
    kb = sorted(map(tuple, b.select("doc_id", "copy_n", "n_tokens").collect()))
    assert ka == kb


def test_pipeline_substring_gate_contract(spark, sf_dir):
    """A loose bound (max_dup_fraction=1.0) is a no-op; under a tight
    bound no gated-out doc ever reaches the output. (Output ids are NOT
    monotone in the bound: gating a doc before cluster dedup can swap
    which member of its near-dup cluster survives — that's correct.)"""
    from etl_pack_spark.operators.substrings import repeated_ngram_spans
    from etl_pack_spark.plans.curate import curate_corpus

    docs = _docs(spark, sf_dir)
    base = prepare_pretraining_corpus(docs)
    loose = prepare_pretraining_corpus(docs, max_dup_fraction=1.0)
    tight = prepare_pretraining_corpus(docs, max_dup_fraction=0.0)
    base_ids = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    loose_ids = {r["doc_id"] for r in loose.select("doc_id").distinct().collect()}
    tight_ids = {r["doc_id"] for r in tight.select("doc_id").distinct().collect()}
    assert loose_ids == base_ids
    # recompute the gate on the same corpus the pipeline gates (the
    # curated one — duplication is relative to the surviving corpus)
    kept = docs.join(curate_corpus(docs).select("doc_id"), "doc_id")
    gated_out = {
        r["doc_id"]
        for r in repeated_ngram_spans(kept, "doc_id", "text", max_dup_fraction=0.0)
        .where(~F.col("keep")).collect()
    }
    assert gated_out, "fixture should contain duplicated windows"
    assert not (tight_ids & gated_out)


def test_pipeline_semantic_stage(spark, sf_dir):
    """SemDeDup stage: prunes only docs that HAVE an embedding row;
    docs without embeddings always survive it."""
    docs = _docs(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    base = prepare_pretraining_corpus(docs)
    base_ids = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    # fixture embeddings only cover vec_id < 500; at threshold 0.4 the
    # stage prunes within-cluster near-dups among those
    sem = prepare_pretraining_corpus(docs, embeddings=emb, sem_threshold=0.4)
    sem_ids = {r["doc_id"] for r in sem.select("doc_id").distinct().collect()}
    assert sem_ids <= base_ids
    emb_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    # every doc the stage removed had an embedding
    assert (base_ids - sem_ids) <= emb_ids
    # an impossible threshold is a no-op
    noop = prepare_pretraining_corpus(docs, embeddings=emb, sem_threshold=1.1)
    noop_ids = {r["doc_id"] for r in noop.select("doc_id").distinct().collect()}
    assert noop_ids == base_ids


def test_pipeline_leakage_safe_split(spark, sf_dir):
    """With leakage_safe_split=True, no simhash near-dup pair straddles
    the train/eval boundary in the PRE-dedup corpus, and the pipeline's
    output contract is unchanged."""
    from etl_pack_spark.operators import neardup
    from etl_pack_spark.operators.sampling import grouped_split_assign

    docs = _docs(spark, sf_dir)
    out = prepare_pretraining_corpus(docs, leakage_safe_split=True)
    assert out.count() > 0
    assert {"doc_id", "lang", "split", "source", "copy_n",
            "n_tokens", "pack_id", "oversize"} <= set(out.columns)

    # reproduce the pipeline's regrouped split and check pair coherence
    pairs = neardup.simhash_neardup_pairs(docs, "doc_id", "text").select(
        "id_a", "id_b"
    )
    regrouped = grouped_split_assign(
        docs.select("doc_id", "text"), pairs, "doc_id"
    ).select("doc_id", "split")
    straddlers = (
        pairs.join(
            regrouped.withColumnsRenamed({"doc_id": "id_a", "split": "sa"}), "id_a"
        )
        .join(regrouped.withColumnsRenamed({"doc_id": "id_b", "split": "sb"}), "id_b")
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    assert straddlers == 0


def test_pipeline_web_prep_stages(spark, sf_dir):
    """extract_html + normalize_unicode prepend WITHOUT adding a
    shuffle (column rewrites, not joins), and HTML markup in raw docs
    no longer leaks into the packed corpus."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.lit("<p>"), F.col("text"), F.lit("</p><script>x</script>"))
    )
    out = prepare_pretraining_corpus(
        docs, extract_html=True, normalize_unicode=True
    )
    assert out.count() > 0
    # same doc set as running the pipeline on the clean fixture (tag
    # wrapping adds no tokens after extraction)
    clean = prepare_pretraining_corpus(_docs(spark, sf_dir))
    got = sorted(r["doc_id"] for r in out.select("doc_id").distinct().collect())
    want = sorted(r["doc_id"] for r in clean.select("doc_id").distinct().collect())
    assert got == want


def test_web_prep_stages_add_no_exchange(spark, sf_dir):
    """The html/NFC pre-stages are column rewrites fused into the scan:
    the curated plan with them must contain exactly as many Exchanges
    as without (a join-back implementation would add one per stage)."""
    from pyspark.sql import functions as F

    from etl_pack_spark.plans.curate import curate_corpus

    docs = _docs(spark, sf_dir)
    base = curate_corpus(docs)._jdf.queryExecution().executedPlan().toString()

    from etl_pack_spark.operators.cleaning import html_clean_lines
    from etl_pack_spark.operators.textops import normalize_text_col

    prepped = docs.withColumn(
        "text", F.array_join(html_clean_lines("text"), "\n")
    ).withColumn("text", normalize_text_col("text"))
    withstages = curate_corpus(prepped)._jdf.queryExecution().executedPlan().toString()
    assert withstages.count("Exchange") == base.count("Exchange")


def test_excision_drops_fully_excised_husks_and_with_text(spark):
    """A doc wholly CONTAINED in another (exact dedup can't collapse
    it — the text differs) excises to an empty husk; the pipeline must
    drop it rather than let a zero-token, shingle-less row sail past
    simhash dedup into packing. with_text=True returns the
    pipeline-final (excised, token-normalized) text so n_tokens /
    packing describe text the consumer can actually materialize."""
    a = ("the alpha cat and bravo dog is of charlie to delta in echo "
         "that it for was foxtrot golf hotel india juliet kilo lima "
         "mike november oscar papa quebec romeo")
    b = "dog is of charlie to delta in echo that it for was"  # A[5:17]
    c = ("it was the best of times and the worst of plans that spring "
         "brought to everyone in town for sure")
    docs = spark.createDataFrame(
        [(1, a, "en", "web"), (2, b, "en", "web"), (3, c, "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    out = prepare_pretraining_corpus(
        docs, excise_spans=True, excise_k=5, with_text=True
    )
    rows = out.collect()
    ids = {r["doc_id"] for r in rows}
    assert 2 not in ids          # the husk is gone...
    assert ids                   # ...but survivors remain
    assert all(r["n_tokens"] > 0 for r in rows)
    for r in rows:               # text matches what the counts describe
        assert r["text"] and r["n_tokens"] == len(r["text"].split(" "))
    # the default contract is unchanged: no text column
    assert "text" not in prepare_pretraining_corpus(docs).columns


def test_pipeline_excision_stage(spark, sf_dir):
    """excise_spans=True cuts corpus-duplicated passages from the
    surviving docs' text BEFORE dedup/counting: total train tokens
    shrink (the fixture plants near-dup copies), no doc gains tokens,
    and the contract columns survive."""
    docs = _docs(spark, sf_dir)
    base = prepare_pretraining_corpus(docs)
    excised = prepare_pretraining_corpus(docs, excise_spans=True, excise_k=5)
    b = {r["doc_id"]: r["n_tokens"]
         for r in base.select("doc_id", "n_tokens").distinct().collect()}
    e = {r["doc_id"]: r["n_tokens"]
         for r in excised.select("doc_id", "n_tokens").distinct().collect()}
    assert e  # pipeline still yields docs
    common = set(b) & set(e)
    assert common
    # excision never ADDS tokens, and cuts at least one doc's
    assert all(e[d] <= b[d] for d in common)
    assert any(e[d] < b[d] for d in common)
    assert {"doc_id", "lang", "split", "source", "copy_n",
            "n_tokens", "pack_id", "oversize"} <= set(excised.columns)


def test_pretrain_disposition_conservation_and_agreement(spark, sf_dir):
    """r11 (r10 VERDICT #6): the whole-pipeline funnel. Every input
    document gets exactly one (doc_id, stage) verdict; stage counts
    sum to the corpus size (the conservation law); and the 'packed'
    slice is EXACTLY the set of documents the real pipeline emits
    under the same parameters — the audit plan recomputes stages with
    the same operator calls, so agreement is by construction and this
    pins it."""
    from etl_pack_spark.plans.pretrain import (
        pretrain_disposition,
        pretrain_funnel,
    )

    docs = _docs(spark, sf_dir)
    evald = docs.where(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    kwargs = dict(eval_df=evald, weights=WEIGHTS)
    dispo = pretrain_disposition(docs, **kwargs).cache()
    try:
        n_docs = docs.count()
        # one verdict per doc, conservation
        assert dispo.count() == n_docs
        assert dispo.select("doc_id").distinct().count() == n_docs
        fun = {r["stage"]: r["n_docs"]
               for r in pretrain_funnel(docs, **kwargs).collect()}
        assert sum(fun.values()) == n_docs
        # the pipeline's verdict stages all fire on this fixture
        assert fun.get("packed", 0) > 0
        assert {"val", "test"} <= set(fun)
        assert fun.get("contaminated", 0) > 0
        # 'packed' slice == the real pipeline's surviving doc set
        packed_ids = {
            r["doc_id"]
            for r in dispo.where(F.col("stage") == "packed").collect()
        }
        out_ids = {
            r["doc_id"]
            for r in prepare_pretraining_corpus(docs, **kwargs)
            .select("doc_id").distinct().collect()
        }
        assert packed_ids == out_ids
        # dup_of rider (r11): exactly the duplicate stages carry the
        # kept-twin pointer; near-dup losers point at their cluster's
        # survivor, which is a doc that passed dedup (any later stage)
        rows = dispo.collect()
        post_dedup = {
            r["doc_id"] for r in rows
            if r["stage"] in ("packed", "val", "test", "contaminated",
                              "resample_dropped", "semantic_dup")
        }
        nd = [r for r in rows if r["stage"] == "neardup_dup"]
        assert nd and all(r["dup_of"] in post_dedup for r in nd)
        # the fixture has no exact-text dups at this sf (the synthetic
        # case is pinned in test_curate); when rows exist they carry it
        ed = [r for r in rows if r["stage"] == "exact_dup"]
        assert all(r["dup_of"] is not None for r in ed)
        for r in rows:
            if r["stage"] not in ("neardup_dup", "exact_dup"):
                assert r["dup_of"] is None, r
    finally:
        dispo.unpersist()


def test_pretrain_funnel_cli(sf_dir):
    """--funnel-gates pretrain: the whole-pipeline funnel as a cron
    firing; stage counts sum to the corpus size, gate-tuning flags
    rejected."""
    import json as _json
    import subprocess
    import sys as _sys

    res = subprocess.run(
        [_sys.executable, "-m", "etl_pack_spark.cli",
         "--funnel", f"{sf_dir}/documents.parquet",
         "--funnel-gates", "pretrain"],
        capture_output=True, text=True, cwd=REPO_ROOT, check=True,
        timeout=600,
    )
    out = _json.loads(res.stdout.strip().splitlines()[-1])
    assert out["gates"] == "pretrain"
    assert out["total"] == sum(out["stages"].values()) > 0
    assert out["stages"].get("packed", 0) > 0
    # fixed gates: tuning flags are rejected exactly like curate
    res2 = subprocess.run(
        [_sys.executable, "-m", "etl_pack_spark.cli",
         "--funnel", f"{sf_dir}/documents.parquet",
         "--funnel-gates", "pretrain", "--min-words", "9"],
        capture_output=True, text=True, cwd=REPO_ROOT,
        timeout=600,
    )
    assert res2.returncode == 2
    assert "do not apply to --funnel-gates pretrain" in res2.stderr


def test_pretrain_disposition_conservation_all_options(spark, sf_dir):
    """The conservation law must hold under EVERY optional stage the
    pipeline offers (dup-window gate, excision, SemDeDup, leakage-safe
    splits, survivor_by), and the packed set must still agree with the
    pipeline's output under the same parameters — the option matrix is
    where a disposition branch silently double-counts or loses docs.
    (The pipeline side runs checkpoint_stages=True — the all-options
    lazy plan pays minutes of Catalyst re-analysis; equality of the
    two modes is pinned separately below.)"""
    from etl_pack_spark.plans.pretrain import pretrain_disposition
    from etl_pack_spark.sources.reader import read_table

    docs = _docs(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    evald = docs.where(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    kwargs = dict(
        eval_df=evald,
        weights=WEIGHTS,
        max_dup_fraction=0.8,
        excise_spans=True,
        embeddings=emb,
        leakage_safe_split=True,
        survivor_by="n_chars",
    )
    dispo = pretrain_disposition(docs, **kwargs).cache()
    try:
        n = docs.count()
        assert dispo.count() == n
        assert dispo.select("doc_id").distinct().count() == n
        packed_ids = {
            r["doc_id"]
            for r in dispo.where(F.col("stage") == "packed").collect()
        }
        out_ids = {
            r["doc_id"]
            for r in prepare_pretraining_corpus(
                docs, checkpoint_stages=True, **kwargs
            ).select("doc_id").distinct().collect()
        }
        assert packed_ids == out_ids and packed_ids
        # every optional stage actually fired on this fixture
        stages = {r["stage"] for r in dispo.select("stage").distinct().collect()}
        assert {"dup_window_gate", "neardup_dup", "contaminated",
                "packed"} <= stages
    finally:
        dispo.unpersist()


def test_pretrain_span_stride_conservation_and_agreement(spark, sf_dir):
    """r13: the substring family's sampling knob rides the pipeline
    (one `span_stride` applied to the window gate AND the excision) —
    the audit twin recomputes with the same stride, so conservation
    and packed-set agreement must hold, and the sampled run keeps at
    least as many docs past the gate as the exact one."""
    from etl_pack_spark.plans.pretrain import pretrain_disposition

    docs = _docs(spark, sf_dir)
    kwargs = dict(max_dup_fraction=0.5, excise_spans=True, span_stride=4)
    dispo = pretrain_disposition(docs, **kwargs).cache()
    try:
        n = docs.count()
        assert dispo.count() == n
        assert dispo.select("doc_id").distinct().count() == n
        packed_ids = {
            r["doc_id"]
            for r in dispo.where(F.col("stage") == "packed").collect()
        }
        out_ids = {
            r["doc_id"]
            for r in prepare_pretraining_corpus(
                docs, checkpoint_stages=True, **kwargs
            ).select("doc_id").distinct().collect()
        }
        assert packed_ids == out_ids and packed_ids
        # the TRUE sampling invariant, at the detection grain: every
        # sampled window is a real window with its exact duplication
        # status, so docs with ANY sampled dup window are a subset of
        # docs with any exact dup window. (The gate's RATIO verdict is
        # not monotone in stride — a sampled dup_fraction can exceed
        # the exact one — so drop counts are deliberately not compared.)
        from etl_pack_spark.operators.substrings import repeated_ngram_spans

        exact_flagged = {
            r["doc_id"]
            for r in repeated_ngram_spans(docs)
            .where(F.col("n_dup_windows") > 0).collect()
        }
        sampled_flagged = {
            r["doc_id"]
            for r in repeated_ngram_spans(docs, stride=4)
            .where(F.col("n_dup_windows") > 0).collect()
        }
        assert sampled_flagged <= exact_flagged
    finally:
        dispo.unpersist()


def test_pretrain_checkpoint_stages_is_pure_acceleration(spark, sf_dir):
    """checkpoint_stages=True must be bit-identical to the lazy plan —
    it truncates Catalyst analysis, never semantics. Pinned on a
    two-option run (the all-options case is covered above via the
    disposition agreement; the LAZY all-options build is the measured
    ~2.5-minute pathology this flag exists for)."""
    docs = _docs(spark, sf_dir)
    kwargs = dict(weights=WEIGHTS, leakage_safe_split=True)
    lazy = sorted(map(tuple, prepare_pretraining_corpus(
        docs, **kwargs
    ).select("doc_id", "copy_n", "n_tokens", "pack_id", "oversize").collect()))
    fast = sorted(map(tuple, prepare_pretraining_corpus(
        docs, checkpoint_stages=True, **kwargs
    ).select("doc_id", "copy_n", "n_tokens", "pack_id", "oversize").collect()))
    assert lazy == fast and lazy


def test_pipeline_job_counts(spark, sf_dir, count_jobs, monkeypatch):
    """A warm pipeline (cache cleared between runs, as perfbench does)
    runs a pinned number of Spark jobs, and cluster_dedup's size probe
    runs none on the union-find path's driver-local labels."""
    from etl_pack_spark.plans import pretrain

    docs = _docs(spark, sf_dir)
    real = pretrain.cluster_dedup
    probe_jobs = []

    def spy(*args, **kwargs):
        out, jobs = count_jobs(lambda: real(*args, **kwargs))
        probe_jobs.append(jobs)
        return out

    monkeypatch.setattr(pretrain, "cluster_dedup", spy)
    warm = prepare_pretraining_corpus(docs).toArrow()
    monkeypatch.undo()
    spark.catalog.clearCache()
    out, jobs = count_jobs(lambda: prepare_pretraining_corpus(docs).toArrow())
    assert probe_jobs == [0]
    assert out.num_rows == warm.num_rows > 0
    # the curated corpus is scanned and curated once per run
    assert jobs == 23
    spark.catalog.clearCache()


def test_pretrain_disposition_string_ids(spark):
    """r12 (r11 VERDICT #3 / ADVICE medium): dup_of on a STRING-id
    corpus — the exact_dup pointer, the neardup_dup survivor pointer,
    and every NULL branch must all carry the id column's own type; the
    old hard-coded long cast silently NULLed the pointer."""
    from etl_pack_spark.plans.pretrain import pretrain_disposition

    base = " ".join(
        ["the", "and", "with", "have", "for", "was", "that", "it"] * 8
    )
    rows = [
        ("id-a1", base + " alpha", "en", "web"),       # near-dup group A
        ("id-a2", base + " omega", "en", "web"),       # near-dup of a1
        ("id-b1", base + " unique beta words", "en", "web"),
        ("id-c1", base + " gamma", "en", "web"),
        ("id-c2", base + " gamma", "en", "web"),       # exact dup of c1
        ("id-d1", "tiny", "en", "web"),                # gate drop
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, text string, lang string, source string"
    )
    dispo = pretrain_disposition(docs, max_hamming=10)
    assert dispo.schema["dup_of"].dataType.simpleString() == "string"
    got = {r["doc_id"]: r for r in dispo.collect()}
    assert len(got) == len(rows)  # conservation
    assert got["id-c2"]["stage"] == "exact_dup"
    assert got["id-c2"]["dup_of"] == "id-c1"
    nd = [r for r in got.values() if r["stage"] == "neardup_dup"]
    assert nd, "near-dup pair a1/a2 should land within hamming 10"
    for r in nd:
        assert isinstance(r["dup_of"], str) and r["dup_of"] in got
    assert got["id-d1"]["stage"] == "token_count"
    assert got["id-d1"]["dup_of"] is None


def test_pretrain_reliable_checkpoint_parity(spark, sf_dir, tmp_path):
    """r12 (r11 VERDICT #4): checkpoint_stages='reliable'
    (DataFrame.checkpoint into the context checkpoint dir — the
    preemptible-cluster mode) must produce output identical to the
    lazy plan, and must fail LOUDLY at entry when no checkpoint dir
    is set. Same contract for pretrain_disposition(checkpoint=...)."""
    import pytest as _pytest

    from etl_pack_spark.plans.pretrain import pretrain_disposition

    docs = _docs(spark, sf_dir)
    kwargs = dict(weights=WEIGHTS, leakage_safe_split=True)
    # mode validation is loud
    with _pytest.raises(ValueError, match="'local' or 'reliable'"):
        prepare_pretraining_corpus(docs, checkpoint_stages="fast", **kwargs)
    with _pytest.raises(ValueError, match="'local' or 'reliable'"):
        pretrain_disposition(docs, checkpoint=False)
    # no checkpoint dir set yet: entry-time error, before any stage runs
    assert spark.sparkContext.getCheckpointDir() is None
    with _pytest.raises(ValueError, match="setCheckpointDir"):
        prepare_pretraining_corpus(
            docs, checkpoint_stages="reliable", **kwargs
        )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    cols = ["doc_id", "copy_n", "n_tokens", "pack_id", "oversize"]
    lazy = sorted(map(tuple, prepare_pretraining_corpus(
        docs, **kwargs
    ).select(*cols).collect()))
    reliable = sorted(map(tuple, prepare_pretraining_corpus(
        docs, checkpoint_stages="reliable", **kwargs
    ).select(*cols).collect()))
    assert lazy == reliable and lazy
    # the audit twin: reliable == local, row for row
    local_d = sorted(map(tuple, pretrain_disposition(docs).collect()))
    rel_d = sorted(map(tuple, pretrain_disposition(
        docs, checkpoint="reliable"
    ).collect()))
    assert local_d == rel_d and local_d


def test_pretrain_eval_store_decontamination(spark, sf_dir, tmp_path):
    """r12: eval_store decontaminates the pipeline against the
    persisted eval-fingerprint registry — with exactly one registered
    set the output is identical to passing that set as eval_df, and
    the disposition audit agrees stage for stage."""
    import pytest as _pytest

    from etl_pack_spark.operators.contamination import register_eval_set
    from etl_pack_spark.plans.pretrain import pretrain_funnel

    docs = _docs(spark, sf_dir)
    evald = docs.where(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    store = str(tmp_path / "evalreg")
    register_eval_set(spark, evald, store, "heldout", n=8)
    cols = ["doc_id", "copy_n", "n_tokens", "pack_id", "oversize"]
    via_df = sorted(map(tuple, prepare_pretraining_corpus(
        docs, eval_df=evald, weights=WEIGHTS
    ).select(*cols).collect()))
    via_store = sorted(map(tuple, prepare_pretraining_corpus(
        docs, eval_store=store, weights=WEIGHTS
    ).select(*cols).collect()))
    assert via_df == via_store and via_df
    fun_df = {r["stage"]: r["n_docs"] for r in pretrain_funnel(
        docs, eval_df=evald, weights=WEIGHTS).collect()}
    fun_store = {r["stage"]: r["n_docs"] for r in pretrain_funnel(
        docs, eval_store=store, weights=WEIGHTS).collect()}
    assert fun_df == fun_store
    assert fun_store.get("contaminated", 0) > 0
    with _pytest.raises(ValueError, match="not both"):
        prepare_pretraining_corpus(docs, eval_df=evald, eval_store=store)
