"""The end-to-end pretraining-corpus pipeline, composed from the
operator library as ONE lazy plan per stage:

    quality/lang gate + split assign   (plans/curate.py — 1 scan, 1 shuffle)
    → repeated-substring gate [opt]    (duplicated-window fraction ≤ max)
    → repeated-span excision [opt]     (cut non-canonical duplicated passages)
    → near-dup CLUSTER dedup           (simhash pairs → components → 1 survivor)
    → SemDeDup semantic dedup [opt]    (embedding clusters → cosine prune)
    → eval decontamination             (broadcast semi-join, corpus never shuffles)
    → domain-mixture resample          (map-only + broadcast counts)
    → sequence packing to token budget (shard-local greedy first-fit)

This is the composition a training-data team actually runs over 100 TB;
every stage is individually oracle-checked / pytest-pinned, and this
module pins the CONTRACT between them (column handoffs, determinism,
row-count monotonicity). Nothing here collects to the driver; the
near-dup pair graph is the only iterative piece and its working set is
pairs + labels, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pack_spark.operators import neardup
from etl_pack_spark.operators.components import cluster_dedup
from etl_pack_spark.operators.contamination import decontaminate
from etl_pack_spark.operators.packing import pack_sequences
from etl_pack_spark.operators.sampling import mixture_resample
from etl_pack_spark.operators.similarity import semantic_dedup
from etl_pack_spark.operators.substrings import repeated_ngram_spans
from etl_pack_spark.operators.tokenize import tokens
from etl_pack_spark.plans.curate import curate_corpus


def _stage_checkpointer(mode, spark=None):
    """The stage-boundary materializer behind ``checkpoint_stages`` /
    ``checkpoint`` (r12, r11 VERDICT #4): both truncate the logical
    plan identically; they differ only in where the blocks live.

    * ``False``/``None`` — no truncation (one lazy Catalyst plan).
    * ``True``/``"local"`` — ``localCheckpoint``: executor-local
      blocks, no distributed-FS write, but lineage is GONE — an
      executor lost mid-job (spot kill, decommission) fails the run
      unrecoverably. The right default for re-runnable report jobs on
      stable executors.
    * ``"reliable"`` — ``DataFrame.checkpoint``: blocks written to
      the SparkContext's checkpoint directory (must be fault-tolerant
      storage — HDFS/object store), so a lost executor recovers from
      the checkpoint instead of failing the job. The right mode on
      preemptible clusters; costs one distributed write per stage
      boundary. Requires ``spark.sparkContext.setCheckpointDir`` —
      validated HERE, at entry, so a misconfigured run fails before
      any stage executes. Checkpoint files are reclaimed by Spark
      only with ``spark.cleaner.referenceTracking.cleanCheckpoints``
      enabled; otherwise clean the directory between runs.
    """
    if mode is False or mode is None:
        return lambda df: df
    if mode is True or mode == "local":
        return lambda df: df.localCheckpoint(eager=True)
    if mode == "reliable":
        if spark is not None and spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint='reliable' needs a checkpoint directory on "
                "fault-tolerant storage: call spark.sparkContext."
                "setCheckpointDir(<hdfs/s3a path>) before building the "
                "pipeline"
            )
        return lambda df: df.checkpoint(eager=True)
    raise ValueError(
        "checkpoint mode must be False, True, 'local' or 'reliable' "
        f"(got {mode!r})"
    )


def prepare_pretraining_corpus(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    eval_store: str | None = None,
    weights: dict[str, float] | None = None,
    domain_col: str = "source",
    budget: int = 2048,
    max_hamming: int = 10,
    ngram: int = 8,
    max_dup_fraction: float | None = None,
    excise_spans: bool = False,
    excise_k: int = 8,
    span_stride: int = 1,
    with_text: bool = False,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    sem_nlist: int = 16,
    sem_threshold: float = 0.95,
    leakage_safe_split: bool = False,
    extract_html: bool = False,
    normalize_unicode: bool = False,
    survivor_by: str | None = None,
    checkpoint_stages: bool | str = False,
) -> DataFrame:
    """Documents → packed training sequences.

    Returns ``(doc_id, lang, split, source, copy_n, n_tokens, pack_id,
    oversize)`` — plus ``text`` when ``with_text`` — one row per
    packed copy of every surviving train document. ``eval_df``
    (optional) drives decontamination; ``eval_store`` (optional,
    exclusive with ``eval_df``; r12) decontaminates against EVERY
    benchmark in a persisted eval-fingerprint registry
    (:func:`~etl_pack_spark.operators.contamination.register_eval_set`)
    in one corpus scan — the registry's pinned shingle width applies,
    not ``ngram``;
    ``weights`` (optional) reweights domains (absent = keep mixture);
    ``max_dup_fraction`` (optional) gates out documents whose k-token
    windows are mostly duplicated elsewhere in the curated corpus;
    ``survivor_by`` (optional) names a numeric column of ``docs``
    (must survive curation's projection — e.g. ``n_chars``) used to
    pick each near-dup cluster's survivor: highest score wins, min-id
    tie-break, instead of the default arbitrary min-id doc;
    ``span_stride`` (r13, optional) is the substring family's
    content-defined sampling knob, applied to BOTH the window gate and
    the excision (one knob — the audit twin must recompute with the
    pipeline's exact parameters): >1 trades recall on short duplicated
    passages for ~1/stride substring-stage cost (see
    :mod:`~etl_pack_spark.operators.substrings`);
    ``excise_spans`` (optional) then CUTS the remaining duplicated
    ``excise_k``-token passages from the survivors' text (keep-first
    canonical occurrence — the ExactSubstr remove variant), so
    downstream dedup/counting sees the cleaned text; documents whose
    text is ENTIRELY duplicated material (e.g. wholly contained in
    another doc) excise to empty and are dropped — their content
    survives in the canonical copies; ``with_text=True`` appends the
    pipeline-final ``text`` column (post-extraction / normalization /
    excision) so consumers materialize exactly the text that
    ``n_tokens`` and the packing describe — without it a consumer
    joining back to the ORIGINAL corpus text would recover the
    un-excised passages and overflow the packed budgets;
    ``embeddings`` (optional, keyed by ``emb_id_col`` = doc id) adds a
    SemDeDup semantic-dedup stage after the exact/near-dup one.
    ``extract_html`` / ``normalize_unicode`` (optional) prepend the
    raw-web prep stages — WET-style tag stripping and NFC
    canonicalization — BEFORE curation, so hashing/dedup see extracted,
    canonical text (both are map-only projections that fuse into the
    curation scan; no extra shuffle). Deterministic end-to-end: every
    stage is hash-based, no RNG.

    ``checkpoint_stages`` (r11, opt-in; ``True``/``"local"`` or
    ``"reliable"`` — see :func:`_stage_checkpointer`) materializes and
    plan-TRUNCATES the two heaviest reference points — the post-gates
    ``kept`` corpus and the post-dedup ``unique`` corpus. Turn it on
    when composing MANY optional
    stages: every stage references the previous frame several times,
    so the lazy plan's size — and Catalyst's re-analysis cost on the
    driver — grows multiplicatively with stage count; with gate+
    excision+SemDeDup+decontamination+resample all enabled the lazy
    build spent ~2 min of driver-side analysis and stage re-execution
    at sf0.001 where the checkpointed one takes seconds (the audit
    twin ``pretrain_disposition`` checkpoints unconditionally for the
    same reason). Default OFF for two reasons: the common 1-3-option
    pipeline stays one lazy Catalyst plan (whole-plan optimization,
    inspectable end-to-end plans), and ``localCheckpoint`` TRADES
    LINEAGE AWAY — blocks live on executors only, so an executor lost
    mid-job (spot kill, decommission) fails the run unrecoverably
    instead of recomputing. On a preemptible cluster pass
    ``checkpoint_stages="reliable"`` (r12): the same two truncation
    points via ``DataFrame.checkpoint`` into the SparkContext's
    checkpoint directory — identical output (parity-pinned), plan
    truncation kept, executor loss recoverable, at the cost of one
    distributed-FS write per boundary. With it off, ``kept`` is still
    materialized once, as a pooled ``persist`` (lineage kept, LRU-
    bounded): the near-dup signatures and the dedup's anti-join both
    read it, so the trade at scale is one memory-and-disk copy of the
    curated corpus against a second corpus scan plus a second
    curation shuffle.
    """
    if eval_df is not None and eval_store is not None:
        raise ValueError(
            "pass eval_df OR eval_store, not both — the registry "
            "already holds every registered benchmark"
        )
    # stage-boundary truncation, opt-in (see docstring); validates the
    # mode — and, for "reliable", the checkpoint dir — BEFORE any work
    cp = _stage_checkpointer(checkpoint_stages, docs.sparkSession)

    # conditional spread (r15): every stage of this pipeline is
    # partitioning-deterministic by design (md5 shards, sorted packing
    # order, hash dedup), so spreading a single-file fixture scan is
    # result-neutral — without it the curation/canonicalize/signature
    # map stages each ran as ONE task at bench scale; production
    # many-split scans skip the repartition entirely
    from etl_pack_spark.operators.partitioning import spread_small_scan

    docs = spread_small_scan(docs, "doc_id")

    if extract_html:
        from etl_pack_spark.operators.cleaning import html_clean_lines

        docs = docs.withColumn(
            "text", F.array_join(html_clean_lines("text"), "\n")
        )
    if normalize_unicode:
        from etl_pack_spark.operators.textops import normalize_text_col

        docs = docs.withColumn("text", normalize_text_col("text"))

    curated = curate_corpus(docs)  # (doc_id, lang, split)
    base_cols = ["doc_id", "text", "lang", "split", domain_col]
    # carry the survivor-score column through to the dedup stage
    extra = (
        [survivor_by]
        if survivor_by is not None and survivor_by not in base_cols
        else []
    )
    kept = docs.join(curated.select("doc_id", "split"), "doc_id").select(
        *base_cols, *extra
    )

    if max_dup_fraction is not None:
        # substring-level gate BEFORE doc-level dedup: duplicated
        # passages are what drives borderline near-dup pairs, and the
        # gate's one hash-shuffle is cheaper than the pair graph it
        # shrinks
        spans = repeated_ngram_spans(
            kept, "doc_id", "text", max_dup_fraction=max_dup_fraction,
            stride=span_stride,
        )
        kept = kept.join(
            spans.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )

    if excise_spans:
        # ExactSubstr REMOVE variant (Lee et al. §3) after the gate:
        # the gate DROPS mostly-duplicated docs, the excision CLEANS
        # the survivors — every duplicated k-token passage keeps
        # exactly one canonical occurrence corpus-wide. Downstream
        # stages (near-dup, decontamination, token counts) see the
        # excised, token-normalized text, so boilerplate can no longer
        # glue distinct documents into one near-dup cluster.
        from etl_pack_spark.operators.substrings import remove_repeated_spans

        cleaned = remove_repeated_spans(
            kept, "doc_id", "text", k=excise_k, stride=span_stride
        )
        kept = kept.drop("text").join(
            cleaned.select("doc_id", F.col("clean_text").alias("text")),
            "doc_id",
        )
        # drop fully-excised husks: a doc whose every window was
        # duplicated (e.g. wholly contained in another doc) excises to
        # "" — empty text has no shingles, so simhash can't pair the
        # husk with its source and it would sail through near-dup
        # dedup into packing as a zero-token row. Its content is not
        # lost: the canonical occurrences live in the surviving docs.
        kept = kept.where(F.length("text") > 0)

    # near-dup cluster dedup over the CURATED corpus: one survivor per
    # transitive simhash cluster (pairs are pre-thresholded, so the
    # component graph is tiny relative to the corpus)
    from etl_pack_spark.operators.cache import pooled_persist
    from etl_pack_spark.operators.components import neardup_clusters

    # kept feeds the signature stage AND the dedup's anti-join: without
    # a materialization the scan → spread → curate → join prefix runs
    # once for the hot-block probe and again for the packing count (see
    # the docstring for the trade). The checkpointers materialize it
    # already; a persist on top would store it twice.
    kept = cp(kept) if checkpoint_stages else pooled_persist(kept)
    pairs = neardup.simhash_neardup_pairs(
        kept, "doc_id", "text", max_hamming=max_hamming
    ).select("id_a", "id_b")
    # label the pair graph ONCE (components is the only iterative
    # stage); the split reassignment and the dedup both consume these
    # labels. connected_components returns them persisted (the
    # distributed loop) or as a driver-local frame (the union-find
    # path), which cluster_dedup's size probe answers with zero jobs;
    # a persist on top would hide that leaf and cost the probe a job.
    clusters = neardup_clusters(pairs, "doc_id")

    if leakage_safe_split:
        # reassign splits so a near-dup CLUSTER lands whole in one
        # split (Lee et al. 2021 §5 leakage model) — reuses the labels
        # the dedup stage needs anyway, so the only added work is the
        # bounded cluster-map join. Matters most when dedup thresholds
        # are loose or survivors of a cluster end up on the eval side;
        # with per-doc hash splits a near-dup of a train doc can land
        # in val/test.
        from etl_pack_spark.operators.sampling import grouped_split_assign

        kept = grouped_split_assign(
            kept.drop("split"), None, "doc_id", clusters=clusters
        ).drop("cluster_id")

    # survivor_by: keep the highest-scoring cluster member (quality /
    # length / recency) instead of the arbitrary min-id one
    unique = cp(cluster_dedup(
        kept, pairs, "doc_id", clusters=clusters, survivor_by=survivor_by
    ))

    if embeddings is not None:
        # SemDeDup: lexical dedup above can't see paraphrases; the
        # embedding stage prunes semantic near-copies cluster-locally.
        # Restrict to embeddings of still-alive docs first so the
        # quadratic within-cluster scan runs on the deduped corpus.
        alive = embeddings.join(
            unique.select(F.col("doc_id").alias(emb_id_col)), emb_id_col, "left_semi"
        )
        surv = semantic_dedup(
            alive, nlist=sem_nlist, threshold=sem_threshold, id_col=emb_id_col
        ).select(F.col(emb_id_col).alias("doc_id"))
        # drop only docs that HAD an embedding and were pruned — a doc
        # with no embedding row is not evidence of duplication
        sem_dropped = alive.select(F.col(emb_id_col).alias("doc_id")).join(
            surv, "doc_id", "left_anti"
        )
        unique = unique.join(sem_dropped, "doc_id", "left_anti")

    train = unique.where(F.col("split") == "train")
    if eval_df is not None:
        train = decontaminate(train, eval_df, "doc_id", "text", n=ngram)
    elif eval_store is not None:
        from etl_pack_spark.operators.contamination import (
            decontaminate_registered,
        )

        train = decontaminate_registered(
            docs.sparkSession, train, eval_store, "doc_id", "text"
        )

    if weights is not None:
        train = mixture_resample(train, "doc_id", domain_col, weights)
    else:
        train = train.withColumn("copy_n", F.lit(1))

    sized = train.select(
        "doc_id", "lang", "split", F.col(domain_col), "copy_n",
        *(["text"] if with_text else []),
        F.size(tokens("text")).alias("n_tokens"),
        # packing key: distinct per (doc, copy) so upweighted copies
        # pack independently instead of colliding on doc_id. A composite
        # STRING key is collision-free (an arithmetic doc_id*K+copy key
        # overflows int64 for snowflake-style ids; a 64-bit hash key
        # would birthday-collide at the 10^10-row scale and fan out the
        # join back).
        F.concat_ws(":", F.col("doc_id"), F.col("copy_n")).alias("__pack_key"),
    )
    # persisted (r8): sized is consumed by THREE jobs — the packer's
    # data-derived shard count, the pack shuffle, and the join back —
    # and the two shuffles key differently (__shard vs __pack_key), so
    # exchange reuse cannot share them: without the persist the ENTIRE
    # upstream pipeline (curate → gates → near-dup dedup → decontam →
    # resample) re-executes once per consumer. The persisted frame is
    # the post-dedup TRAIN slice at its narrowest projection.
    sized = pooled_persist(sized)
    packed = pack_sequences(sized, "__pack_key", "n_tokens", budget=budget)
    return (
        sized.join(packed.select("__pack_key", "pack_id", "oversize"), "__pack_key")
        .drop("__pack_key")
    )


def pretrain_disposition(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    eval_store: str | None = None,
    weights: dict[str, float] | None = None,
    domain_col: str = "source",
    max_hamming: int = 10,
    ngram: int = 8,
    max_dup_fraction: float | None = None,
    excise_spans: bool = False,
    excise_k: int = 8,
    span_stride: int = 1,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    sem_nlist: int = 16,
    sem_threshold: float = 0.95,
    leakage_safe_split: bool = False,
    extract_html: bool = False,
    normalize_unicode: bool = False,
    survivor_by: str | None = None,
    checkpoint: str = "local",
) -> DataFrame:
    """Per-document WHOLE-PIPELINE disposition for
    :func:`prepare_pretraining_corpus`: every input document gets
    exactly one ``(doc_id, stage, dup_of)`` verdict naming the FIRST
    pipeline stage that removed it — in pipeline order ``token_count`` |
    ``avg_token_len`` | ``lang_mismatch`` | ``exact_dup`` (the curate
    gates) | ``dup_window_gate`` | ``excised_empty`` | ``neardup_dup``
    | ``semantic_dup`` | ``val`` / ``test`` (held out of training) |
    ``contaminated`` | ``resample_dropped`` — or ``packed`` for the
    documents that reach the training batch. ``dup_of`` (r11 rider)
    points duplicate-dropped docs at their kept twin: the content-hash
    winner on ``exact_dup`` rows, the cluster SURVIVOR on
    ``neardup_dup`` rows (regardless of the survivor's own later
    fate), NULL elsewhere. Aggregate with :func:`pretrain_funnel` for
    the ``(stage, n_docs)`` run report.

    At 100 TB "where did my documents go" across the WHOLE pipeline is
    the first question every run answers; the r10 negative result
    (Spark ``Observation`` latches at the first completed action, so
    pipeline-stage observers record partial counts under build-time
    probes — SCALE.md r10) means counters cannot ride the training
    run itself. This is the honest replacement: a SEPARATE audit plan
    that recomputes each stage's survivor set with the SAME operator
    calls and parameters, so its verdicts are exact by construction
    rather than instrumented. Conservation law (pinned in
    tests/test_pretrain.py): stage counts sum to the input count.

    Cost shape: the curate gates ride ``curate_disposition``'s slim
    persisted projection; every stage boundary after that is an
    anti/semi-join between frames persisted ONCE at their boundary
    (the text-bearing ``kept``/``unique`` frames are built once,
    exactly as the pipeline builds them); nothing corpus-sized is
    collected or broadcast. Stage boundaries are
    MATERIALIZED and plan-TRUNCATED (``localCheckpoint``): each stage
    references earlier frames several times, so a lazy composition's
    logical plan grows multiplicatively and Catalyst re-analysis alone
    took minutes before any job ran; the checkpoint keeps analysis
    flat and every probe/union branch at cached-read cost. The
    returned frame is likewise materialized — one slim row per
    document.
    """
    from etl_pack_spark.operators.components import neardup_clusters
    from etl_pack_spark.plans.curate import curate_disposition

    if extract_html:
        from etl_pack_spark.operators.cleaning import html_clean_lines

        docs = docs.withColumn(
            "text", F.array_join(html_clean_lines("text"), "\n")
        )
    if normalize_unicode:
        from etl_pack_spark.operators.textops import normalize_text_col

        docs = docs.withColumn("text", normalize_text_col("text"))

    # dup_of carries a doc id, so it must be TYPED as one: a hard-coded
    # long silently NULLs the kept-twin pointer on string-id corpora
    # (snowflake/UUID ids — the same id-space class the IVF seeding fix
    # was about) and makes the union fail confusingly on other types
    id_type = docs.schema["doc_id"].dataType

    def verdict(ids: DataFrame, stage: str) -> DataFrame:
        return ids.select(
            "doc_id",
            F.lit(stage).alias("stage"),
            F.lit(None).cast(id_type).alias("dup_of"),
        )

    # the audit plan ALWAYS truncates at stage boundaries (see eager);
    # ``checkpoint`` picks where the blocks live: "local" (executor
    # blocks, lineage gone — re-runnable report jobs) or "reliable"
    # (DataFrame.checkpoint into the SparkContext checkpoint dir —
    # preemptible clusters; r12, parity-pinned). Validated at entry.
    if eval_df is not None and eval_store is not None:
        raise ValueError(
            "pass eval_df OR eval_store, not both — the registry "
            "already holds every registered benchmark"
        )
    if checkpoint not in ("local", "reliable"):
        # False is not an option here: without truncation the audit's
        # multiplicative plan growth makes Catalyst analysis alone
        # take minutes (the r11 finding this design exists to fix)
        raise ValueError(
            "pretrain_disposition checkpoint must be 'local' or "
            f"'reliable' (got {checkpoint!r})"
        )
    eager_cp = _stage_checkpointer(checkpoint, docs.sparkSession)

    def eager(df: DataFrame) -> DataFrame:
        # materialize AND truncate the plan at the stage boundary
        # (checkpoint, not persist): this audit composes a dozen
        # stages that each reference earlier frames SEVERAL times
        # (verdict anti-join + survivor semi-join per stage), so the
        # LOGICAL plan grows multiplicatively with depth — a persist
        # caches execution but Catalyst still re-ANALYZES the whole
        # tower on every downstream call, which turned the all-options
        # build into minutes of driver-side analysis before any job
        # ran (measured at sf0.001; the fix took it to seconds). The
        # checkpoint also caps the operators' build-time probe actions
        # (simhash caps, cluster_dedup's bounded probe, semantic
        # centroid sampling) at cached-read cost. Checkpointed blocks
        # are released by Spark's ContextCleaner when the frames are
        # garbage-collected after the audit returns. Fault-tolerance
        # trade-off: localCheckpoint truncates lineage, so a lost
        # executor mid-audit fails the run instead of recomputing —
        # acceptable for a re-runnable report job; a preemptible-
        # cluster deployment passes checkpoint="reliable" (r12) for
        # the same spots via DataFrame.checkpoint.
        return eager_cp(df)

    # curate gates: the disposition IS the audit grain of curate_corpus
    # (its drop_stage IS NULL slice equals the survivor query).
    # dup_of rides through: exact_dup rows carry their kept twin's id
    cd = eager(curate_disposition(docs))
    out = cd.where(F.col("drop_stage").isNotNull()).select(
        "doc_id", F.col("drop_stage").alias("stage"), "dup_of"
    )
    base_cols = ["doc_id", "text", "lang", "split", domain_col]
    extra = (
        [survivor_by]
        if survivor_by is not None and survivor_by not in base_cols
        else []
    )
    kept = docs.join(
        cd.where(F.col("drop_stage").isNull()).select("doc_id", "split"),
        "doc_id",
    ).select(*base_cols, *extra)

    if max_dup_fraction is not None:
        spans = repeated_ngram_spans(
            kept, "doc_id", "text", max_dup_fraction=max_dup_fraction,
            stride=span_stride,
        )
        # slim persist: the gate's keep set feeds the loser anti-join
        # AND the survivor semi-join — unpersisted, the one-hash-
        # exchange duplication analysis runs once per consumer
        gate_keep = eager(
            spans.where(F.col("keep")).select("doc_id")
        )
        out = out.unionByName(verdict(
            kept.join(gate_keep, "doc_id", "left_anti"), "dup_window_gate"
        ))
        kept = kept.join(gate_keep, "doc_id", "left_semi")

    if excise_spans:
        from etl_pack_spark.operators.substrings import remove_repeated_spans

        cleaned = remove_repeated_spans(
            kept, "doc_id", "text", k=excise_k, stride=span_stride
        )
        # persist at the stage boundary: the excision is the single
        # most expensive lineage in the plan, and below this point the
        # husk verdict, the husk filter, the pair build, the dedup,
        # and the train slice ALL consume the excised frame
        kept = eager(
            kept.drop("text").join(
                cleaned.select("doc_id", F.col("clean_text").alias("text")),
                "doc_id",
            )
        )
        out = out.unionByName(verdict(
            kept.where(F.length("text") == 0), "excised_empty"
        ))
        kept = kept.where(F.length("text") > 0)

    # kept is consumed by the pair build, the (optional) split
    # regrouping, cluster_dedup, the neardup anti-join, and the train
    # slice — persist the post-gates frame once so the curate join +
    # gate lineage does not re-execute per consumer. (This is the
    # audit plan; its job is exactness at one-pass-per-stage cost.)
    kept = eager(kept)
    pairs = neardup.simhash_neardup_pairs(
        kept, "doc_id", "text", max_hamming=max_hamming
    ).select("id_a", "id_b")
    clusters = eager(neardup_clusters(pairs, "doc_id"))
    if leakage_safe_split:
        from etl_pack_spark.operators.sampling import grouped_split_assign

        kept = grouped_split_assign(
            kept.drop("split"), None, "doc_id", clusters=clusters
        ).drop("cluster_id")
    # unique is text-bearing (decontamination needs it) and feeds the
    # id projection, the train slice, and (via train) every later
    # stage — one boundary persist caps the cluster_dedup join pyramid
    # at a single execution
    unique = eager(cluster_dedup(
        kept, pairs, "doc_id", clusters=clusters, survivor_by=survivor_by
    ))
    # slim multi-consumer frame: the neardup anti-join, the holdout
    # slice, and the train slice all read it
    unique_ids = eager(unique.select("doc_id", "split"))
    # dup_of for near-dup losers = their cluster's SURVIVOR (which kept
    # doc shadowed mine): two cluster-sized joins over the persisted
    # labels — the loser's cluster_id, then the cluster's one surviving
    # member. The survivor's own LATER fate (contaminated, resampled
    # away) is its own row's verdict; the pointer names the doc that
    # won the dedup, not a guarantee it reached packing.
    survivors_by_cluster = clusters.join(
        unique_ids.select("doc_id"), "doc_id", "left_semi"
    ).select("cluster_id", F.col("doc_id").alias("__surv"))
    neardup_losers = (
        kept.select("doc_id")
        .join(unique_ids, "doc_id", "left_anti")
        .join(clusters, "doc_id")
        .join(survivors_by_cluster, "cluster_id")
    )
    out = out.unionByName(neardup_losers.select(
        "doc_id",
        F.lit("neardup_dup").alias("stage"),
        F.col("__surv").cast(id_type).alias("dup_of"),
    ))

    if embeddings is not None:
        alive = embeddings.join(
            unique_ids.select(F.col("doc_id").alias(emb_id_col)),
            emb_id_col, "left_semi",
        )
        surv = semantic_dedup(
            alive, nlist=sem_nlist, threshold=sem_threshold,
            id_col=emb_id_col,
        ).select(F.col(emb_id_col).alias("doc_id"))
        # slim boundary: consumed by the verdict AND the id anti-join;
        # unpersisted, each re-runs the within-cluster cosine scan
        sem_dropped = eager(alive.select(
            F.col(emb_id_col).alias("doc_id")
        ).join(surv, "doc_id", "left_anti"))
        out = out.unionByName(verdict(sem_dropped, "semantic_dup"))
        unique_ids = eager(
            unique_ids.join(sem_dropped, "doc_id", "left_anti")
        )

    # held out of training: kept, but never packed — the split name is
    # the stage (the funnel reader wants "routed to val" as an answer
    # to "where did it go", not a drop reason)
    out = out.unionByName(
        unique_ids.where(F.col("split") != "train").select(
            "doc_id",
            F.col("split").alias("stage"),
            F.lit(None).cast(id_type).alias("dup_of"),
        )
    )
    train = unique.join(
        unique_ids.where(F.col("split") == "train").select("doc_id"),
        "doc_id", "left_semi",
    )
    if eval_df is not None or eval_store is not None:
        if eval_df is not None:
            decon = decontaminate(train, eval_df, "doc_id", "text", n=ngram)
        else:
            from etl_pack_spark.operators.contamination import (
                decontaminate_registered,
            )

            decon = decontaminate_registered(
                docs.sparkSession, train, eval_store, "doc_id", "text"
            )
        decon_ids = eager(decon.select("doc_id"))
        out = out.unionByName(verdict(
            train.select("doc_id").join(decon_ids, "doc_id", "left_anti"),
            "contaminated",
        ))
        train = train.join(decon_ids, "doc_id", "left_semi")
    if weights is not None:
        surv_ids = eager(
            mixture_resample(train, "doc_id", domain_col, weights)
            .select("doc_id").distinct()
        )
        out = out.unionByName(verdict(
            train.select("doc_id").join(surv_ids, "doc_id", "left_anti"),
            "resample_dropped",
        ))
        train = train.join(surv_ids, "doc_id", "left_semi")
    # packing assigns pack ids and flags oversize rows; it drops
    # nothing — the remaining train docs ARE the training batch
    out = out.unionByName(verdict(train.select("doc_id"), "packed"))
    # materialize the audit result (one slim row per doc); the stage
    # boundaries' checkpointed blocks become collectible once this
    # function's frames go out of scope
    return eager_cp(out)


def pretrain_funnel(docs: DataFrame, **kwargs) -> DataFrame:
    """The pipeline-level funnel report: ``(stage, n_docs)`` over
    :func:`pretrain_disposition` — same shape as
    ``cleaning.curation_funnel``, one combinable groupBy over a dozen
    stage values, report-sized at any corpus scale. Stage counts sum
    to the input document count (the conservation law every run
    report should be checkable against)."""
    return pretrain_disposition(docs, **kwargs).groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
