"""Command-line transfer runner — operational parity with the
reference's reader/writer binaries.

The reference ships per-database binaries driven by flags
(``mysql/reader/main.go:28-35``: ``-target -fields -window -order
-increment -batch -workers -schedule``). Here one CLI drives the whole
pipeline; Spark replaces workers/batch (task scheduling) and an
external scheduler (cron/Airflow) replaces ``-schedule``, each firing
being one invocation — or pass ``--streaming`` for the
checkpoint-tracked availableNow variant.

``MODES`` is the one statement of which flags each mode takes: every
firing is checked against it before a Spark session starts, and a flag
its mode does not take exits 2 instead of being ignored.

    python -m etl_pack_spark.cli \
        --source-dir /root/testdata/sf0.001 --table lineitem \
        --target /tmp/tgt --fields l_orderkey,l_shipdate \
        --window l_shipdate:1996-01-01:1996-12-31 --increment
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def parse_window(raw: str) -> tuple[str, str, str]:
    """``column:from:to`` (reference flag format,
    mysql/reader/main.go:32,47-50)."""
    parts = raw.split(":", 2)
    if len(parts) != 3 or not all(parts):
        raise argparse.ArgumentTypeError(
            f"--window must be column:from:to (got {raw!r})"
        )
    return (parts[0], parts[1], parts[2])


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_pack_spark", description=__doc__)
    p.add_argument("--source-dir", help="directory of parquet tables")
    p.add_argument("--table", help="source table name")
    p.add_argument("--target", default=None, help="target parquet path")
    # lake maintenance modes: the OTHER cron jobs besides transfer
    p.add_argument("--compact", default=None, metavar="SRC",
                   help="compact/cluster parquet at SRC into --target "
                        "instead of running a transfer")
    p.add_argument("--compact-partitions", default=None, metavar="ROOT",
                   help="selective in-place compaction of a partitioned "
                        "table: rewrite only fragmented leaves (>= "
                        "--min-files files under half the target size), "
                        "each swapped atomically")
    p.add_argument("--min-files", type=int, default=2,
                   help="compact-partitions: leaves with fewer files "
                        "are never rewritten")
    p.add_argument("--compact-sigstore", default=None, metavar="STORE",
                   help="compact an append-only signature/URL store to "
                        "one latest row per id (crash-safe swap; no "
                        "matching-behavior change) instead of a transfer")
    p.add_argument("--id-col", default=None,
                   help="--compact-sigstore / --store-stats / --funnel "
                        "(c4 gates) / --drift / --datacard / "
                        "--decontaminate-check: the id column (default: "
                        "doc_id)")
    p.add_argument("--compact-codes", default=None, metavar="INDEX",
                   help="compact an IVF-PQ index's codes store to one "
                        "latest row per id (crash-safe swap; no query-"
                        "behavior change) instead of a transfer")
    p.add_argument("--update-clusters", default=None, metavar="STORE",
                   help="fold not-yet-processed match pairs from "
                        "--matches into the persisted near-dup clusters "
                        "store at STORE (exact incremental relabeling, "
                        "crash-safe swap) instead of a transfer")
    p.add_argument("--matches", default=None, metavar="PATH",
                   help="update-clusters: the append-only matches sink "
                        "written by the near-dup ingest firings")
    p.add_argument("--funnel", default=None, metavar="DOCS",
                   help="curation-audit firing: run the C4 disposition "
                        "over a parquet docs path and print the per-gate "
                        "funnel (stage -> doc count) as JSON; --min-words/"
                        "--min-lines tune the gates, --text-col names the "
                        "text column")
    p.add_argument("--funnel-gates", choices=["c4", "curate", "pretrain"],
                   default=None,
                   help="--funnel: which gate family to audit — the C4 "
                        "cleaning recipe (per-doc drop_stage from "
                        "c4_disposition), the curation pipeline "
                        "(token/avg-len/lang gates + exact-dup from "
                        "curate_disposition; needs doc_id/text/lang), or "
                        "the WHOLE pretraining pipeline (curate gates + "
                        "near-dup cluster dedup + split routing, from "
                        "pretrain_disposition; needs doc_id/text/lang/"
                        "source — stage counts sum to the corpus size)")
    p.add_argument("--text-col", default=None,
                   help="--funnel (c4 gates) / --drift / --datacard / "
                        "--register-eval / --decontaminate-check: the "
                        "text column (default: text)")
    p.add_argument("--min-words", type=int, default=None,
                   help="--funnel with c4 gates: min words per "
                        "surviving line (default: 5)")
    p.add_argument("--min-lines", type=int, default=None,
                   help="--funnel with c4 gates: min surviving lines "
                        "per kept doc (default: 3)")
    p.add_argument("--drift", default=None, metavar="BASELINE",
                   help="quality-drift firing: PSI per text-quality "
                        "signal between the BASELINE parquet docs and "
                        "--drift-batch, printed as JSON (signal -> psi "
                        "+ stable/moderate/major verdict); uses "
                        "--id-col/--text-col (defaults doc_id/text)")
    p.add_argument("--drift-batch", default=None, metavar="BATCH",
                   help="--drift: the ingest-batch parquet docs path")
    p.add_argument("--drift-stream", default=None, metavar="SRC",
                   help="--drift: resident variant (r13) — availableNow "
                        "streaming over the docs files landing under SRC; "
                        "each micro-batch is PSI-checked against the "
                        "saved-histogram BASELINE and appended to "
                        "--report-out (mode=drift_stream, detail=batch "
                        "id); requires --checkpoint and --report-out, "
                        "BASELINE must be a --drift-save-baseline "
                        "histogram")
    p.add_argument("--drift-save-baseline", default=None, metavar="HIST",
                   help="--drift: instead of a firing, compute the "
                        "baseline signal histogram over the --drift docs "
                        "ONCE and save it to HIST (atomic swap; a few-"
                        "dozen-row parquet) — later firings pass HIST as "
                        "the --drift baseline and cost one batch scan "
                        "instead of rescanning the baseline corpus")
    p.add_argument("--drift-config", default=None, metavar="JSON",
                   help="--drift with --drift-batch or --drift-save-"
                        "baseline: custom bucket config as a JSON file "
                        '{"edges": {signal: [cut, ...]}, "categories": '
                        "{signal: [value, ...]}}; REPLACES the built-in "
                        "web-corpus spec (an omitted section disables "
                        "that signal family). A saved baseline histogram "
                        "remembers its config: firings against it reuse "
                        "the stored config automatically and reject a "
                        "contradictory --drift-config")
    p.add_argument("--datacard", default=None, metavar="DOCS",
                   help="dataset-card firing: one-pass per-group + "
                        "grand-total corpus summary (doc/token volumes, "
                        "token-length p50/p90/p99, stopword/repetition "
                        "averages, language-label agreement) over the "
                        "parquet docs at DOCS, as JSON, instead of a "
                        "transfer; uses --id-col/--text-col and "
                        "--datacard-groups")
    p.add_argument("--datacard-groups", default=None, metavar="COLS",
                   help="--datacard: comma-separated group columns "
                        "(default: lang)")
    p.add_argument("--langid-model", default=None, metavar="MODEL",
                   help="--datacard: saved NB langid model store; when "
                        "present, lang_match_frac (declared vs "
                        "predicted) scores against the trained model "
                        "instead of the marker heuristic; a missing "
                        "store falls back to the heuristic")
    p.add_argument("--register-eval", default=None, metavar="DOCS",
                   help="eval-registry firing: fingerprint the parquet "
                        "eval docs at DOCS (distinct word n-gram hashes) "
                        "into the registry at --eval-store under the name "
                        "--eval-set, instead of a transfer; idempotent "
                        "(a retried firing appends 0); later "
                        "decontamination runs check ALL registered sets "
                        "in one corpus scan")
    p.add_argument("--decontaminate-check", default=None, metavar="DOCS",
                   help="registry read firing (report-only, r13): check "
                        "the parquet corpus at DOCS against EVERY eval "
                        "set registered in --eval-store — per-set flagged "
                        "doc counts and total shared n-grams as JSON, one "
                        "corpus scan per registered shingle width, no "
                        "writes; --report-out appends the per-set counts "
                        "to the history store")
    p.add_argument("--eval-store", default=None, metavar="STORE",
                   help="--register-eval / --decontaminate-check: the "
                        "registry parquet store")
    p.add_argument("--eval-set", default=None, metavar="NAME",
                   help="--register-eval: the benchmark's name")
    p.add_argument("--eval-ngram", type=int, default=None, metavar="N",
                   help="--register-eval: shingle width; pinned at first "
                        "registration (default 8), later firings must "
                        "omit or match")
    p.add_argument("--report-trend", default=None, metavar="STORE",
                   help="trend read over a --report-out history store: "
                        "per (mode, metric) the firing count, last "
                        "value/verdict, and first major-shift timestamp, "
                        "as JSON, instead of a transfer; compact the "
                        "store with --compact STORE --target STORE "
                        "--in-place when firings accumulate")
    p.add_argument("--report-out", default=None, metavar="STORE",
                   help="--funnel / --drift with --drift-batch or "
                        "--drift-stream / --datacard / --decontaminate-"
                        "check: also APPEND this firing's "
                        "report rows (fired_at_ms, mode, subject, "
                        "detail, metric, value, verdict) to the parquet "
                        "history store at STORE — the cron-trend "
                        "surface; at-least-once, group by fired_at_ms "
                        "to read")
    p.add_argument("--store-stats", default=None, metavar="STORE",
                   help="print maintenance stats for an append-only "
                        "latest-wins store (physical vs live rows, "
                        "compaction watermark, tail size, dead fraction "
                        "— the compact-now signal) instead of a transfer; "
                        "uses --id-col")
    p.add_argument("--fold-safety-lag-ms", type=int, default=0,
                   help="update-clusters: leave match stamps younger "
                        "than this for the next firing — required when "
                        "ingest may commit CONCURRENTLY with the fold "
                        "(set above the worst batch-commit duration); "
                        "0 = quiesced-scheduler posture")
    p.add_argument("--total", action="store_true",
                   help="update-clusters: also report the resolved "
                        "labeled-node total (prices one extra full-"
                        "store read; default output is the delta only)")
    p.add_argument("--cluster-by", default="",
                   help="--compact / --compact-partitions: range-cluster "
                        "by these columns")
    p.add_argument("--zorder-by", default="",
                   help="compact: Z-ORDER by these columns "
                        "(multi-dimensional pruning)")
    p.add_argument("--target-file-mb", type=float, default=256.0,
                   help="--compact / --compact-partitions: target "
                        "output file size")
    p.add_argument("--zorder-bits", type=int, default=0,
                   help="compact: bits per z-order dimension "
                        "(0 = auto: min(16, 63 // n_cols))")
    p.add_argument("--in-place", action="store_true",
                   help="compact: atomically swap the result into "
                        "--target via staged write + backup + rename "
                        "(crash-safe; --compact SRC may equal --target)")
    p.add_argument("--fields", default="", help="comma-separated projection (default: all)")
    p.add_argument("--window", type=parse_window, default=None,
                   help="range predicate column:from:to (inclusive)")
    p.add_argument("--order", default="", help="comma-separated sort spec (col [DESC])")
    p.add_argument("--increment", action="store_true",
                   help="dedup against target via canonical row hashes")
    p.add_argument("--partition-by", default="", help="target partition columns")
    p.add_argument("--streaming", action="store_true",
                   help="availableNow streaming variant with checkpoint tracking")
    p.add_argument("--checkpoint", default=None,
                   help="checkpoint dir (--streaming / --drift-stream)")
    return p


# drift-config parsing/canonicalization live with the drift operators
# (operators/quality.py) since r13 — the streaming monitor needs them too
from etl_pack_spark.operators.quality import (  # noqa: E402
    append_report_rows as _append_report,
    canonical_drift_config as _canonical_drift_config,
    drift_config_from_json as _drift_config_from_json,
)


_TRANSFER = "batch transfer"

# Every firing mode and the argparse dests it takes, as (required,
# optional). This table is the one statement of which flags each mode
# takes: a mode's flags are exactly the ``args.*`` fields its body in
# ``main`` reads, and any other flag given with it is an error. Every
# mode but the batch transfer lists the flag that selects it first.
MODES: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    _TRANSFER: (("source_dir", "table", "target"),
               ("fields", "window", "order", "increment", "partition_by")),
    "--streaming": (("streaming", "source_dir", "table", "target",
                     "checkpoint"), ()),
    "--compact": (("compact", "target"),
                  ("cluster_by", "zorder_by", "zorder_bits",
                   "target_file_mb", "in_place")),
    "--compact-partitions": (("compact_partitions",),
                             ("cluster_by", "target_file_mb", "min_files")),
    "--compact-sigstore": (("compact_sigstore",), ("id_col",)),
    "--compact-codes": (("compact_codes",), ()),
    "--update-clusters": (("update_clusters", "matches"),
                          ("fold_safety_lag_ms", "total")),
    "--store-stats": (("store_stats",), ("id_col",)),
    "--funnel": (("funnel",),
                 ("funnel_gates", "id_col", "text_col", "min_words",
                  "min_lines", "report_out")),
    "--funnel-gates curate": (("funnel", "funnel_gates"), ("report_out",)),
    "--funnel-gates pretrain": (("funnel", "funnel_gates"), ("report_out",)),
    "--drift --drift-batch": (("drift", "drift_batch"),
                              ("drift_config", "id_col", "text_col",
                               "report_out")),
    "--drift --drift-save-baseline": (("drift", "drift_save_baseline"),
                                      ("drift_config", "id_col",
                                       "text_col")),
    "--drift --drift-stream": (("drift", "drift_stream", "checkpoint",
                                "report_out"), ("id_col", "text_col")),
    "--report-trend": (("report_trend",), ()),
    "--register-eval": (("register_eval", "eval_store", "eval_set"),
                        ("text_col", "eval_ngram")),
    "--datacard": (("datacard",),
                   ("datacard_groups", "langid_model", "id_col", "text_col",
                    "report_out")),
    "--decontaminate-check": (("decontaminate_check", "eval_store"),
                              ("id_col", "text_col", "report_out")),
}
_MODE_FLAGS = tuple(dict.fromkeys(
    required[0] for mode, (required, _) in MODES.items() if mode != _TRANSFER
))
_DRIFT_SUBS = ("drift_batch", "drift_save_baseline", "drift_stream")


def _flags(dests) -> str:
    return ", ".join("--" + d.replace("_", "-") for d in dests)


def _mode_error(parser: argparse.ArgumentParser,
                args: argparse.Namespace) -> str | None:
    """The one flag-membership check: pick the mode from the given flags
    and reject flags it does not take, then missing required ones. A
    flag counts as given when its value differs from its default."""
    given = [d for d, v in vars(args).items() if v != parser.get_default(d)]
    flags = [d for d in _MODE_FLAGS if d in given]
    if len(flags) > 1:
        return f"{_flags(flags)} are exclusive"
    mode = _flags(flags) or _TRANSFER
    if mode == "--funnel" and args.funnel_gates in ("curate", "pretrain"):
        mode = f"--funnel-gates {args.funnel_gates}"
    elif mode == "--drift":
        subs = [d for d in _DRIFT_SUBS if d in given]
        if len(subs) != 1:
            return ("--drift takes exactly one of --drift-batch (a PSI "
                    "firing), --drift-save-baseline (persist the baseline "
                    "histogram) or --drift-stream (resident monitor)")
        mode = f"--drift {_flags(subs)}"
    required, optional = MODES[mode]
    foreign = [d for d in given if d not in required + optional]
    if foreign:
        owners = [m for m, (req, opt) in MODES.items()
                  if any(d in req + opt for d in foreign)]
        return (f"{_flags(foreign)} do not apply to {mode} "
                f"(they only apply to {', '.join(owners)})")
    missing = [d for d in required if d not in given]
    if missing:
        return f"{mode} requires {_flags(missing)}"
    return None


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)

    # validate BEFORE building a Spark session: a cron misconfiguration
    # should fail in milliseconds with a clear message, not after tens
    # of seconds of JVM startup
    err = _mode_error(parser, args)
    if err:
        print(f"error: {err}", file=sys.stderr)
        return 2
    drift_edges = drift_categories = None
    if args.drift_config:
        # parse + validate BEFORE the JVM: every name/value lands in
        # generated expressions, and a cron misconfiguration should
        # fail in milliseconds with the offending value named
        try:
            with open(args.drift_config, encoding="utf-8") as fh:
                drift_edges, drift_categories = _drift_config_from_json(
                    fh.read()
                )
        except (OSError, ValueError) as e:
            print(f"error: --drift-config {args.drift_config}: {e}",
                  file=sys.stderr)
            return 2
    if args.target_file_mb <= 0 or args.min_files < 2:
        print("error: --target-file-mb must be > 0 and --min-files >= 2",
              file=sys.stderr)
        return 2
    if args.cluster_by and args.zorder_by:
        print("error: --cluster-by and --zorder-by are exclusive",
              file=sys.stderr)
        return 2
    # z-order bit budget: bits*len(cols) must fit in 63 bits. Auto
    # (--zorder-bits 0) clamps to the widest legal value so 4+ columns
    # just work; an EXPLICIT over-budget value is a config error and
    # must fail here, not after JVM startup.
    zorder_cols = [c for c in args.zorder_by.split(",") if c]
    zorder_bits = args.zorder_bits
    if zorder_cols:
        if zorder_bits == 0:
            zorder_bits = min(16, 63 // len(zorder_cols))
        elif zorder_bits < 1 or zorder_bits * len(zorder_cols) > 63:
            print(
                f"error: --zorder-bits {zorder_bits} with "
                f"{len(zorder_cols)} columns needs bits*cols in "
                f"[1, 63]; max here is {63 // len(zorder_cols)} "
                "(or 0 for auto)",
                file=sys.stderr)
            return 2
    if args.compact and not args.in_place and (
        os.path.normpath(os.path.abspath(args.compact))
        == os.path.normpath(os.path.abspath(args.target))
    ):
        print("error: --compact SRC equals --target; pass --in-place "
              "for an atomic self-rewrite", file=sys.stderr)
        return 2

    from etl_pack_spark.session import get_spark

    spark = get_spark("etl_pack_spark_cli")

    if args.funnel:
        from etl_pack_spark.operators.cleaning import (
            c4_disposition,
            curation_funnel,
        )

        docs = spark.read.parquet(args.funnel)
        gates = args.funnel_gates or "c4"
        if gates == "pretrain":
            # the WHOLE-pipeline funnel (r11): curate gates + near-dup
            # cluster dedup + split routing, conservation-law checked
            from etl_pack_spark.plans.pretrain import pretrain_funnel

            fun = pretrain_funnel(docs)
        elif gates == "curate":
            from etl_pack_spark.plans.curate import curate_disposition

            fun = curation_funnel(curate_disposition(docs))
        else:
            fun = curation_funnel(c4_disposition(
                docs, args.id_col or "doc_id", args.text_col or "text",
                min_words=5 if args.min_words is None else args.min_words,
                min_lines=3 if args.min_lines is None else args.min_lines,
                require_terminal=False,
            ))
        stages = {r["stage"]: r["n_docs"] for r in fun.collect()}
        if args.report_out:
            _append_report(spark, args.report_out, [
                {"metric": stage, "value": float(n), "verdict": None}
                for stage, n in sorted(stages.items())
            ], mode="funnel", subject=args.funnel,
                detail=gates)
        print(json.dumps({"mode": "funnel", "gates": gates,
                          "docs": args.funnel, "stages": stages,
                          "total": sum(stages.values())}))
        return 0

    if args.drift:
        from etl_pack_spark.operators.quality import (
            DRIFT_CATEGORIES,
            DRIFT_EDGES,
            psi_report,
            signal_histogram,
        )
        from etl_pack_spark.operators.textops import text_signals
        from etl_pack_spark.sinks.fsio import read_text, write_text

        id_col = args.id_col or "doc_id"
        text_col = args.text_col or "text"
        if drift_edges is None and drift_categories is None:
            cfg_edges, cfg_categories = dict(DRIFT_EDGES), dict(DRIFT_CATEGORIES)
            cfg_explicit = False
        else:
            cfg_edges, cfg_categories = drift_edges, drift_categories
            cfg_explicit = True

        def hist_over_docs(path: str):
            return signal_histogram(
                text_signals(spark.read.parquet(path), id_col, text_col),
                cfg_edges, cfg_categories,
            )

        if args.drift_stream:
            from etl_pack_spark.streaming.incremental import (
                stream_quality_drift,
            )

            try:
                n = stream_quality_drift(
                    spark, args.drift_stream, args.drift,
                    args.checkpoint, args.report_out,
                    id_col=id_col, text_col=text_col,
                )
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            print(json.dumps({"mode": "drift_stream",
                              "baseline": args.drift,
                              "source": args.drift_stream,
                              "micro_batches": n,
                              "report": args.report_out}))
            return 0

        if args.drift_save_baseline:
            # persist the baseline histogram ONCE (r11 VERDICT #2): the
            # fixed-edge design makes it a reusable few-dozen-row
            # artifact, so every later firing costs one BATCH scan
            # instead of a full baseline-corpus rescan. Atomic swap
            # (same posture as the other maintenance artifacts) + the
            # bucket config stored INSIDE the directory (underscore
            # name: invisible to parquet readers), so firings can
            # verify they bucket the batch the same way.
            from etl_pack_spark.sinks.atomic import (
                clean_orphan_stages,
                publish_swap,
                recover_swap,
                stage_dir,
            )

            target = args.drift_save_baseline
            recover_swap(target)
            clean_orphan_stages(target, "drift_stage_")
            staged = stage_dir(target, "drift_stage_")
            hist_over_docs(args.drift).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staged)
            write_text(
                spark, staged.rstrip("/") + "/_drift_config.json",
                _canonical_drift_config(cfg_edges, cfg_categories),
            )
            publish_swap(staged, target)
            n = spark.read.parquet(target).count()
            print(json.dumps({
                "mode": "drift_save_baseline", "docs": args.drift,
                "histogram": target, "buckets": n,
                "signals": sorted([*cfg_edges, *cfg_categories]),
            }))
            return 0

        # firing: the baseline is either a saved histogram (exactly the
        # signal_histogram schema) or a docs corpus to scan
        base_df = spark.read.parquet(args.drift)
        if set(base_df.columns) == {"signal", "bucket", "n", "p"}:
            stored = read_text(
                spark, args.drift.rstrip("/") + "/_drift_config.json"
            )
            if stored is None and not cfg_explicit:
                # r13 (ADVICE): the save path ALWAYS writes the config
                # sidecar, so a histogram without one is a tampered or
                # partially-copied store — silently bucketing the batch
                # with the built-in default would compute PSI between
                # potentially differently-bucketed histograms, the
                # exact meaningless case the explicit-config path
                # rejects loudly
                print(f"error: baseline histogram {args.drift} has no "
                      "_drift_config.json — the store is tampered or "
                      "partially copied; re-save the baseline with "
                      "--drift-save-baseline, or pass the original "
                      "--drift-config explicitly", file=sys.stderr)
                return 2
            if stored is not None and not cfg_explicit:
                # reuse the config the baseline was bucketed with
                try:
                    cfg_edges, cfg_categories = _drift_config_from_json(
                        stored
                    )
                except ValueError as e:
                    print(f"error: stored drift config in {args.drift} "
                          f"is invalid: {e}", file=sys.stderr)
                    return 2
            elif stored is not None and cfg_explicit and \
                    _canonical_drift_config(cfg_edges, cfg_categories) != \
                    json.dumps(json.loads(stored), sort_keys=True):
                print("error: --drift-config contradicts the config the "
                      f"baseline histogram {args.drift} was saved with — "
                      "PSI between differently-bucketed histograms is "
                      "meaningless; re-save the baseline or drop the flag",
                      file=sys.stderr)
                return 2
            report_df = psi_report(base_df, hist_over_docs(args.drift_batch))
        else:
            report_df = psi_report(
                hist_over_docs(args.drift),
                hist_over_docs(args.drift_batch),
            )
        report = {
            r["signal"]: {"psi": r["psi"], "verdict": r["verdict"]}
            for r in report_df.collect()
        }
        worst = max((v["psi"] for v in report.values()), default=0.0)
        if args.report_out:
            _append_report(spark, args.report_out, [
                {"metric": sig, "value": v["psi"], "verdict": v["verdict"]}
                for sig, v in sorted(report.items())
            ], mode="drift", subject=args.drift, detail=args.drift_batch)
        print(json.dumps({"mode": "drift", "baseline": args.drift,
                          "batch": args.drift_batch, "signals": report,
                          "max_psi": worst}))
        return 0

    if args.datacard:
        from etl_pack_spark.operators.quality import corpus_datacard

        docs = spark.read.parquet(args.datacard)
        groups = tuple(
            c for c in (args.datacard_groups or "lang").split(",") if c
        )
        if not groups:
            # r13 (ADVICE): a separators-only value (e.g. ",") used to
            # fall through as an empty tuple and build GROUPING SETS of
            # two identical empty sets — duplicate total-ish rows and
            # an oracle IndexError downstream
            print("error: --datacard-groups parsed to no columns "
                  f"(got {args.datacard_groups!r})", file=sys.stderr)
            return 2
        missing = [c for c in groups if c not in docs.columns]
        if missing:
            print(f"error: --datacard group columns {missing} not in "
                  f"{args.datacard}", file=sys.stderr)
            return 2
        try:
            card = corpus_datacard(
                docs, args.id_col or "doc_id", args.text_col or "text",
                group_cols=groups,
                # label agreement only when the corpus carries a language
                # label; its absence is normal, not an error
                lang_col="lang" if "lang" in docs.columns else None,
                langid_model_path=args.langid_model,
            )
        except ValueError as e:
            # carry-column collisions (a group column named like a
            # signal output) are config errors: exit-2, not a traceback
            print(f"error: {e}", file=sys.stderr)
            return 2
        rows = [r.asDict() for r in card.collect()]
        rows.sort(key=lambda r: (r["is_total"],
                                 [str(r[c]) for c in groups]))
        if args.report_out:
            # r13 (round-12 VERDICT #4): the datacard IS the corpus-
            # composition report, so it must trend like funnel/drift.
            # Two row families share the firing stamp: the grand-total
            # row's numeric metrics (mode=datacard), and the per-group
            # token-volume mix (mode=datacard_mix) — a categorical
            # histogram --report-trend can PSI between firings exactly
            # like funnel stage mixes.
            # a zero-row corpus yields zero GROUPING SETS rows — record
            # the firing as n_docs=0 instead of crashing (an all-dropped
            # curation output is exactly what a trend monitor must see)
            total_row = next(
                (r for r in rows if r["is_total"] == 1), {"n_docs": 0}
            )
            metric_keys = [
                k for k in total_row
                if k not in groups and k != "is_total"
                and total_row[k] is not None
            ]
            _append_report(spark, args.report_out, [
                {"metric": k, "value": float(total_row[k]),
                 "verdict": None}
                for k in sorted(metric_keys)
            ], mode="datacard", subject=args.datacard, detail="total")
            # JSON-encode the group tuple as the metric key: a raw
            # "|".join aliases values containing "|" (or multi-column
            # tuples that concatenate equally) into one PSI bucket,
            # silently skewing datacard_shift (r14)
            _append_report(spark, args.report_out, [
                {"metric": json.dumps([str(r[c]) for c in groups]),
                 "value": float(r["n_tokens_total"]), "verdict": None}
                for r in rows if r["is_total"] == 0
            ], mode="datacard_mix", subject=args.datacard,
                detail=",".join(groups))
        print(json.dumps({"mode": "datacard", "docs": args.datacard,
                          "groups": list(groups), "rows": rows}))
        return 0

    if args.decontaminate_check:
        from pyspark.sql import functions as F

        from etl_pack_spark.operators.contamination import (
            registered_eval_sets,
            registry_contamination_report,
        )
        from etl_pack_spark.sinks.fsio import exists as fs_exists

        if not fs_exists(spark, args.decontaminate_check):
            print(f"error: no docs at {args.decontaminate_check}",
                  file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.decontaminate_check)
        try:
            rep = registry_contamination_report(
                spark, docs, args.eval_store,
                id_col=args.id_col or "doc_id",
                text_col=args.text_col or "text",
            )
            # every registered set appears, clean ones at zero — a
            # report that omits clean sets can't say "checked against N
            # benchmarks" (the eval_contamination zero-row posture)
            per_set = {
                r["eval_set"]: {"docs_flagged": 0, "hits_total": 0}
                for r in registered_eval_sets(spark, args.eval_store)
                .collect()
            }
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        for r in rep.groupBy("eval_set").agg(
            F.count_distinct(args.id_col or "doc_id")
            .alias("docs_flagged"),
            F.sum("hits").alias("hits_total"),
        ).collect():
            per_set[r["eval_set"]] = {"docs_flagged": r["docs_flagged"],
                                      "hits_total": r["hits_total"]}
        if args.report_out:
            _append_report(spark, args.report_out, [
                {"metric": s, "value": float(v["docs_flagged"]),
                 "verdict": None}
                for s, v in sorted(per_set.items())
            ], mode="decontamination", subject=args.decontaminate_check,
                detail=args.eval_store)
        print(json.dumps({"mode": "decontaminate_check",
                          "docs": args.decontaminate_check,
                          "store": args.eval_store,
                          "docs_total": docs.count(),
                          "sets": per_set}))
        return 0

    if args.register_eval:
        from etl_pack_spark.operators.contamination import (
            register_eval_set,
            registered_eval_sets,
        )
        from etl_pack_spark.sinks.fsio import exists as fs_exists

        if not fs_exists(spark, args.register_eval):
            print(f"error: no eval docs at {args.register_eval}",
                  file=sys.stderr)
            return 2
        try:
            appended = register_eval_set(
                spark, spark.read.parquet(args.register_eval),
                args.eval_store, args.eval_set,
                text_col=args.text_col or "text",
                n=args.eval_ngram,
            )
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        inv = {r["eval_set"]: r["n_grams"]
               for r in registered_eval_sets(spark, args.eval_store)
               .collect()}
        print(json.dumps({"mode": "register_eval",
                          "store": args.eval_store,
                          "eval_set": args.eval_set,
                          "appended": appended,
                          "registered_sets": inv}))
        return 0

    if args.report_trend:
        from pyspark.sql import functions as F

        from etl_pack_spark.sinks.fsio import exists as fs_exists

        if not fs_exists(spark, args.report_trend):
            print(f"error: no report store at {args.report_trend} — "
                  "point --report-trend at a store written by "
                  "--report-out", file=sys.stderr)
            return 2
        trend = (
            spark.read.parquet(args.report_trend)
            .groupBy("mode", "metric")
            .agg(
                F.countDistinct("fired_at_ms").alias("n_firings"),
                F.max("fired_at_ms").alias("last_fired_at_ms"),
                F.expr("max_by(value, fired_at_ms)").alias("last_value"),
                F.expr("max_by(verdict, fired_at_ms)").alias("last_verdict"),
                F.min(
                    F.when(F.col("verdict") == "major", F.col("fired_at_ms"))
                ).alias("first_major_ms"),
            )
        )
        # report-sized by construction: one row per (mode, metric)
        rows = [r.asDict() for r in trend.collect()]
        rows.sort(key=lambda r: (r["mode"], r["metric"]))
        # mix shift: a funnel firing's stage counts — and, since r13, a
        # datacard firing's per-group token totals (mode=datacard_mix)
        # — ARE categorical histograms, so PSI between the earliest and
        # latest firing prices "did my drop mix / corpus composition
        # shift" with the same statistic and thresholds the drift
        # monitor uses — all over report-sized frames
        from etl_pack_spark.operators.quality import psi_report

        def mix_shifts(mode: str) -> list[dict]:
            hist_src = spark.read.parquet(args.report_trend).where(
                F.col("mode") == mode
            )
            shifts = []
            for b in hist_src.groupBy("subject").agg(
                F.min("fired_at_ms").alias("first"),
                F.max("fired_at_ms").alias("last"),
            ).collect():
                if b["first"] == b["last"]:
                    continue  # a single firing has nothing to compare

                def mix_hist(ts):
                    bucket = F.col("metric")
                    if mode == "datacard_mix":
                        # legacy-key normalization (r14 ADVICE): pre-r14
                        # firings wrote '|'.join group keys, r14+ writes
                        # json.dumps lists — comparing an old firing
                        # against a new one bucket-by-bucket would find
                        # two DISJOINT sets and report a spurious major
                        # shift. Canonicalize BOTH formats through one
                        # expression (JSON list when it parses, else the
                        # '|' split) so buckets line up across the
                        # format break; see MIGRATION.md for the
                        # residual '|'-in-value aliasing caveat.
                        bucket = F.to_json(F.coalesce(
                            F.from_json(F.col("metric"), "array<string>"),
                            F.split(F.col("metric"), r"\|"),
                        ))
                    h = hist_src.where(
                        (F.col("subject") == b["subject"])
                        & (F.col("fired_at_ms") == ts)
                    ).select(
                        F.lit("mix").alias("signal"),
                        bucket.alias("bucket"),
                        F.col("value").alias("n"),
                    ).groupBy("signal", "bucket").agg(
                        # post-normalization duplicates (two legacy keys
                        # aliasing to one canonical bucket) fold instead
                        # of double-counting in the join below
                        F.sum("n").alias("n")
                    )
                    tot = h.groupBy("signal").agg(F.sum("n").alias("__t"))
                    return h.join(tot, "signal").select(
                        "signal", "bucket", "n",
                        (F.col("n") / F.col("__t")).alias("p"),
                    )

                res = psi_report(
                    mix_hist(b["first"]), mix_hist(b["last"])
                ).collect()[0]
                shifts.append({
                    "subject": b["subject"],
                    "first_fired_at_ms": b["first"],
                    "last_fired_at_ms": b["last"],
                    "psi": res["psi"], "verdict": res["verdict"],
                })
            shifts.sort(key=lambda s: s["subject"])
            return shifts

        print(json.dumps({
            "mode": "report_trend",
            "store": args.report_trend, "metrics": rows,
            "funnel_shift": mix_shifts("funnel"),
            "datacard_shift": mix_shifts("datacard_mix"),
            # r13: flagged-doc mix across --decontaminate-check firings
            # — "did the contamination composition shift between
            # ingests", same statistic and thresholds
            "decontamination_shift": mix_shifts("decontamination"),
        }))
        return 0

    if args.store_stats:
        from etl_pack_spark.streaming.incremental import store_stats

        stats = store_stats(spark, args.store_stats, args.id_col or "doc_id")
        print(json.dumps({"mode": "store_stats",
                          "store": args.store_stats, **stats}))
        return 0

    if args.update_clusters:
        from etl_pack_spark.streaming.incremental import (
            read_cluster_store,
            update_cluster_store,
        )

        n = update_cluster_store(
            spark, args.update_clusters, args.matches,
            safety_lag_ms=args.fold_safety_lag_ms,
        )
        out = {"mode": "update_clusters",
               "store": args.update_clusters, "delta_rows": n}
        if args.total:
            from etl_pack_spark.sinks.fsio import exists as fs_exists

            out["total_rows"] = (
                read_cluster_store(spark, args.update_clusters).count()
                if fs_exists(spark, args.update_clusters) else 0
            )
        print(json.dumps(out))
        return 0

    if args.compact_codes:
        from etl_pack_spark.operators.quantize import ivf_pq_compact

        n = ivf_pq_compact(spark, args.compact_codes)
        print(json.dumps({"mode": "compact_codes",
                          "index": args.compact_codes, "rows": n}))
        return 0

    if args.compact_sigstore:
        from etl_pack_spark.streaming.incremental import compact_signature_store

        n = compact_signature_store(spark, args.compact_sigstore,
                                    args.id_col or "doc_id")
        print(json.dumps({"mode": "compact_sigstore",
                          "store": args.compact_sigstore, "rows": n}))
        return 0

    if args.compact_partitions:
        from etl_pack_spark.sinks.compaction import compact_partitions

        stats = compact_partitions(
            spark, args.compact_partitions,
            target_file_mb=args.target_file_mb, min_files=args.min_files,
            cluster_by=[c for c in args.cluster_by.split(",") if c] or None,
        )
        print(json.dumps({
            "mode": "compact_partitions", "root": args.compact_partitions,
            "rewritten": [
                {"leaf": s_.out_path, "in_files": s_.in_files,
                 "out_files": s_.out_files} for s_ in stats
            ],
        }))
        return 0

    if args.compact:
        from etl_pack_spark.sinks.atomic import (
            carry_sidecars,
            clean_orphan_stages,
            publish_swap,
            recover_swap,
            stage_dir,
        )
        from etl_pack_spark.sinks.compaction import compact, compact_zorder

        if args.in_place:
            # a previous firing may have died mid-swap; restore first
            # so the source read below sees the pre-crash table, and
            # drop any staging dir a pre-swap crash orphaned
            recover_swap(args.target)
            clean_orphan_stages(args.target, "compact_stage_")
            out_path = stage_dir(args.target, prefix="compact_stage_")
        else:
            out_path = args.target
        if zorder_cols:
            st = compact_zorder(
                spark, args.compact, out_path, zorder_cols,
                target_file_mb=args.target_file_mb, bits=zorder_bits,
            )
        else:
            st = compact(
                spark, args.compact, out_path,
                target_file_mb=args.target_file_mb,
                cluster_by=[c for c in args.cluster_by.split(",") if c] or None,
            )
        if args.in_place:
            # underscore manifests describe the DATA, which the rewrite
            # preserves — carry them into the staged dir so the swap
            # cannot orphan a store from its own metadata (r13; the
            # eval registry's width manifest was the motivating case)
            carry_sidecars(args.compact, out_path)
            publish_swap(out_path, args.target)
        print(json.dumps({"mode": "compact", "in_files": st.in_files,
                          "out_files": st.out_files, "target": args.target}))
        return 0

    if args.streaming:
        from etl_pack_spark.streaming.incremental import stream_incremental_transfer

        src = f"{args.source_dir}/{args.table}.parquet"
        batches = stream_incremental_transfer(spark, src, args.target, args.checkpoint)
        print(json.dumps({"mode": "streaming", "micro_batches": batches,
                          "target": args.target}))
        return 0

    from etl_pack_spark.plans.transfer import TransferConfig, run_transfer

    cfg = TransferConfig(
        source_dir=args.source_dir,
        table=args.table,
        target_path=args.target,
        fields=[f for f in args.fields.split(",") if f],
        window=args.window,
        order=[o for o in args.order.split(",") if o],
        increment=args.increment,
        partition_by=[c for c in args.partition_by.split(",") if c],
    )
    res = run_transfer(spark, cfg)
    print(json.dumps({"mode": "batch", "rows": res.rows, "target": res.target}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
