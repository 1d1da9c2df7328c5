"""spark-submit entry for the corpus-curation pipeline:

    spark-submit --py-files dist/duplicate_finder_spark.zip \\
        jobs/curate.py --input /path/docs_parquet \\
        --eval-input /path/benchmark_parquet --warehouse /path/wh

The training-data complement to jobs/dedup.py: (optional) URL-domain
blocklist + per-host cap + badword blocklist → quality gate →
benchmark decontamination → (optional) within-doc repeated-line
removal → CCNet paragraph dedup → (optional)
ExactSubstr span removal → (optional) SemDeDup semantic dedup over a
supplied embedding table → (optional) per-stratum token-budget
sampling → (optional) DSIR importance selection against a trusted
target sample → (optional) post-curation training artifacts: a BPE
tokenizer trained over the survivors (``--bpe-merges``, writing the
``bpe_merges`` + ``bpe_vocab`` tables) and a temperature-α source
mixture plan (``--mix-alpha``/``--mix-budget``, writing ``mixture``)
— every stage checkpointed through the Warehouse facade
(fingerprint-keyed resume-on-rerun), per-stage rows/walls logged to
the ``metrics`` table, the surviving corpus written to ``curated``,
and one JSON funnel summary printed for the orchestrator.

The eval split is either a separate table (``--eval-input``) or a
deterministic id split (``--eval-mod N --eval-rem R`` marks
``id % N == R`` as held-out benchmark docs, excluded from training
output and used as the decontamination probe).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from duplicate_finder_spark.functions.text import token_count
from duplicate_finder_spark.operators.curation import (decontaminate,
                                                       quality_gate)
from duplicate_finder_spark.operators.exact_substr import exact_substr_apply
from duplicate_finder_spark.operators.paragraphs import paragraph_dedup_apply
from duplicate_finder_spark.operators.sampling import token_budget_sample
from duplicate_finder_spark.partitioning import autosize_unless_set
from duplicate_finder_spark.pipeline import StageRecorder
from duplicate_finder_spark.session import job_session, read_pages
from duplicate_finder_spark.warehouse import get_warehouse


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="curate-job")
    p.add_argument("--input", required=True,
                   help="documents table: parquet path (id/text[/strata])"
                        " or catalog.ns.table with --format iceberg")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--format", choices=("parquet", "iceberg"),
                   default="parquet")
    p.add_argument("--eval-input", default=None,
                   help="held-out benchmark table (parquet path); "
                        "mutually exclusive with --eval-mod")
    p.add_argument("--eval-mod", type=int, default=0,
                   help="deterministic eval split: id %% MOD == REM")
    p.add_argument("--eval-rem", type=int, default=7)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-tokens", type=int, default=20)
    p.add_argument("--max-dup-frac", type=float, default=0.07)
    p.add_argument("--gopher-w", type=int, default=2)
    p.add_argument("--contam-n", type=int, default=6)
    p.add_argument("--para-w", type=int, default=3)
    p.add_argument("--exact-substr-len", type=int, default=0,
                   help="> 0: remove later occurrences of duplicated "
                        "spans of this char length after paragraph dedup")
    p.add_argument("--sample-strata", default=None,
                   help="stratum column for token-budget sampling "
                        "(stage skipped when unset)")
    p.add_argument("--sample-budget", type=int, default=0,
                   help="token budget per stratum (with --sample-strata)")
    p.add_argument("--url-col", default=None,
                   help="url column of the input (enables --max-per-host)")
    p.add_argument("--max-per-host", type=int, default=0,
                   help="> 0 with --url-col: Dolma-style source "
                        "balancing — keep only the first K pages per "
                        "url host (skew-bounded two-phase top-K, "
                        "operators/domains.py) before the quality gate")
    p.add_argument("--embeddings", default=None,
                   help="embedding table (parquet: id + array<float>) "
                        "for SemDeDup semantic dedup of the survivors "
                        "(operators/semantic.py); ids must align with "
                        "--id-col values")
    p.add_argument("--emb-id-col", default="vec_id")
    p.add_argument("--emb-vec-col", default="embedding")
    p.add_argument("--semantic-threshold", type=float, default=0.95)
    p.add_argument("--semantic-cells", type=int, default=64)
    p.add_argument("--dsir-target", default=None,
                   help="trusted target sample (parquet: id + text) for "
                        "DSIR importance selection of the final corpus "
                        "(operators/importance.py)")
    p.add_argument("--dsir-k", type=int, default=0,
                   help="> 0 with --dsir-target: keep only the K most "
                        "target-like surviving docs")
    p.add_argument("--dsir-buckets", type=int, default=1 << 16)
    p.add_argument("--gopher-rules", action="store_true",
                   help="after the quality gate, apply the full Gopher "
                        "Table A1 document rules as a join-free filter "
                        "(operators/gopherquality.py)")
    p.add_argument("--gopher-min-words", type=int, default=50)
    p.add_argument("--gopher-min-stopwords", type=int, default=2)
    p.add_argument("--lm-target", default=None,
                   help="parquet dir of trusted docs; enables the "
                        "CCNet-style perplexity gate (operators/lm.py)")
    p.add_argument("--lm-max-mean-nll", type=int, default=0,
                   help="keep docs with mean NLL ≤ this (integer "
                        "micro-nats); required with --lm-target")
    p.add_argument("--lm-buckets", type=int, default=1 << 14)
    p.add_argument("--redact-pii", action="store_true",
                   help="final stage: replace emails/IPv4s/phone "
                        "numbers in the surviving text with class "
                        "tokens (functions/pii.py)")
    p.add_argument("--domain-blocklist", default=None,
                   help="parquet table with a 'domain' column; with "
                        "--url-col, drop pages whose host equals or is "
                        "a subdomain of any entry (first stage, "
                        "operators/blocklist.py)")
    p.add_argument("--badwords", default=None,
                   help="parquet table with a 'word' column; drop docs "
                        "containing any listed token (after the "
                        "quality gate, operators/blocklist.py)")
    p.add_argument("--bpe-merges", type=int, default=0,
                   help="> 0: after curation, train a BPE tokenizer of "
                        "this many merges over the surviving corpus "
                        "(operators/bpe.py) and write the bpe_merges + "
                        "bpe_vocab artifact tables")
    p.add_argument("--bpe-checkpoint-every", type=int, default=0,
                   help="> 0 with --bpe-merges: checkpoint the "
                        "training state to the warehouse every N "
                        "merges (resume-on-rerun for long "
                        "vocabularies)")
    p.add_argument("--mix-alpha", type=float, default=0.0,
                   help="in (0,1]: write the temperature-α source "
                        "mixture plan over the surviving corpus "
                        "(operators/mixture.py) as the mixture table; "
                        "requires --mix-budget and --mix-source-col "
                        "present in the input")
    p.add_argument("--mix-budget", type=int, default=0,
                   help="training-run token budget for --mix-alpha")
    p.add_argument("--mix-source-col", default="source")
    p.add_argument("--dedup-lines", action="store_true",
                   help="remove REPEATED lines within each doc (keep "
                        "first occurrence) before the corpus-level "
                        "paragraph dedup (operators/c4.py)")
    p.add_argument("--softdedup-weights", action="store_true",
                   help="artifact: write per-doc duplication-aware "
                        "sampling weights (1/exact-multiplicity) over "
                        "the surviving corpus as the softdedup table "
                        "(operators/sampling.py)")
    p.add_argument("--input-id", default=None,
                   help="stable id for the input snapshot (stage-cache "
                        "key); defaults to the input path")
    p.add_argument("--no-autosize", action="store_true",
                   help="keep the session's spark.sql.shuffle.partitions "
                        "instead of sizing it from the scanned input "
                        "bytes")
    return p.parse_args(argv)


def _fingerprint(args: argparse.Namespace) -> str:
    import hashlib
    key = json.dumps({
        k: getattr(args, k) for k in (
            "eval_input", "eval_mod", "eval_rem", "min_tokens",
            "max_dup_frac", "gopher_w", "contam_n", "para_w",
            "exact_substr_len", "sample_strata", "sample_budget",
            "url_col", "max_per_host", "redact_pii", "embeddings",
            "gopher_rules", "gopher_min_words", "gopher_min_stopwords",
            "lm_target", "lm_max_mean_nll", "lm_buckets",
            "emb_id_col", "emb_vec_col", "semantic_threshold",
            "semantic_cells", "dsir_target", "dsir_k", "dsir_buckets",
            "bpe_merges", "mix_alpha", "mix_budget", "mix_source_col",
            "domain_blocklist", "badwords", "dedup_lines",
            "softdedup_weights")},
        sort_keys=True)
    base = args.input_id or args.input
    return hashlib.sha256(f"{base}|{key}".encode()).hexdigest()[:16]


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if bool(args.eval_input) == bool(args.eval_mod):
        print("exactly one of --eval-input / --eval-mod is required",
              file=sys.stderr)
        return 2
    if args.lm_target and args.lm_max_mean_nll <= 0:
        print("--lm-target requires --lm-max-mean-nll > 0",
              file=sys.stderr)
        return 2
    if args.mix_alpha and not (0 < args.mix_alpha <= 1
                               and args.mix_budget > 0):
        print("--mix-alpha needs a value in (0,1] and --mix-budget > 0",
              file=sys.stderr)
        return 2
    if args.domain_blocklist and not args.url_col:
        print("--domain-blocklist requires --url-col", file=sys.stderr)
        return 2

    spark = job_session("curate")
    idc, txc = args.id_col, args.text_col
    try:
        docs = read_pages(spark, args.input, args.format)
        # shuffle sized to the scanned input, as in jobs/dedup.py: an
        # explicit spark.sql.shuffle.partitions in the SparkConf is kept
        if not args.no_autosize:
            autosize_unless_set(spark, docs)
        # strata column (if any) rejoins at the end by id — the funnel
        # itself runs on the minimal (id, text) projection
        if args.eval_input:
            train = docs
            ev = spark.read.parquet(args.eval_input)
        else:
            pred = (F.col(idc) % args.eval_mod) == args.eval_rem
            train, ev = docs.filter(~pred), docs.filter(pred)
        keep_cols = [idc, txc]
        if args.sample_strata is not None:
            keep_cols.append(args.sample_strata)
        cap_on = args.url_col and args.max_per_host > 0
        if args.url_col and (cap_on or args.domain_blocklist):
            keep_cols.append(args.url_col)
        train = train.select(*keep_cols)

        wh = get_warehouse(spark, args.warehouse, fmt=args.format)
        fp = _fingerprint(args)
        recorder = StageRecorder(wh, fp)
        staged = recorder.staged

        base = train
        if args.domain_blocklist:
            from duplicate_finder_spark.operators.blocklist import (
                domain_blocklist_filter)
            bl = spark.read.parquet(args.domain_blocklist)
            base = staged("domain_blocked", lambda inner=base:
                          domain_blocklist_filter(
                              inner.select(idc, txc, args.url_col),
                              bl, url_col=args.url_col)
                          .filter(F.col("blocked_by").isNull())
                          .select(idc, txc, args.url_col))
        if cap_on:
            from duplicate_finder_spark.operators.domains import (
                cap_per_host)
            base = staged("host_capped", lambda inner=base: cap_per_host(
                inner.select(idc, txc, args.url_col),
                args.max_per_host, url_col=args.url_col)
                .select(idc, txc))
        quality = staged("quality", lambda: quality_gate(
            base.select(idc, txc), args.min_tokens, args.max_dup_frac,
            args.gopher_w, idc, txc))
        gate = quality
        if args.badwords:
            from duplicate_finder_spark.operators.blocklist import (
                badword_filter)
            bwt = spark.read.parquet(args.badwords)
            gate = staged("badword_filtered", lambda inner=gate:
                          badword_filter(inner, bwt, text_col=txc,
                                         id_col=idc)
                          .filter(F.col("n_badwords") == 0)
                          .select(idc, txc))
        if args.gopher_rules:
            from duplicate_finder_spark.operators.gopherquality import (
                gopher_filter)
            gate = staged("gopher_rules", lambda inner=gate:
                          gopher_filter(
                              inner, idc, txc,
                              min_words=args.gopher_min_words,
                              min_required_hits=args.gopher_min_stopwords))
        if args.lm_target:
            from duplicate_finder_spark.operators.lm import lm_score
            tgt = spark.read.parquet(args.lm_target)
            def _lm(inner=gate):
                keep = (lm_score(inner, tgt.select(idc, txc),
                                 args.lm_buckets, idc, txc)
                        .filter(F.col("mean_nll_micro")
                                <= args.lm_max_mean_nll)
                        .select(idc))
                return inner.join(keep, idc, "semi")
            gate = staged("lm_filtered", _lm)
        decon = staged("decontaminated", lambda: decontaminate(
            gate, ev.select(idc, txc), args.contam_n, idc, txc))
        if args.dedup_lines:
            from duplicate_finder_spark.operators.c4 import (
                dedup_lines_within_doc)
            decon = staged("line_deduped", lambda inner=decon:
                           dedup_lines_within_doc(inner, idc, txc)
                           .select(idc,
                                   F.col("clean_text").alias(txc)))
        para = staged("para_deduped", lambda: paragraph_dedup_apply(
            decon, args.para_w, idc, txc)
            .withColumnRenamed("clean_text", txc))
        cur = para
        if args.exact_substr_len > 0:
            cur = staged("exact_substr", lambda: exact_substr_apply(
                cur, args.exact_substr_len, idc, txc)
                .withColumnRenamed("clean_text", txc))
        if args.embeddings:
            from duplicate_finder_spark.operators.semantic import (
                semantic_dedup)
            emb = spark.read.parquet(args.embeddings)
            def _semantic(inner=cur):
                drops = (semantic_dedup(
                    emb, threshold=args.semantic_threshold,
                    n_cells=args.semantic_cells,
                    id_col=args.emb_id_col, vec_col=args.emb_vec_col)
                    .filter(F.col("action") == "drop")
                    .select(F.col("vec_id").alias(idc)))
                return inner.join(drops, idc, "anti")
            cur = staged("semantic_deduped", _semantic)
        if args.sample_strata and args.sample_budget > 0:
            strata = train.select(idc, args.sample_strata)
            def _sample(inner=cur):
                keep = token_budget_sample(
                    inner.join(strata, idc), args.sample_strata,
                    args.sample_budget, token_count(txc), idc)
                return inner.join(keep.select(idc), idc, "semi")
            cur = staged("sampled", _sample)
        if args.dsir_target and args.dsir_k > 0:
            from duplicate_finder_spark.operators.importance import (
                dsir_select)
            tgt = spark.read.parquet(args.dsir_target)
            def _dsir(inner=cur):
                keep = dsir_select(
                    inner.select(idc, txc), tgt.select(idc, txc),
                    args.dsir_k, n_buckets=args.dsir_buckets,
                    id_col=idc, text_col=txc)
                return inner.join(keep.select(idc), idc, "semi")
            cur = staged("dsir_selected", _dsir)
        if args.redact_pii:
            from duplicate_finder_spark.functions.pii import scrub_pii
            def _pii(inner=cur):
                return (scrub_pii(inner.select(idc, txc), txc)
                        .select(idc,
                                F.col("redacted_text").alias(txc)))
            cur = staged("pii_redacted", _pii)

        # post-curation training artifacts: the corpus ships with its
        # tokenizer and sampling plan (neither shrinks the funnel —
        # their metrics rows count merges / sources, not documents)
        if args.bpe_merges > 0:
            from duplicate_finder_spark.operators.bpe import (bpe_train,
                                                              bpe_vocab,
                                                              word_counts)
            merges_df = staged("bpe_merges", lambda inner=cur: bpe_train(
                word_counts(inner, text_col=txc), args.bpe_merges,
                warehouse=wh,
                checkpoint_every=args.bpe_checkpoint_every,
                input_fp=fp))
            pairs = [(r["left"], r["right"]) for r in
                     merges_df.orderBy("merge_rank").collect()]
            staged("bpe_vocab", lambda inner=cur: bpe_vocab(
                word_counts(inner, text_col=txc), pairs))
        if args.softdedup_weights:
            from duplicate_finder_spark.operators.sampling import (
                softdedup_weights)
            staged("softdedup", lambda inner=cur:
                   softdedup_weights(inner, idc, txc))
        if args.mix_alpha:
            from duplicate_finder_spark.operators.mixture import (
                mixture_weights)
            src = args.mix_source_col
            if src not in docs.columns:
                print(f"--mix-alpha: input has no column {src!r} "
                      f"(--mix-source-col)", file=sys.stderr)
                return 2
            def _mix(inner=cur):
                with_src = inner.join(
                    docs.select(idc, src), idc)
                return mixture_weights(with_src, args.mix_alpha,
                                       args.mix_budget,
                                       source_col=src, text_col=txc)
            staged("mixture", _mix)

        manifest = wh.write(cur, "curated", stage="curated", fingerprint=fp)
        recorder.write(spark)
        print(json.dumps({
            "rows": manifest.rows,
            "n_partitions": manifest.n_partitions,
            "skew_ratio": round(manifest.skew_ratio, 3),
            "funnel": [{"stage": m["stage"], "rows": m["rows"],
                        "resumed": m["resumed"]} for m in recorder.rows],
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
