"""Curation entry point — the third spark-submit surface (alongside
run.py and detect_anomalies.py, deliberately separate jobs on their own
cadence): run the plans/curation.py DAG over a parquet documents table
and write the cleaned sink + fate ledger + metrics JSON.

Usage:
    zip -qr /tmp/sherlog_spark.zip sherlog_parser_spark -x '*__pycache__*'
    spark-submit --master 'local[8]' --py-files /tmp/sherlog_spark.zip \
        scripts/curate.py --input docs.parquet --out /tmp/curated \
        [--bench bench_docs.parquet] [--id-col doc_id] [--text-col text]
        [--nfc] [--ngram 4] [--min-tokens 10] [--commit-groups 4]
        [--no-resume]
        [--mixture-target N --mixture-domain-col source]   # r5
        [--shard-tokens 100000] [--seq-len 2048]           # r5

Prints one JSON line: {"rows_kept": ..., "fates": {...}, "wall_sec": ...,
"docs_per_sec": ...}.  Resumable: a killed run re-invoked with the same
input/config skips committed bucket groups (fingerprint-validated
manifest, exactly like run.py).

r5 write-side stages (all off by default): temperature-scaled mixture
sampling over a domain column of the INPUT table, token-budget shard
packing to <out>/shards/shard_id=N/ (one budget-sized file per shard),
and the fixed-length sequence boundary map to <out>/sequences — the
chain a training pipeline runs between curation and the data loader.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--bench", default=None, help="benchmark docs parquet for decontamination")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--nfc", action="store_true", help="NFC-normalize text first")
    ap.add_argument("--ngram", type=int, default=4)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--commit-groups", type=int, default=4)
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--lm-min-avg-q", type=int, default=0,
        help="CCNet-style LM filter: drop docs whose mean per-token quantized "
        "bigram-LM score is below this (0 = stage off)",
    )
    ap.add_argument("--lm-vocab", type=int, default=256)
    ap.add_argument(
        "--line-filter", action="store_true",
        help="run the C4 line-level boilerplate stage first "
        "(functions/linefilter.py defaults; dropped docs take fate "
        "'line_filtered')",
    )
    ap.add_argument(
        "--line-min-words", type=int, default=3,
        help="minimum words per surviving line (with --line-filter)",
    )
    ap.add_argument(
        "--line-no-terminal", action="store_true",
        help="drop the terminal-punctuation line rule (corpora without "
        "sentence punctuation)",
    )
    ap.add_argument(
        "--paragraph-dedup", action="store_true",
        help="run CCNet corpus-global paragraph dedup before document "
        "dedup (fate 'paragraph_filtered' for fully-repeated docs)",
    )
    ap.add_argument(
        "--paragraph-normalize", action="store_true",
        help="dedup paragraphs on lowercased/trimmed text (with "
        "--paragraph-dedup)",
    )
    ap.add_argument(
        "--embeddings", default=None,
        help="embeddings parquet for the SemDeDup semantic-dedup stage "
        "(joined to documents by id)",
    )
    ap.add_argument("--embeddings-id-col", default="vec_id")
    ap.add_argument(
        "--semdedup-threshold", type=float, default=0.95,
        help="within-cluster cosine threshold for semantic duplicates",
    )
    ap.add_argument(
        "--semdedup-lists", type=int, default=16,
        help="KMeans cluster count for the SemDeDup quantizer",
    )
    ap.add_argument(
        "--classifier", default=None,
        help="path to a saved quality classifier (operators/classifier."
        "save_classifier); enables the distilled-filter stage",
    )
    ap.add_argument(
        "--classifier-min-prob", type=float, default=0.5,
        help="drop docs whose quality probability is below this",
    )
    ap.add_argument(
        "--dsir-target", default=None,
        help="SQL predicate over the survivors defining the DSIR target "
        "domain (e.g. \"lang = 'en'\"); enables the importance-selection "
        "stage",
    )
    ap.add_argument(
        "--dsir-min-avg-q", type=int, default=0,
        help="drop docs whose per-gram quantized importance score is "
        "below this (with --dsir-target)",
    )
    # r5 write-side stages after curation (0 = off):
    ap.add_argument(
        "--mixture-target", type=int, default=0,
        help="temperature-scaled (alpha=0.5) total kept-doc target across --mixture-domain-col domains",
    )
    ap.add_argument("--mixture-domain-col", default="source")
    ap.add_argument(
        "--shard-tokens", type=int, default=0,
        help="pack survivors into token-budget shards, written to <out>/shards/shard_id=N/",
    )
    ap.add_argument(
        "--seq-len", type=int, default=0,
        help="also write the fixed-length sequence boundary map to <out>/sequences",
    )
    ap.add_argument(
        "--bpe-merges", type=int, default=0,
        help="with --seq-len: train a BPE tokenizer (this many merges) on "
        "the survivors and write LOADER-READY packed token sequences to "
        "<out>/packed_tokens (exactly seq-len tokens each, ragged tail "
        "excepted)",
    )
    args = ap.parse_args()

    from sherlog_parser_spark.plans.curation import run_curation_pipeline
    from sherlog_parser_spark.session import CacheScope, get_spark

    def _load_clf(spark, path, min_prob):
        from sherlog_parser_spark.operators.classifier import load_classifier

        return {"clf": load_classifier(spark, path), "min_prob": min_prob}

    spark = get_spark("sherlog-curate", master=args.master)
    try:
        docs = spark.read.parquet(args.input)
        bench = spark.read.parquet(args.bench) if args.bench else None
        res = run_curation_pipeline(
            spark,
            docs,
            args.out,
            bench_docs=bench,
            n_buckets=args.n_buckets,
            commit_groups=args.commit_groups,
            resume=not args.no_resume,
            id_col=args.id_col,
            text_col=args.text_col,
            nfc=args.nfc,
            ngram=args.ngram,
            min_tokens=args.min_tokens,
            lm_filter=(
                {"min_avg_score_q": args.lm_min_avg_q, "vocab_size": args.lm_vocab}
                if args.lm_min_avg_q > 0
                else None
            ),
            line_filter_opts=(
                {
                    "min_words": args.line_min_words,
                    "require_terminal": not args.line_no_terminal,
                }
                if args.line_filter
                else None
            ),
            paragraph_dedup_opts=(
                {"normalize": args.paragraph_normalize}
                if args.paragraph_dedup
                else None
            ),
            semdedup_opts=(
                {
                    "embeddings": spark.read.parquet(args.embeddings)
                    .withColumnRenamed(args.embeddings_id_col, args.id_col),
                    "centroids": args.semdedup_lists,
                    "threshold": args.semdedup_threshold,
                }
                if args.embeddings
                else None
            ),
            classifier_filter=(
                _load_clf(spark, args.classifier, args.classifier_min_prob)
                if args.classifier
                else None
            ),
            dsir_filter=(
                {
                    "target_predicate": args.dsir_target,
                    "min_avg_score_q": args.dsir_min_avg_q,
                }
                if args.dsir_target
                else None
            ),
        )
        packing: dict = {}
        if args.shard_tokens > 0 or args.seq_len > 0:
            # the sharding operators cache their range-partitioned input
            # here until the sinks below are written
            with CacheScope() as cache:
                from pyspark.sql import functions as F

                from sherlog_parser_spark.functions.textstats import ws_token_count_expr
                from sherlog_parser_spark.operators.mixture import mixture_sample
                from sherlog_parser_spark.operators.sharding import (
                    assign_shards,
                    pack_sequences,
                )

                survivors = (
                    spark.read.parquet(res.cleaned_dir)
                    .withColumn("n_tokens", ws_token_count_expr(args.text_col))
                    .filter(F.col("n_tokens") > 0)
                )
                if args.mixture_target > 0:
                    # the cleaned sink keeps only (id, text[, bucket]) — the
                    # domain column lives on the INPUT table; recover it with
                    # an equi-join on the id (AQE broadcasts if it fits)
                    dom = docs.select(args.id_col, args.mixture_domain_col)
                    survivors = mixture_sample(
                        survivors.join(dom, args.id_col),
                        args.mixture_domain_col,
                        total_target=args.mixture_target,
                        alpha=0.5,
                    )
                    packing["n_mixed"] = survivors.count()
                if args.shard_tokens > 0:
                    sharded = assign_shards(
                        survivors, "n_tokens", args.id_col, shard_tokens=args.shard_tokens,
                        cache=cache,
                    )
                    # repartition BY shard_id first: the task owning a shard
                    # writes its whole directory — one budget-sized file per
                    # shard, no cross-task interleaving
                    (
                        sharded.repartition(F.col("shard_id"))
                        .write.mode("overwrite")
                        .partitionBy("shard_id")
                        .parquet(f"{args.out}/shards")
                    )
                    packing["n_shards"] = (
                        spark.read.parquet(f"{args.out}/shards")
                        .select("shard_id").distinct().count()
                    )
                if args.seq_len > 0:
                    packed = pack_sequences(
                        survivors, "n_tokens", args.id_col, seq_len=args.seq_len, cache=cache
                    )
                    (
                        packed.repartitionByRange(F.col("seq_id"))
                        .write.mode("overwrite")
                        .parquet(f"{args.out}/sequences")
                    )
                    packing["n_sequences"] = (
                        spark.read.parquet(f"{args.out}/sequences")
                        .select("seq_id").distinct().count()
                    )
                if args.seq_len > 0 and args.bpe_merges > 0:
                    from sherlog_parser_spark.operators.bpe import bpe_encode, train_bpe
                    from sherlog_parser_spark.operators.sharding import (
                        pack_array_sequences,
                    )

                    model = train_bpe(survivors, args.text_col, n_merges=args.bpe_merges)
                    enc = bpe_encode(survivors, model.merges, args.text_col, args.id_col)
                    tok_seqs = pack_array_sequences(
                        enc, "bpe_tokens", args.id_col, seq_len=args.seq_len, cache=cache
                    )
                    (
                        tok_seqs.repartitionByRange(F.col("seq_id"))
                        .write.mode("overwrite")
                        .parquet(f"{args.out}/packed_tokens")
                    )
                    packing["n_packed_token_seqs"] = (
                        spark.read.parquet(f"{args.out}/packed_tokens").count()
                    )
                    packing["bpe_merges_learned"] = len(model.merges)
        print(
            json.dumps(
                {
                    "rows_kept": res.n_rows,
                    "fates": res.fate_counts,
                    "wall_sec": round(res.wall_sec, 3),
                    "docs_per_sec": round(sum(res.fate_counts.values()) / res.wall_sec, 1)
                    if res.wall_sec > 0
                    else None,
                    "cleaned_dir": res.cleaned_dir,
                    **packing,
                }
            )
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
