"""Training-data curation pipeline — the document-side sibling of the
parse pipeline (plans/pipeline.py), composing the curation operators
into ONE DAG with the same checkpointed-commit-group write discipline:

    scan documents
      → unicode NFC normalize      (Arrow-batched pandas UDF, optional)
      → line-level boilerplate cut (optional C4 rules, functions/
                                    linefilter.py — narrow map, no shuffle)
      → paragraph dedup            (optional CCNet corpus-global
                                    first-occurrence paragraph dedup,
                                    operators/dedup.paragraph_dedup)
      → exact dedup                (one shuffle on md5(text), min-id wins)
      → MinHash near-dedup         (banded LSH candidates → connected
                                    components → min-id representative)
      → SemDeDup semantic dedup    (optional, operators/semdedup.py —
                                    embedding-cluster-bucketed cosine
                                    groups, keep the centroid-farthest)
      → substring cuts             (cross-doc repeated n-gram spans
                                    merged + removed, Lee et al. 2022)
      → quality filter             (Gopher-style first-failing-rule)
      → LM filter                  (optional CCNet-style bigram-LM
                                    score threshold, operators/lm.py)
      → classifier filter          (optional distilled quality model,
                                    operators/classifier.py — hashed-
                                    gram counts + broadcast weight join)
      → DSIR filter                (optional importance selection vs a
                                    target-domain subset, operators/
                                    dsir.py — quantized integer scores)
      → PII redaction              (ordered regexp_replace chain)
      → decontamination            (broadcast benchmark shingle set)
      → bucketed, checkpointed parquet sink + per-doc fate ledger

Every stage is an existing tested operator (operators/dedup.py,
operators/components.py, functions/textstats.py, functions/pii.py);
this module contributes the composition, the drop-ledger and the
cleaned-sink group writer; the commit protocol (run fingerprint check,
per-group Observation + manifest commit, resume) and the thread that
overlaps the fate count with the group writes are
``checkpoint.open_run``/``commit_groups``, shared with the parse
pipeline.  ``run_curation_pipeline`` caches the DAG's shared frames in
one ``session.CacheScope`` and releases it on exit, whichever step
fails (the near-dup frames outlive it: ``release_near_dup``).
Reference lifecycle analog: the data-prep half of
LogProcessingPipeline.process_dataset (src/core/pipeline.py:52-130) —
its clean → dedup → filter loop over batches becomes a declarative DAG
over partitions.

Scale shape: the only data-sized shuffles are the dedup groupBys / the
shingle explodes inside the span detection — each individually
100-TB-shaped (see the operator docstrings).  The benchmark shingle set
is the one genuinely small side and is broadcast.  The ledger is one
row per input document with its fate.  The loser fates are counted by
one aggregation of the ledger (not per-stage count() jobs) that runs
during the group writes and reads no survivor row; 'kept' is the
committed row count.

Driver cost: every Column call is a Py4J round trip, so the
lambda-heavy expressions (shingles, the top-n-gram signal, the
substring-cut mask) are single SQL expressions, the n-gram shingles
are built once per DAG, and each stage adds one ``select`` rather than
a ``withColumn`` chain (``tests/test_curation_pipeline.py`` pins the
build's Py4J calls and jobs).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sherlog_parser_spark import checkpoint, fs
from sherlog_parser_spark.functions import pii as PII
from sherlog_parser_spark.functions import textstats as TS
from sherlog_parser_spark.operators.components import connected_components
from sherlog_parser_spark.operators.dedup import (
    minhash_dup_candidates,
    repeated_ngram_span_positions,
    substring_dedup_cut,
)
from sherlog_parser_spark.plans import pipeline
from sherlog_parser_spark.session import CacheScope
from sherlog_parser_spark.sources.readers import fan_out


# The near-dup stage's MinHash band buckets and span shingles outlive the
# DAG build that cached them, keyed by the exact-dedup survivors they
# derive from: a repeated or resumed run over the same input reads them
# from the CacheManager instead of rebuilding them (6-7 of a run's 37-38
# jobs on the test corpus).  The next build over other survivors releases
# them first, so at most one input's pair is held.
_near_dup: dict = {"key": None, "cache": CacheScope()}


def release_near_dup() -> None:
    """Unpersist the kept near-dup frames."""
    _near_dup["cache"].release()
    _near_dup["key"] = None


def with_quality_reason(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "_reason",
    min_tokens: int = 10,
    max_dup_5gram_x1e4: int = 5000,
    max_top_2gram_char_x1e4: int = 1500,
) -> DataFrame:
    """Adds a Gopher-style first-failing-rule reason column:
    'too_short' | 'rep_5gram' | 'top_2gram' | 'keep'.  Thresholds
    compare fixed-point ints (house float rule).  A DataFrame transform
    (not a bare expression) because the shingle arrays MUST be bound as
    attributes before the HOF-heavy stats — an interpreted HOF lambda
    referencing an outer expression tree re-evaluates it per element
    (functions/textstats.py module note)."""
    bound = df.select(
        "*",
        TS.word_shingles_expr(text_col, 2).alias("_q_sh2"),
        TS.word_shingles_expr(text_col, 5).alias("_q_sh5"),
    )
    reason = (
        F.when(TS.ws_token_count_expr(text_col) < min_tokens, "too_short")
        .when(TS.x1e4(TS.dup_frac_expr("_q_sh5")) >= max_dup_5gram_x1e4, "rep_5gram")
        .when(
            TS.x1e4(TS.top_ngram_char_frac_expr("_q_sh2", text_col))
            >= max_top_2gram_char_x1e4,
            "top_2gram",
        )
        .otherwise("keep")
    )
    return bound.select(*df.columns, reason.alias(out_col))


def curation_dag(
    docs: DataFrame,
    bench_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    nfc: bool = False,
    ngram: int = 4,
    span_min_docs: int = 2,
    minhash_k: int = 8,
    minhash_bands: int = 4,
    min_tokens: int = 10,
    quality_kwargs: dict | None = None,
    lm_filter: dict | None = None,
    line_filter_opts: dict | None = None,
    paragraph_dedup_opts: dict | None = None,
    semdedup_opts: dict | None = None,
    classifier_filter: dict | None = None,
    dsir_filter: dict | None = None,
    cache: CacheScope | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the curation DAG.  Returns ``(cleaned, ledger)``:

    * ``cleaned`` — (doc_id, text) survivors, substring-cut and
      PII-redacted;
    * ``ledger`` — one row per INPUT doc: (doc_id, fate) where fate is
      'kept' | 'line_filtered' | 'paragraph_filtered' | 'exact_dup' |
      'near_dup' | 'semantic_dup' | 'quality:<reason>' | 'lm_filtered' |
      'classifier_filtered' | 'dsir_filtered' | 'contaminated'.

    ``cache`` (optional): a scope the caller owns and releases once its
    actions are done (``run_curation_pipeline`` does, on every exit
    path).  When given, the frames that both ``cleaned`` and ``ledger``
    consume (the fate sets, the quality-scored survivors, the optional
    models' tables) are kept in it MEMORY_AND_DISK — id-sets and
    survivor rows, never wider than the input — and the MinHash band
    buckets and the span shingles go to the module's near-dup scope,
    which outlives the call (``release_near_dup``).  Without it nothing
    is cached, and each action recomputes these frames.

    ``classifier_filter`` (optional): ``{"clf": QualityClassifier,
    "min_prob": p}`` — scores the quality survivors with the distilled
    model (operators/classifier.py, one narrow map) and drops docs
    whose quality probability is below ``p`` (fate
    'classifier_filtered').  Resume note: the model is plain floats,
    so its full content enters the run fingerprint — same weights
    resume cleanly, different weights wipe the prior sink.

    ``dsir_filter`` (optional): DSIR importance selection (Xie et al.
    2023) — ``{"target_predicate": Column-or-SQL-string,
    "min_avg_score_q": N[, "n_buckets": B]}``.  Trains the target
    hashed-ngram model on the quality survivors matching the
    predicate, the raw model on ALL quality survivors, and drops docs
    whose per-gram quantized importance ``floor(dsir_score_q /
    n_grams)`` falls below N (fate 'dsir_filtered').  Integer scores
    keep the threshold engine-exact, the lm_filter discipline.

    ``line_filter_opts`` (optional): kwargs for
    :func:`functions.linefilter.line_filter` — when given, the C4
    line-level boilerplate stage runs FIRST (the published order:
    line cleaning before dedup, so boilerplate lines can't glue
    otherwise-distinct documents into dup groups); docs whose
    ``doc_kept`` is false take fate 'line_filtered', survivors carry
    their ``kept_text`` forward.

    ``paragraph_dedup_opts`` (optional): kwargs for
    :func:`operators.dedup.paragraph_dedup` (e.g. ``{"normalize":
    True}``; pass ``{}`` for defaults) — CCNet's corpus-global
    paragraph dedup runs after the line stage and BEFORE document
    dedup (its text rewrites change document identity, so doc-level
    dedup must see the deduped text); docs whose every paragraph was
    a repeat take fate 'paragraph_filtered', survivors carry the
    rewritten text forward.

    ``semdedup_opts`` (optional): the SemDeDup semantic stage (Abbas
    et al. 2023) after lexical near-dedup — ``{"embeddings": frame
    with (id, vector), "centroids": list[list[float]] | int,
    "threshold": float[, "vec_col", "max_cluster_rows"]}``.  An int
    ``centroids`` trains a seeded KMeans quantizer
    (similarity.ivf_index) on the survivors' vectors; a list injects
    deterministic centers.  Docs whose vector loses its duplicate
    group take fate 'semantic_dup'; docs WITHOUT a vector pass
    through untouched (embeddings may cover only part of the corpus).

    ``bench_docs`` (optional): frame with ``text_col`` whose n-gram
    shingles define the decontamination blocklist (broadcast — real
    eval suites are MBs).

    ``lm_filter`` (optional): the CCNet stage (Wenzek et al. 2020 —
    filter web text by LM score).  ``{"min_avg_score_q": N[,
    "vocab_size": V]}`` trains the bigram LM (operators/lm.py) on the
    quality survivors and drops docs whose mean per-token quantized
    score ``floor(lm_score_q / n_tokens)`` falls below N (fate
    'lm_filtered').  The model's bigram/context tables are shared
    intermediates (consumed by the join AND the context derivation) and
    are cached like the fate sets."""
    def keep(frame: DataFrame) -> DataFrame:
        # without a cache the ledger's fate counts re-run the whole
        # upstream DAG of each shared frame
        return cache.keep(frame, StorageLevel.MEMORY_AND_DISK) if cache else frame

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    if nfc:
        nfc_udf = TS.make_nfc_normalize_udf()
        base = base.select("doc_id", nfc_udf("text").alias("text"))

    # optional C4 line-level boilerplate removal (narrow map)
    if line_filter_opts is not None:
        from sherlog_parser_spark.functions.linefilter import line_filter

        lf = keep(line_filter(base, "text", "doc_id", **line_filter_opts))
        line_losers = lf.filter(~F.col("doc_kept")).select("doc_id")
        base = lf.filter(F.col("doc_kept")).select(
            "doc_id", F.col("kept_text").alias("text")
        )
    else:
        line_losers = None

    # optional CCNet corpus-global paragraph dedup (first occurrence
    # by (doc_id, pos) wins; the rewrite happens before doc dedup)
    if paragraph_dedup_opts is not None:
        from sherlog_parser_spark.operators.dedup import paragraph_dedup

        pdres = keep(paragraph_dedup(base, "text", "doc_id", **paragraph_dedup_opts))
        para_losers = pdres.filter(~F.col("doc_kept")).select("doc_id")
        base = pdres.filter(F.col("doc_kept")).select(
            "doc_id", F.col("kept_text").alias("text")
        )
    else:
        para_losers = None

    # exact dedup: min-id winner per md5(text)
    winners = keep(
        base.select(F.md5("text").alias("_h"), "doc_id")
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = base.join(winners, "doc_id", "left_semi")
    # the near-dup operators cache into the module's scope unless it
    # holds this input's frames already
    near_dup = None
    if cache:
        key = s1.semanticHash()
        if key != _near_dup["key"]:
            release_near_dup()
            near_dup, _near_dup["key"] = _near_dup["cache"], key

    # MinHash near-dedup: banded candidates → components → min-id rep.
    # A candidate graph within components.CC_DRIVER_MAX_PAIRS is labelled
    # on the driver and comes back as a local relation (a checkpoint
    # above it), so near_losers needs no cache
    pairs = minhash_dup_candidates(
        s1, "text", "doc_id", n=3, k=minhash_k, bands=minhash_bands, cache=near_dup
    )
    comps = connected_components(pairs)
    near_losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    # s2 is consumed by both the span-detection and the cut pass;
    # an A/B in r6 measured persisting it slightly SLOWER (10.5 vs
    # 10.1s warm) than recomputing the cheap semi/anti joins from the
    # persisted winners and the local near_losers — left unpersisted
    # on purpose
    s2 = s1.join(near_losers, "doc_id", "left_anti")

    # optional SemDeDup semantic near-dedup over the lexical survivors
    if semdedup_opts is not None:
        from sherlog_parser_spark.operators.semdedup import semdedup

        vec_col = semdedup_opts.get("vec_col", "embedding")
        emb = semdedup_opts["embeddings"].join(
            s2.select("doc_id"), "doc_id", "left_semi"
        )
        cents = semdedup_opts["centroids"]
        if isinstance(cents, int):
            from sherlog_parser_spark.operators.similarity import ivf_index

            _, cents = ivf_index(emb, n_lists=cents, id_col="doc_id", vec_col=vec_col)
        sem = semdedup(
            emb,
            cents,
            threshold=float(semdedup_opts.get("threshold", 0.95)),
            id_col="doc_id",
            vec_col=vec_col,
            max_cluster_rows=int(semdedup_opts.get("max_cluster_rows", 100_000)),
        )
        sem_losers = keep(sem.filter(~F.col("kept")).select("doc_id"))
        s2 = s2.join(sem_losers, "doc_id", "left_anti")
    else:
        sem_losers = None

    # substring cuts (cross-doc repeated n-grams among survivors).  The
    # n-gram shingles of "text" are built once: span detection and both
    # sides of the decontamination join explode the same expression
    shingles = TS.word_shingles_expr("text", ngram)
    spans = repeated_ngram_span_positions(
        s2, n=ngram, min_docs=span_min_docs, shingles=shingles, cache=near_dup
    )
    cut = substring_dedup_cut(s2, spans, n=ngram)
    s3 = cut.select("doc_id", F.col("cleaned_text").alias("text"))

    # quality filter on the CUT text (a fully-cut doc fails too_short)
    s3q = keep(
        with_quality_reason(s3, "text", min_tokens=min_tokens, **(quality_kwargs or {}))
    )
    quality_losers = s3q.filter(F.col("_reason") != "keep").select("doc_id", "_reason")
    s4 = s3q.filter(F.col("_reason") == "keep").drop("_reason")

    # optional CCNet-style LM filter (train on the quality survivors,
    # drop low-mean-score docs); quantized-integer scores keep the
    # threshold comparison engine-exact
    if lm_filter is not None:
        from sherlog_parser_spark.operators.lm import lm_likelihood, train_bigram_lm

        min_avg = int(lm_filter["min_avg_score_q"])
        lm = train_bigram_lm(s4, "text", "doc_id", int(lm_filter.get("vocab_size", 256)))
        lm = lm._replace(bigrams=keep(lm.bigrams), contexts=keep(lm.contexts))
        avg_q = F.floor(
            F.col("lm_score_q").cast("double")
            / F.greatest(TS.ws_token_count_expr("text"), F.lit(1))
        ).cast("long")
        lm_losers = keep(
            lm_likelihood(s4, lm, "text", "doc_id")
            .join(s4, "doc_id")
            .filter(avg_q < min_avg)
            .select("doc_id")
        )
        s4 = s4.join(lm_losers, "doc_id", "left_anti")
    else:
        lm_losers = None

    # optional distilled-classifier filter (FineWeb-Edu pattern): the
    # model was trained OFFLINE on an expensively-labeled sample; here
    # it is one bucket-count shuffle + a broadcast weight join + a
    # threshold (plain-float model — closure-safe by construction)
    if classifier_filter is not None:
        from sherlog_parser_spark.operators.classifier import classifier_scores

        min_prob = float(classifier_filter["min_prob"])
        clf_losers = keep(
            classifier_scores(s4, classifier_filter["clf"], "text", "doc_id")
            .filter(F.col("quality_prob") < min_prob)
            .select("doc_id")
        )
        s4 = s4.join(clf_losers, "doc_id", "left_anti")
    else:
        clf_losers = None

    # optional DSIR importance selection vs a target-domain subset
    if dsir_filter is not None:
        from sherlog_parser_spark.operators.dsir import dsir_scores, train_dsir

        pred = dsir_filter["target_predicate"]
        if isinstance(pred, str):
            pred = F.expr(pred)
        min_avg = int(dsir_filter["min_avg_score_q"])
        model = train_dsir(
            s4,
            s4.filter(pred),
            "text",
            n_buckets=int(dsir_filter.get("n_buckets", 4096)),
        )
        model = model._replace(target_q=keep(model.target_q), raw_q=keep(model.raw_q))
        avg_q = F.floor(
            F.col("dsir_score_q").cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1))
        ).cast("long")
        dsir_losers = keep(
            dsir_scores(s4, model, "text", "doc_id")
            .filter(avg_q < min_avg)
            .select("doc_id")
        )
        s4 = s4.join(dsir_losers, "doc_id", "left_anti")
    else:
        dsir_losers = None

    # PII redaction (pure JVM regexp chain)
    s5 = s4.select("doc_id", PII.redact_pii_expr("text").alias("text"))

    # decontamination vs the benchmark shingle blocklist
    if bench_docs is not None:
        bench_sh = (
            bench_docs.select(F.col(text_col).alias("text"))
            .select(F.explode(shingles).alias("_s"))
            .select(F.md5("_s").alias("_h"))
            .distinct()
        )
        doc_sh = s5.select("doc_id", F.explode(shingles).alias("_s")).select(
            "doc_id", F.md5("_s").alias("_h")
        )
        contaminated = keep(
            doc_sh.join(F.broadcast(bench_sh), "_h").select("doc_id").distinct()
        )
        s6 = s5.join(contaminated, "doc_id", "left_anti")
    else:
        contaminated = None
        s6 = s5

    # fate ledger: one row per input doc, first-applicable fate, one
    # select per part (exact losers are counted among the LINE-FILTER
    # SURVIVORS — a doc dropped by the line stage is 'line_filtered',
    # never 'exact_dup')
    parts = [
        (base.join(winners, "doc_id", "left_anti"), F.lit("exact_dup")),
        (line_losers, F.lit("line_filtered")),
        (para_losers, F.lit("paragraph_filtered")),
        (near_losers, F.lit("near_dup")),
        (sem_losers, F.lit("semantic_dup")),
        (quality_losers, F.concat(F.lit("quality:"), F.col("_reason"))),
        (lm_losers, F.lit("lm_filtered")),
        (clf_losers, F.lit("classifier_filtered")),
        (dsir_losers, F.lit("dsir_filtered")),
        (contaminated, F.lit("contaminated")),
        (s6, F.lit("kept")),
    ]
    ledger = reduce(DataFrame.unionByName, [
        frame.select("doc_id", fate.alias("fate")) for frame, fate in parts if frame is not None
    ])
    return s6, ledger


def loser_fate_counts(ledger: DataFrame) -> DataFrame:
    """(fate, n) over the ledger's fates other than 'kept'.  The optimizer
    prunes the ledger's 'kept' branch (a literal that fails the filter),
    so the count reads no survivor row."""
    return ledger.filter(F.col("fate") != "kept").groupBy("fate").agg(
        F.count(F.lit(1)).alias("n")
    )


@dataclass
class CurationResult:
    cleaned_dir: str
    manifest_path: str
    n_rows: int
    fate_counts: dict
    wall_sec: float


def run_curation_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    bench_docs: DataFrame | None = None,
    n_buckets: int = 8,
    commit_groups: int = 4,
    resume: bool = True,
    **dag_kwargs,
) -> CurationResult:
    """Run the curation DAG with the parse pipeline's commit protocol
    (``checkpoint.open_run`` + ``checkpoint.commit_groups``): the
    cleaned sink is written in ``commit_groups`` disjoint doc-bucket
    groups under dynamic partition overwrite, each group idempotent;
    a killed run resumes by skipping committed groups.  ``bench_docs``
    and every DAG option, DataFrames inside option dicts included,
    enter the run fingerprint (``pipeline._run_fingerprint``), so a run
    with a different blocklist or embeddings table starts clean.  The
    loser fates are counted as ``commit_groups``' side job.  The run's
    cache scope (the DAG's shared frames and the bucketed survivors) is
    released on every exit path, after ``commit_groups`` has joined the
    fate count."""
    t_start = time.perf_counter()
    cleaned_dir = os.path.join(out_dir, "cleaned")
    metrics_path = os.path.join(out_dir, "curation_metrics.json")
    run_fp = pipeline._run_fingerprint(
        docs,
        {"kind": "curation", "n_buckets": n_buckets, "commit_groups": commit_groups,
         "bench_docs": bench_docs, **dag_kwargs},
    )
    manifest = checkpoint.open_run(out_dir, run_fp, resume, [cleaned_dir, metrics_path])

    with CacheScope() as cache:
        # Scan fan-out (readers.fan_out): a small local input arrives as
        # ONE parquet split, so every narrow stage of the DAG (line
        # rules, shingle explodes, quality exprs) would run on a single
        # core.  The DAG is partition-invariant by construction — pinned
        # by the multi-executor parity check (local-cluster[4,4] ==
        # local[16] fates + cleaned-sink fingerprint).  Applied AFTER
        # the run fingerprint so resume identity is unchanged.
        t_dag = time.perf_counter()
        cleaned, ledger = curation_dag(
            fan_out(docs), bench_docs=bench_docs, cache=cache, **dag_kwargs
        )
        t_write = time.perf_counter()
        # the DAG above this point includes two shingle explodes;
        # persisting the survivors turns per-group recomputation of the
        # whole chain into one pass
        bucketed = cache.keep(
            cleaned.withColumn("doc_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))),
            StorageLevel.MEMORY_AND_DISK,
        )

        def _write_group(sub: DataFrame) -> None:
            (
                sub.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("parquet.enable.dictionary", "false")
                .partitionBy("doc_bucket")
                .parquet(cleaned_dir)
            )

        # the fate count overlaps the group writes; 'kept' is the
        # committed row count
        fate_counts: dict = {}

        def _count_losers() -> None:
            fate_counts.update((r["fate"], r["n"]) for r in loser_fate_counts(ledger).collect())

        total_rows, ledger_s = checkpoint.commit_groups(
            manifest, bucketed, "doc_bucket", commit_groups, ["doc_id", "text"], cleaned_dir,
            _write_group, _count_losers,
        )
        t_end = time.perf_counter()
    if total_rows:
        fate_counts["kept"] = total_rows
    wall = time.perf_counter() - t_start
    fs.write_atomic(metrics_path, json.dumps(
        {
            "rows_kept": total_rows,
            "fates": fate_counts,
            "wall_sec": round(wall, 3),
            "docs_per_sec": round(sum(fate_counts.values()) / wall, 1) if wall > 0 else None,
            "manifest": manifest.metrics(),
            # wall seconds of the DAG build (connected components'
            # action included), the group writes, and the wait for the
            # fate count after them (it runs during the writes)
            "phases": {
                "dag_s": round(t_write - t_dag, 3),
                "write_s": round(t_end - t_write - ledger_s, 3),
                "ledger_s": round(ledger_s, 3),
            },
        },
        indent=2,
    ))
    return CurationResult(
        cleaned_dir=cleaned_dir,
        manifest_path=manifest.path,
        n_rows=total_rows,
        fate_counts=fate_counts,
        wall_sec=wall,
    )
