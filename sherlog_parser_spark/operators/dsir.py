"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"):
select raw web documents whose hashed-n-gram distribution looks like a
high-quality TARGET corpus, by scoring each doc with an importance
weight estimated from two bag-of-hashed-ngrams models.

Distributed shape (all linear passes, 100-TB-ready):

1. **features** — unigrams + bigrams of the lowercased whitespace
   tokens, hashed into ``n_buckets`` via the corpus-standard md5→int64
   idiom (``conv(substr(md5(g),1,15),16,10)``, the same hash the
   SimHash/MinHash oracles replay), bucket = hash % n_buckets.
2. **train** — one explode + groupBy per corpus gives per-bucket
   counts; the model is two ≤``n_buckets``-row tables (config-sized →
   BROADCAST at score time) plus two driver-scalar totals.
3. **score** — per-doc bucket multiplicities (groupBy (doc, bucket) —
   each distinct bucket joined once, weighted by its count), broadcast
   join to both models, one final groupBy(doc).

Cross-engine exactness (house rule, same trick as operators/lm.py):
the oracle-compared score is computed from QUANTIZED linear-domain
probabilities — ``q[b] = floor(quantum·(c_b+1)/(N+B))`` — because
IEEE multiply/divide of exactly-representable integers are correctly
rounded (bit-identical Spark/DuckDB), whereas ``ln`` is libm-dependent.
``dsir_score_q = Σ_b f_b·(q_t[b] − q_r[b])`` is a BIGINT sum —
associative, order-free, deterministic under any partitioning.

Reference parity: the reference selects/filters logs by rule hits
(``/root/reference/src/core/log_filter.py`` analog, SURVEY §2 F6);
DSIR is the distribution-matching generalization a training-data
pipeline uses to pick pretraining data (task-brief scope).
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import _mirror_tokens, tokens_expr


def hashed_grams_expr(text_col) -> Column:
    """Array of feature strings: lowercase unigrams + space-joined
    bigrams (tokens never contain spaces, so the two families cannot
    collide as strings; the subsequent hash sees distinct inputs)."""
    toks = tokens_expr(F.lower(text_col))
    bi = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(toks, bi)


def bucket_expr(gram: Column, n_buckets: int) -> Column:
    """md5→int64→bucket, replayable as DuckDB
    ``CAST('0x'||substr(md5(g),1,15) AS BIGINT) % B`` (15 hex digits
    < 2^60 — always positive, so % and pmod agree)."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
        % F.lit(int(n_buckets))
    )


class DSIRModel(NamedTuple):
    """``target_q``/``raw_q``: (bucket, q) quantized-probability tables
    (≤ n_buckets rows — broadcast); ``target_q0``/``raw_q0``: the
    quantized default for buckets unseen in that corpus."""

    target_q: DataFrame
    raw_q: DataFrame
    target_q0: int
    raw_q0: int
    n_buckets: int


def _bucket_counts(docs: DataFrame, text_col: str, n_buckets: int) -> DataFrame:
    return (
        docs.select(F.explode(hashed_grams_expr(text_col)).alias("_g"))
        .select(bucket_expr(F.col("_g"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )


def _q_table(cnt: DataFrame, total: int, n_buckets: int, quantum: float) -> tuple[DataFrame, int]:
    """The (bucket, q) quantized-probability table of one corpus's
    (bucket, c) counts with ``total`` grams, and the quantized default
    for buckets it never saw — the shared tail of :func:`train_dsir`
    and :func:`train_dsir_shared`."""
    q = cnt.select(
        "bucket",
        F.floor(
            F.lit(float(quantum)) * (F.col("c") + F.lit(1))
            / F.lit(total + int(n_buckets))
        )
        .cast("long")
        .alias("q"),
    )
    return q, int(math.floor(quantum * 1 / (total + int(n_buckets))))


def train_dsir(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    quantum: float = 1e6,
) -> DSIRModel:
    """Fit the two hashed-ngram models.  Each corpus costs one explode
    + groupBy; totals are driver scalars read from the same aggregates
    (no extra pass over the documents)."""
    def fit(docs: DataFrame) -> tuple[DataFrame, int]:
        cnt = _bucket_counts(docs, text_col, n_buckets)
        total = int(cnt.agg(F.sum("c").alias("n")).collect()[0]["n"] or 0)
        return _q_table(cnt, total, n_buckets, quantum)

    (target_q, target_q0), (raw_q, raw_q0) = fit(target_docs), fit(raw_docs)
    return DSIRModel(target_q, raw_q, target_q0, raw_q0, int(n_buckets))


def per_doc_bucket_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """(``__id``, bucket, f) per-document bucket multiplicities — the
    ONE tokenize+hash+explode pass everything else in the shared
    train+score shape rolls up from (r6, guide §1.2: remove redundant
    passes).  Callers that hand it to both :func:`train_dsir_shared` and
    :func:`dsir_scores_from_per_doc` keep it in a ``session.CacheScope``
    they own."""
    return (
        docs.select(
            F.col(id_col).alias("__id"),
            F.explode(hashed_grams_expr(text_col)).alias("_g"),
        )
        .select("__id", bucket_expr(F.col("_g"), n_buckets).alias("bucket"))
        .groupBy("__id", "bucket")
        .agg(F.count("*").alias("f"))
    )


def train_dsir_shared(
    per_doc: DataFrame,
    target_ids: DataFrame,
    n_buckets: int = 4096,
    quantum: float = 1e6,
) -> DSIRModel:
    """Fit both models from ONE per-doc bucket-count table: the raw
    counts are its bucket rollup, the target counts the rollup of its
    ``target_ids`` (one-column frame, left-semi) subset.  Count-exact
    equal to :func:`train_dsir` on (docs, docs-subset) corpora — the
    q tables, defaults and totals are derived from identical integers —
    while replacing two more corpus-wide explode passes with rollups of
    the (usually cached) per-doc table."""
    tid = target_ids.select(
        F.col(target_ids.columns[0]).alias("__id"), F.lit(1).alias("_t")
    )
    flagged = per_doc.join(tid, "__id", "left")
    # ONE aggregation job yields both corpus totals (r6: was two
    # collect jobs, each re-scanning the per-doc table)
    tot = flagged.agg(
        F.sum("f").alias("raw_n"),
        F.sum(F.when(F.col("_t") == 1, F.col("f")).otherwise(F.lit(0))).alias(
            "target_n"
        ),
    ).collect()[0]
    raw_cnt = per_doc.groupBy("bucket").agg(F.sum("f").alias("c"))
    target_cnt = (
        flagged.filter(F.col("_t") == 1).groupBy("bucket").agg(F.sum("f").alias("c"))
    )
    target_q, target_q0 = _q_table(target_cnt, int(tot["target_n"] or 0), n_buckets, quantum)
    raw_q, raw_q0 = _q_table(raw_cnt, int(tot["raw_n"] or 0), n_buckets, quantum)
    return DSIRModel(target_q, raw_q, target_q0, raw_q0, int(n_buckets))


def dsir_scores(
    docs: DataFrame,
    model: DSIRModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_grams, dsir_score_q) per document — the quantized
    linear-domain importance score (higher = more target-like).  Docs
    with no grams score (0, 0)."""
    per_doc = per_doc_bucket_counts(docs, text_col, id_col, model.n_buckets)
    ids = docs.select(F.col(id_col).alias("__id")).distinct()
    return dsir_scores_from_per_doc(per_doc, ids, model, id_col)


def dsir_scores_from_per_doc(
    per_doc: DataFrame,
    ids: DataFrame,
    model: DSIRModel,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`dsir_scores` from a precomputed (``__id``, bucket, f)
    table and a distinct (``__id``) frame — lets the shared train+score
    shape reuse ONE explode pass."""
    # ONE combined broadcast model table (r6: two separate broadcast
    # builds were two jobs); the full-outer join of the two ≤n_buckets
    # tables reproduces the exact null pattern of two left joins, so
    # every coalesce default fires identically
    both = F.broadcast(
        model.target_q.withColumnRenamed("q", "_qt").join(
            model.raw_q.withColumnRenamed("q", "_qr"), "bucket", "full_outer"
        )
    )
    scored = (
        per_doc.join(both, "bucket", "left")
        .groupBy("__id")
        .agg(
            F.sum("f").alias("n_grams"),
            F.sum(
                F.col("f")
                * (
                    F.coalesce(F.col("_qt"), F.lit(model.target_q0))
                    - F.coalesce(F.col("_qr"), F.lit(model.raw_q0))
                )
            ).alias("dsir_score_q"),
        )
    )
    return ids.join(scored, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.col("dsir_score_q"), F.lit(0)).alias("dsir_score_q"),
    )


def python_mirror_dsir(
    raw: list[tuple[int, str]],
    target_texts: list[str],
    n_buckets: int = 4096,
    quantum: float = 1e6,
) -> dict[int, tuple[int, int]]:
    """Sequential mirror of train+score: {id: (n_grams, dsir_score_q)}."""
    import hashlib

    def grams(t: str) -> list[str]:
        ts = _mirror_tokens(t)
        return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % n_buckets

    def counts(texts):
        c: dict[int, int] = {}
        for t in texts:
            for g in grams(t):
                b = bucket(g)
                c[b] = c.get(b, 0) + 1
        return c, sum(c.values())

    ct, nt = counts(target_texts)
    cr, nr = counts([t for _, t in raw])
    qt = {b: int(math.floor(quantum * (c + 1) / (nt + n_buckets))) for b, c in ct.items()}
    qr = {b: int(math.floor(quantum * (c + 1) / (nr + n_buckets))) for b, c in cr.items()}
    qt0 = int(math.floor(quantum * 1 / (nt + n_buckets)))
    qr0 = int(math.floor(quantum * 1 / (nr + n_buckets)))
    out: dict[int, tuple[int, int]] = {}
    for i, t in raw:
        gs = grams(t)
        s = 0
        for g in gs:
            b = bucket(g)
            s += qt.get(b, qt0) - qr.get(b, qr0)
        out[i] = (len(gs), s)
    return out
