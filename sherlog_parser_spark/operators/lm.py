"""Distributed n-gram language-model quality scoring — the CCNet-style
curation stage (Wenzek et al. 2020: filter web documents by LM
perplexity) the reference's quality-filter role implies for
training-data pipelines, re-expressed as pure relational Spark.

Two linear passes over the corpus, both shuffle-bounded:

1. **train** — raw lowercase-token counts (one groupBy), top-``V``
   vocabulary (tiny ``orderBy().limit()`` result), then add-one-smoothed
   bigram counts over the ``<unk>``-mapped token stream with a ``<s>``
   start context (one groupBy).  The model is two DataFrames: the
   bigram table (≤ corpus-distinct bigrams — joined by shuffle, never
   assumed broadcastable) and the context table (≤ V+2 rows — always
   broadcast).
2. **score** — per-doc pair multiplicities (one groupBy, so each
   distinct (doc, prev, cur) is scored once and weighted, not once per
   instance), equi-join to the model, one final groupBy(doc).

Cross-engine exactness (the house rule: the oracle compares values,
not tolerances): per-pair probabilities are emitted QUANTIZED in the
linear domain — ``floor(1e6 * (c+1) / (n+V))`` — because IEEE-754
multiplication and division of exactly-representable integers are
correctly rounded (bit-identical in Spark/JVM and DuckDB), whereas
``ln`` is only faithfully rounded and may differ by ulps across libms.
Quantized per-pair scores are BIGINTs, so per-doc sums are associative
and order-free — deterministic under any partitioning.

Vocabulary ties at the cutoff are broken by token string ascending
(total order → deterministic ``limit``).  Smoothing denominator uses
``V = |vocab| + 1`` (the ``<unk>`` class; ``<s>`` never appears as a
successor).

Reference parity: quality filtering role per
``/root/reference/src/core/log_filter.py`` (priority/keep filters) and
SURVEY.md §2 F6/§2.8 — the LM scorer is the web-scale generalization
those filters imply (graded quality, not rule hits).
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import _mirror_tokens, tokens_expr

UNK = "<unk>"
BOS = "<s>"


class BigramLM(NamedTuple):
    """A trained add-one-smoothed bigram model.

    ``bigrams``: (prev, cur, c) observed mapped-bigram counts;
    ``contexts``: (prev, n) total successor count per context (≤ V+2
    rows — broadcast at score time); ``v_smooth``: smoothing vocabulary
    size ``|vocab| + 1``; ``vocab``: (token) the kept vocabulary."""

    vocab: DataFrame
    bigrams: DataFrame
    contexts: DataFrame
    v_smooth: int


def _raw_pairs(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, i, p_raw, w_raw) per token instance — the ONE tokenize+zip+
    explode pass of the bigram stack.  ``i`` is the 0-based token
    position (``i == 0`` identifies the BOS context positionally — a
    literal '<s>' corpus token is just a token, the r5-advice fix);
    built from two shifted array slices (the shingle idiom — no
    positional self-join).  Empty docs vanish here and are restored by
    the scorer's left join."""
    toks = docs.select(F.col(id_col).alias("__id"), tokens_expr(F.lower(text_col)).alias("tk"))
    full = F.concat(F.array(F.lit(BOS)), F.col("tk"))
    z = F.arrays_zip(
        F.slice(full, 1, F.size("tk")).alias("p"),
        F.col("tk").alias("w"),
    )
    return toks.select("__id", F.posexplode(z).alias("i", "pw")).select(
        "__id", "i", F.col("pw.p").alias("p_raw"), F.col("pw.w").alias("w_raw")
    )


def _map_pairs(raw: DataFrame, vocab: DataFrame) -> DataFrame:
    """Vocab-map a :func:`_raw_pairs` frame to (id, prev, cur, oov) via
    two BROADCAST joins against the ≤V-row vocab.  The BOS context is
    keyed on token POSITION (i == 0), exactly like the DuckDB oracle's
    ``CASE WHEN r.i = 1`` and the Python mirror — a literal '<s>' token
    elsewhere in the corpus maps by vocab membership like any other
    token (r5 ADVICE item, fixed r6)."""
    vb_p = F.broadcast(vocab.select(F.col("token").alias("p_raw"), F.lit(1).alias("p_in")))
    vb_w = F.broadcast(vocab.select(F.col("token").alias("w_raw"), F.lit(1).alias("w_in")))
    return (
        raw.join(vb_p, "p_raw", "left")
        .join(vb_w, "w_raw", "left")
        .select(
            "__id",
            F.when(F.col("i") == 0, F.lit(BOS))
            .when(F.col("p_in") == 1, F.col("p_raw"))
            .otherwise(F.lit(UNK))
            .alias("prev"),
            F.when(F.col("w_in") == 1, F.col("w_raw")).otherwise(F.lit(UNK)).alias("cur"),
            F.when(F.col("w_in").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("oov"),
        )
    )


def _mapped_pairs(docs: DataFrame, text_col: str, id_col: str, vocab: DataFrame) -> DataFrame:
    """(id, prev, cur, oov) per token instance — see :func:`_raw_pairs`
    and :func:`_map_pairs`."""
    return _map_pairs(_raw_pairs(docs, text_col, id_col), vocab)


def train_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 256,
) -> BigramLM:
    """Pass 1+2a: vocabulary and smoothed bigram/context counts.

    The vocab selection is a global top-``vocab_size`` by (count DESC,
    token ASC) — a ``TakeOrderedAndProject`` whose result is
    config-bounded, so it is collected ONCE to the driver (≤V strings)
    and re-created as a local relation: downstream mapping joins and
    the score pass then never re-run the corpus-wide unigram job
    (a lazily-referenced vocab frame would recompute the full scan per
    consumer — measured ~3× on the one-shot self-scoring shape)."""
    toks = docs.select(tokens_expr(F.lower(text_col)).alias("tk"))
    unig = (
        toks.select(F.explode("tk").alias("token")).groupBy("token").agg(F.count("*").alias("c"))
    )
    vocab_list = [
        r["token"]
        for r in unig.orderBy(F.desc("c"), F.asc("token")).limit(int(vocab_size)).collect()
    ]
    vocab = docs.sparkSession.createDataFrame(
        [(t,) for t in vocab_list], "token string"
    )
    pairs = _mapped_pairs(docs, text_col, id_col, vocab)
    bigrams = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c"))
    contexts = bigrams.groupBy("prev").agg(F.sum("c").alias("n"))
    return BigramLM(
        vocab=vocab, bigrams=bigrams, contexts=contexts, v_smooth=len(vocab_list) + 1
    )


def lm_likelihood(
    docs: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    quantum: float = 1e6,
) -> DataFrame:
    """Per-doc quantized LM likelihood: (id_col, lm_score_q, lm_oov).

    ``lm_score_q = Σ_tokens floor(quantum · (c(prev,cur)+1)/(n(prev)+V))``
    — exact integers, order-free.  Unseen bigrams take c=0 (the left
    join); unseen CONTEXTS (prev absent from the model entirely) take
    n=0, i.e. the uniform smoothed floor(quantum/V).  Docs with no
    tokens score (0, 0).  The per-doc distinct-pair pre-aggregation
    means the model join touches one row per distinct (doc, prev, cur),
    not one per instance."""
    pairs = _mapped_pairs(docs, text_col, id_col, lm.vocab)
    ids = docs.select(F.col(id_col).alias("__id")).distinct()
    return _likelihood_from_pairs(pairs, ids, lm, id_col, quantum)


def _likelihood_from_pairs(
    pairs: DataFrame,
    ids: DataFrame,
    lm: BigramLM,
    id_col: str = "doc_id",
    quantum: float = 1e6,
) -> DataFrame:
    """Scoring tail of :func:`lm_likelihood` from an existing mapped-pair
    frame and a distinct (``__id``) frame — lets the one-shot
    train+score shape reuse one explode pass (r6)."""
    per_doc = pairs.groupBy("__id", "prev", "cur").agg(
        F.count("*").alias("m"), F.sum("oov").alias("oov_m")
    )
    q = F.floor(
        F.lit(float(quantum))
        * (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1))
        / (F.coalesce(F.col("n"), F.lit(0)) + F.lit(lm.v_smooth))
    ).cast("long")
    scored = (
        per_doc.join(lm.bigrams, ["prev", "cur"], "left")
        .join(F.broadcast(lm.contexts), "prev", "left")
        .groupBy("__id")
        .agg(
            F.sum(F.col("m") * q).alias("lm_score_q"),
            F.sum("oov_m").alias("lm_oov"),
        )
    )
    return (
        ids.join(scored, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("lm_score_q"), F.lit(0)).alias("lm_score_q"),
            F.coalesce(F.col("lm_oov"), F.lit(0)).alias("lm_oov"),
        )
    )


def lm_quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 256,
    quantum: float = 1e6,
) -> DataFrame:
    """Train on ``docs`` and score ``docs`` — the one-shot self-scoring
    shape the oracle query uses.

    r6 (guide §1.2): ONE tokenize+zip+explode pass feeds the unigram
    counts (``w_raw`` enumerates every token exactly once), the bigram
    model, and the per-doc scoring — the separate train-unigram,
    train-pair and score-pair corpus passes of the
    ``train_bigram_lm`` + ``lm_likelihood`` composition collapse onto
    one raw-pair table.  It is not cached: recomputing it measured
    faster than a cache fill.  Count-exact identical output (the same
    integers flow into the same quantized formula); pinned by the
    Python-mirror differential tests.  Callers training once and
    scoring many frames cache ``lm.bigrams``/``lm.contexts`` in their
    ``session.CacheScope``, as ``plans.curation`` does."""
    raw = _raw_pairs(docs, text_col, id_col)
    unig = raw.groupBy(F.col("w_raw").alias("token")).agg(F.count("*").alias("c"))
    vocab_list = [
        r["token"]
        for r in unig.orderBy(F.desc("c"), F.asc("token")).limit(int(vocab_size)).collect()
    ]
    vocab = docs.sparkSession.createDataFrame([(t,) for t in vocab_list], "token string")
    mapped = _map_pairs(raw, vocab)
    bigrams = mapped.groupBy("prev", "cur").agg(F.count("*").alias("c"))
    contexts = bigrams.groupBy("prev").agg(F.sum("c").alias("n"))
    lm = BigramLM(
        vocab=vocab, bigrams=bigrams, contexts=contexts, v_smooth=len(vocab_list) + 1
    )
    ids = docs.select(F.col(id_col).alias("__id")).distinct()
    return _likelihood_from_pairs(mapped, ids, lm, id_col, quantum)


def python_mirror_scores(
    rows: list[tuple[int, str]], vocab_size: int = 256, quantum: float = 1e6
) -> dict[int, tuple[int, int]]:
    """Sequential mirror of train+score for differential tests:
    {id: (lm_score_q, lm_oov)}."""
    toks = {i: _mirror_tokens(txt) for i, txt in rows}
    counts: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            counts[t] = counts.get(t, 0) + 1
    vocab = set(
        sorted(counts, key=lambda t: (-counts[t], t))[: int(vocab_size)]
    )
    big: dict[tuple[str, str], int] = {}
    ctx: dict[str, int] = {}
    mapped = {
        i: [BOS] + [t if t in vocab else UNK for t in ts] for i, ts in toks.items()
    }
    for ms in mapped.values():
        for p, w in zip(ms, ms[1:]):
            big[(p, w)] = big.get((p, w), 0) + 1
            ctx[p] = ctx.get(p, 0) + 1
    v = len(vocab) + 1
    out: dict[int, tuple[int, int]] = {}
    for i, ts in toks.items():
        ms = mapped[i]
        sq = 0
        for p, w in zip(ms, ms[1:]):
            pr_num = big.get((p, w), 0) + 1
            pr_den = ctx.get(p, 0) + v
            sq += int(math.floor(quantum * pr_num / pr_den))
        oov = sum(1 for t in ts if t not in vocab)
        out[i] = (sq, oov)
    return out
