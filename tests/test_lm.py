"""r5 bigram-LM quality scoring: differential vs the sequential Python
mirror, partition invariance (integer quantized scores are order-free),
held-out scoring semantics (unseen bigrams/contexts) and plan shape
(broadcast vocab/contexts, no cartesian)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sherlog_parser_spark.operators.lm import (
    BOS,
    UNK,
    lm_likelihood,
    lm_quality_scores,
    python_mirror_scores,
    train_bigram_lm,
)

CORPUS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "a cat and a dog and a rare xylophone"),
    (3, "THE CAT   sat  on the MAT"),  # case/whitespace-insensitive tokens
    (4, ""),  # empty doc scores (0, 0)
    (5, "zzz qqq vvv"),  # all-OOV under a small vocab
    (6, "the the the the the the"),
]


def _docs(spark, nparts=4):
    return spark.createDataFrame(CORPUS, "doc_id long, text string").repartition(nparts)


def test_lm_scores_match_python_mirror(spark):
    got = {
        r["doc_id"]: (r["lm_score_q"], r["lm_oov"])
        for r in lm_quality_scores(_docs(spark), vocab_size=5).collect()
    }
    mirror = python_mirror_scores(CORPUS, vocab_size=5)
    assert got == mirror
    # sanity: the pure-repetition doc outscores the all-OOV doc
    assert got[6][0] / 6 > got[5][0] / 3
    assert got[4] == (0, 0)
    assert got[5][1] == 3  # every token OOV


def test_lm_scores_partition_invariant(spark):
    outs = []
    for nparts in (1, 7):
        rows = lm_quality_scores(_docs(spark, nparts), vocab_size=5).collect()
        outs.append(sorted((r["doc_id"], r["lm_score_q"], r["lm_oov"]) for r in rows))
    assert outs[0] == outs[1]


def test_lm_heldout_scoring_unseen_bigrams_and_contexts(spark):
    """Score a frame the model never saw: unseen bigram -> c=0; context
    absent from the model entirely -> n=0 (uniform smoothed floor)."""
    train = spark.createDataFrame(CORPUS[:4], "doc_id long, text string")
    lm = train_bigram_lm(train, vocab_size=5)
    v = lm.v_smooth
    held = spark.createDataFrame(
        [(100, "mat the"), (101, "xyzzy xyzzy")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in lm_likelihood(held, lm).collect()}

    big = {(r["prev"], r["cur"]): r["c"] for r in lm.bigrams.collect()}
    ctx = {r["prev"]: r["n"] for r in lm.contexts.collect()}
    vocab = {r["token"] for r in lm.vocab.collect()}

    def q(p, w):
        return math.floor(1e6 * (big.get((p, w), 0) + 1) / (ctx.get(p, 0) + v))

    m = lambda t: t if t in vocab else UNK
    assert got[100]["lm_score_q"] == q(BOS, m("mat")) + q(m("mat"), m("the"))
    # both xyzzy tokens are OOV; the second's context is <unk>
    assert got[101]["lm_score_q"] == q(BOS, UNK) + q(UNK, UNK)
    assert got[101]["lm_oov"] == 2
    # ('mat', ...) may or may not be a trained context depending on vocab;
    # the all-new context path is exercised when 'mat' is OOV in train
    # (it appears twice -> likely in vocab); force the n=0 path explicitly:
    assert q("never-a-context", "x") == math.floor(1e6 / v)


def test_lm_vocab_cutoff_tie_break_deterministic(spark):
    """Tokens tied in count at the vocab boundary are kept by string
    ascending — the cut is a total order, stable across partitionings."""
    rows = [(i, "aa bb cc dd") for i in range(3)]  # all counts equal (3)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for nparts in (1, 5):
        lm = train_bigram_lm(docs.repartition(nparts), vocab_size=2)
        assert sorted(r["token"] for r in lm.vocab.collect()) == ["aa", "bb"]


def test_lm_plan_shape(spark):
    """Vocab and context joins are broadcast; the bigram model join is
    a shuffle equi-join; no cartesian anywhere."""
    docs = _docs(spark)
    plan = lm_quality_scores(docs, vocab_size=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_lm_literal_bos_token_and_nbsp_match_mirror(spark):
    """r5 ADVICE regressions: (a) a literal '<s>' corpus token must map
    by vocab membership (position keys the BOS context, not string
    equality); (b) non-ASCII whitespace (\xa0) is NOT a Java \\s token
    separator — mirror and distributed path must agree on both."""
    corpus = [
        (0, "alpha <s> beta"),          # literal '<s>', OOV under top-2 vocab
        (1, "alpha beta alpha beta"),
        (2, "a\xa0b a\xa0b"),           # one token 'a\xa0b', twice
        (3, "<s> gamma"),               # literal '<s>' at position 0
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["lm_score_q"], r["lm_oov"])
        for r in lm_quality_scores(docs, vocab_size=2).collect()
    }
    mirror = python_mirror_scores(corpus, vocab_size=2)
    assert got == mirror
