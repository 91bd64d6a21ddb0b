"""DSIR importance-resampling scores — mirror differential, partition
invariance, broadcast plan shape.
The value oracle is the ``dsir_weights`` entry in __spark_entry__.py."""

from __future__ import annotations

from sherlog_parser_spark.operators.dsir import (
    dsir_scores,
    python_mirror_dsir,
    train_dsir,
)

RAW = [
    (0, "the cat sat on the mat"),
    (1, "stock market prices fell sharply today"),
    (2, "the dog sat on the log"),
    (3, "buy cheap pills online now click here"),
    (4, "a cat and a dog sat together"),
    (5, ""),
]
TARGET = [
    "the cat sat quietly",
    "a dog sat near the cat",
    "the cat and the dog",
]


def _frames(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    tgt = spark.createDataFrame([(t,) for t in TARGET], "text string")
    return raw, tgt


def test_scores_match_mirror(spark):
    raw, tgt = _frames(spark)
    model = train_dsir(raw, tgt, n_buckets=512)
    got = {
        r["doc_id"]: (r["n_grams"], r["dsir_score_q"])
        for r in dsir_scores(raw, model).collect()
    }
    want = python_mirror_dsir(RAW, TARGET, n_buckets=512)
    assert got == want
    assert got[5] == (0, 0)  # empty doc
    # animal sentences score above spam/finance
    assert min(got[0][1], got[2][1], got[4][1]) > max(got[1][1], got[3][1])


def test_scores_partition_invariance(spark):
    raw, tgt = _frames(spark)
    model = train_dsir(raw.repartition(7), tgt, n_buckets=512)
    a = sorted(map(tuple, dsir_scores(raw.repartition(1), model).collect()))
    b = sorted(map(tuple, dsir_scores(raw.repartition(5), model).collect()))
    assert a == b


def test_score_join_is_broadcast(spark):
    raw, tgt = _frames(spark)
    model = train_dsir(raw, tgt, n_buckets=512)
    plan = dsir_scores(raw, model)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
