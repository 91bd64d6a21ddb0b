"""r5 integration: curation DAG -> mixture sampling -> shard packing ->
sequence packing — the full write-side chain a training-data pipeline
runs after cleaning, end-to-end on real fixture documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from sherlog_parser_spark.functions import textstats as TS
from sherlog_parser_spark.operators.mixture import mixture_sample
from sherlog_parser_spark.operators.sharding import assign_shards, pack_sequences
from sherlog_parser_spark.plans.curation import curation_dag


def test_curation_to_packing_chain(spark, cache):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cleaned, ledger = curation_dag(docs, cache=cache)

    survivors = cleaned.select(
        "doc_id",
        TS.ws_token_count_expr("text").alias("n_tokens"),
        F.concat(F.lit("d"), F.length(F.bin(F.col("doc_id") + 1)).cast("string")).alias(
            "domain"
        ),
    ).filter(F.col("n_tokens") > 0)

    mixed = mixture_sample(survivors, "domain", total_target=150, alpha=0.5)
    n_mixed = mixed.count()
    assert 0 < n_mixed < survivors.count()

    # shard packing: budget respected (docs never split)
    sharded = assign_shards(mixed, "n_tokens", "doc_id", shard_tokens=1000, cache=cache)
    per_shard = {
        r["shard_id"]: r["t"]
        for r in sharded.groupBy("shard_id")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    mx = mixed.agg(F.max("n_tokens")).collect()[0][0]
    assert all(v < 1000 + mx for v in per_shard.values())
    assert sorted(per_shard) == list(range(len(per_shard)))  # contiguous ids

    # sequence packing: every sampled doc's tokens fully accounted for,
    # every sequence but the last exactly full
    packed = pack_sequences(mixed, "n_tokens", "doc_id", seq_len=128, cache=cache)
    rows = packed.collect()
    per_doc: dict = {}
    per_seq: dict = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["piece_len"]
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["piece_len"]
    toks = {r["doc_id"]: r["n_tokens"] for r in mixed.collect()}
    assert per_doc == toks
    last = max(per_seq)
    assert all(v == 128 for q, v in per_seq.items() if q != last)
    assert 0 < per_seq[last] <= 128

    # deterministic under repartitioning: same chain, different layout
    packed2 = pack_sequences(
        mixed.repartition(7), "n_tokens", "doc_id", seq_len=128, cache=cache
    )
    rows2 = {(r["doc_id"], r["seq_id"], r["doc_offset"], r["seq_offset"], r["piece_len"]) for r in packed2.collect()}
    assert rows2 == {
        (r["doc_id"], r["seq_id"], r["doc_offset"], r["seq_offset"], r["piece_len"])
        for r in rows
    }
