"""Loader-ready packed sequences: pack_array_sequences composes any
tokenizer's array output (here bpe_encode) with the two-phase-cumsum
packing — every sequence is exactly seq_len tokens (ragged tail
excepted) and equals the sequential concat-and-chunk mirror."""

from __future__ import annotations

from pyspark.sql import functions as F

from sherlog_parser_spark.operators.bpe import bpe_encode, encode_word, train_bpe
from sherlog_parser_spark.operators.sharding import pack_array_sequences

CORPUS = [
    (i, " ".join(f"w{(i * 7 + j) % 13}token" for j in range(3 + i % 5)))
    for i in range(40)
]


def _mirror_chunks(rows, ranks, seq_len):
    stream: list[str] = []
    for _i, text in sorted(rows):
        for w in text.strip().lower().split():
            stream.extend(encode_word(w, ranks))
    return [stream[i : i + seq_len] for i in range(0, len(stream), seq_len)]


def test_packed_sequences_match_mirror(spark, cache):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    model = train_bpe(docs, n_merges=12)
    ranks = {tuple(p): i for i, p in enumerate(model.merges)}
    enc = bpe_encode(docs, model.merges)
    packed = pack_array_sequences(enc, "bpe_tokens", "doc_id", seq_len=16, cache=cache)
    got = {r["seq_id"]: r for r in packed.collect()}
    want = _mirror_chunks(CORPUS, ranks, 16)
    assert sorted(got) == list(range(len(want)))
    for sid, chunk in enumerate(want):
        assert list(got[sid]["tokens"]) == chunk, sid
        assert got[sid]["n_tokens"] == len(chunk)
    # every sequence full except possibly the last
    for sid in range(len(want) - 1):
        assert got[sid]["n_tokens"] == 16
    # token conservation
    assert sum(r["n_tokens"] for r in got.values()) == sum(len(c) for c in want)


def test_packed_sequences_partition_invariance(spark, cache):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    model = train_bpe(docs, n_merges=8)
    enc = bpe_encode(docs, model.merges)
    a = pack_array_sequences(enc.repartition(1), "bpe_tokens", seq_len=32, n_range_partitions=3,
                             cache=cache)
    b = pack_array_sequences(enc.repartition(11), "bpe_tokens", seq_len=32, n_range_partitions=7,
                             cache=cache)
    ra = sorted((r["seq_id"], tuple(r["tokens"])) for r in a.collect())
    rb = sorted((r["seq_id"], tuple(r["tokens"])) for r in b.collect())
    assert ra == rb


def test_empty_arrays_are_skipped(spark, cache):
    rows = [(0, ["a", "b"]), (1, []), (2, ["c"])]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    packed = pack_array_sequences(df, "toks", seq_len=2, cache=cache)
    got = sorted((r["seq_id"], list(r["tokens"])) for r in packed.collect())
    assert got == [(0, ["a", "b"]), (1, ["c"])]
