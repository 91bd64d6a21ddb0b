"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — the
tokenizer-side stage of a training-data pipeline: learn a merge table
from the corpus, then encode documents with it.

Why this shape scales to 100 TB: BPE training never touches raw
documents after the FIRST pass.  Pass 1 is one groupBy to the
distinct-word frequency table (the compact representation — bounded by
corpus vocabulary, not corpus size); every merge iteration then runs
over that table only: one adjacent-pair explode + count shuffle and a
global top-1 (``TakeOrderedAndProject``, a driver scalar).  The symbol
column is re-derived per round, so each iteration localCheckpoints
the words table (the connected-components discipline — without it the
plan nests every prior round's HOF and analysis time explodes).  A lost
executor during training re-runs the bounded driver loop — acceptable
for a training job whose state is one compact table.

Determinism: the winning pair per round is picked by
``(count DESC, a ASC, b ASC)`` — a total order, so merges are identical
under any partitioning; counts are integers, so there is no float
drift.  Within-round application is greedy left-to-right (a fold whose
merged token ``a||b`` can never equal ``a``, so a this-round output is
never re-matched as a left element).

Encoding shares ONE Python implementation (:func:`encode_word`)
between the Arrow-batched pandas UDF and the sequential mirror — the
house rule that the distributed path and the oracle never fork
semantics (CLAUDE.md).  Training is iterative and therefore
pytest-pinned against :func:`python_mirror_bpe` rather than
SQL-oracled (the documented non-SQL-expressible case).

Reference parity: the reference tokenizes with whitespace/regex only
(``cpp/src/log_parser.cpp:235-245``); BPE learning is the training-data
generalization (SURVEY.md §2.8 token counting names the BPE-ish
regex as its stand-in — this module learns real merges).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import _mirror_tokens, tokens_expr

EOW = "</w>"  # end-of-word marker symbol


class BPEModel(NamedTuple):
    """``merges``: learned (a, b) pairs in rank order; ``symbols``: the
    final (word, freq, syms) table (word-level vocab statistics);
    ``pair_counts``: the winning count per merge (diagnostics)."""

    merges: list[tuple[str, str]]
    symbols: DataFrame
    pair_counts: list[int]


def _merge_expr(syms_col, a: str, b: str) -> F.Column:
    """Greedy left-to-right merge of adjacent (a, b) into a||b as a fold.
    The lambda references only its own accumulator and string LITERALS —
    no outer column trees (the O(n²) interpreted-HOF trap)."""
    merged = a + b
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda out, s: F.when(
            (F.size(out) > 0)
            & (F.element_at(out, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(out, 1, F.size(out) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(out, F.array(s))),
    )


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
) -> BPEModel:
    """Learn up to ``n_merges`` BPE merges from the corpus.

    Stops early when the best remaining pair's corpus count falls below
    ``min_pair_count`` (merging hapax pairs memorizes noise).  Each
    iteration costs one shuffle over the distinct-word table plus one
    driver-scalar top-1; per-round work shrinks as symbols fuse."""
    words = (
        docs.select(F.explode(tokens_expr(F.lower(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    syms0 = F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW)))
    table = words.select("word", "freq", syms0.alias("syms")).localCheckpoint()

    merges: list[tuple[str, str]] = []
    counts: list[int] = []
    for _ in range(int(n_merges)):
        z = F.arrays_zip(
            F.slice("syms", 1, F.size("syms") - 1).alias("a"),
            F.slice("syms", 2, F.size("syms") - 1).alias("b"),
        )
        best = (
            table.select("freq", F.explode(z).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b))
        counts.append(cnt)
        table = table.select(
            "word", "freq", _merge_expr(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint()
    return BPEModel(merges=merges, symbols=table, pair_counts=counts)


# ---------------------------------------------------------------------------
# Encoding — ONE implementation shared by the pandas UDF and the mirror
# ---------------------------------------------------------------------------


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word: repeatedly merge every
    occurrence (greedy left-to-right) of the lowest-rank pair present.
    Equivalent to replaying merges in rank order."""
    syms = list(word) + [EOW]
    while len(syms) >= 2:
        best_rank, best_pair = None, None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, bpe_tokens array<string>, n_bpe_tokens) per document via
    Arrow-batched ``mapInPandas``.  The merge table rides the closure
    (it is model-sized, not data-sized); per-batch word memoization
    makes natural text ~O(distinct words) instead of O(tokens)."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    fields = [f for f in docs.schema.fields if f.name == id_col]
    if not fields:
        raise ValueError(f"{id_col!r} not in {docs.columns}")
    id_dt = fields[0].dataType.simpleString()
    out_schema = f"{id_col} {id_dt}, bpe_tokens array<string>, n_bpe_tokens int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc_doc(text: str) -> list[str]:
            toks: list[str] = []
            for w in _mirror_tokens(text or ""):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w, ranks)
                toks.extend(got)
            return toks

        for pdf in batches:
            enc = pdf[text_col].map(enc_doc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "bpe_tokens": enc,
                    "n_bpe_tokens": enc.map(len),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, out_schema)


def python_mirror_bpe(
    texts: list[str], n_merges: int = 50, min_pair_count: int = 2
) -> tuple[list[tuple[str, str]], list[int]]:
    """Sequential mirror of train_bpe for differential tests — same
    tie-break ((count DESC, a ASC, b ASC)) and the same greedy
    left-to-right within-round merge."""
    freqs: dict[str, int] = {}
    for t in texts:
        for w in _mirror_tokens(t):
            freqs[w] = freqs.get(w, 0) + 1
    tables = {w: list(w) + [EOW] for w in freqs}
    merges: list[tuple[str, str]] = []
    counts: list[int] = []
    for _ in range(int(n_merges)):
        pc: dict[tuple[str, str], int] = {}
        for w, syms in tables.items():
            f = freqs[w]
            for p in zip(syms, syms[1:]):
                pc[p] = pc.get(p, 0) + f
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_count:
            break
        merges.append((a, b))
        counts.append(cnt)
        for w, syms in tables.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            tables[w] = out
    return merges, counts
