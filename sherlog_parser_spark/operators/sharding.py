"""Token-budget shard assignment and fixed-length sequence packing —
the write-side stages after curation (real pipelines emit fixed-budget
shards and fixed-length packed token sequences so data loaders stream
uniform inputs).

Both operators are built on the same scalable rendering of a GLOBAL
cumulative sum (the naive ``ORDER BY`` window with no partition key
funnels the corpus through ONE task):

1. ``repartitionByRange(order_col)`` — partition i holds an ordered
   slice; ascending partition ids follow ascending ranges;
2. per-partition window cumsum — each partition sorts only its own
   slice (no global funnel);
3. per-partition token totals collect to the driver (#partitions rows,
   bounded by cluster config, never data size), prefix-summed, and the
   offsets broadcast back — the classic two-phase scan.

The result does NOT depend on where the range boundaries fall (the
global cumsum is boundary-invariant given a total order), so range-
sampling wobble cannot change assignments; ``order_col`` must be
row-unique.  Integer arithmetic throughout (``div``), matching the
DuckDB oracle's ``//``.

Fault tolerance (r4 verdict fix): the output is NOT localCheckpoint-ed.
localCheckpoint truncates lineage onto executor-local block storage, so
one lost executor makes the checkpointed partitions unrecoverable and
fails the whole job — the wrong trade at 100 TB, where it would also
materialize a second complete copy of the corpus.  Instead the
range-partitioned intermediate is cached (MEMORY_AND_DISK, with
lineage, so recomputation is merely slow, never fatal) in the
``session.CacheScope`` every operator here requires, and the caller
releases the scope once the result is consumed/written.  The cache is
there for correctness: range-partition SAMPLING is not
recompute-stable (live-measured in r4: one-shard drift without the
persist), so if a partition IS recomputed with different boundaries the
per-partition totals recorded by the driver no longer bound the
recomputed slices — the output expression asserts ``cum_in_partition <=
recorded_partition_total`` per row and raises loudly instead of
silently drifting (any cross-boundary row movement pushes some
partition over its recorded total).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sherlog_parser_spark.session import CacheScope

_DRIFT_MSG = (
    "sharding: range partitioning drifted between the totals job and the "
    "assignment job (persisted partitions were recomputed with different "
    "sampled boundaries after executor loss) — rerun the operator"
)


def _global_cumsum(
    df: DataFrame,
    token_col: str,
    order_col: str,
    cache: CacheScope,
    n_range_partitions: int | None = None,
) -> DataFrame:
    """Adds ``_cum_before`` (long: sum of ``token_col`` over all rows
    strictly before this one in global ``order_col`` order) without a
    single-partition exchange.  The range-partitioned intermediate is
    kept in ``cache``; see the module docstring for the drift guard and
    the no-localCheckpoint rationale.
    """
    nparts = n_range_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    part = df.repartitionByRange(int(nparts), F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # cached between the totals job and the assignment job, whose offsets
    # must apply to the same sampled boundaries (module docstring)
    cache.keep(part, StorageLevel.MEMORY_AND_DISK)
    totals = {
        r["_pid"]: int(r["_t"])
        for r in part.groupBy("_pid")
        .agg(F.sum(F.col(token_col).cast("long")).alias("_t"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_df = df.sparkSession.createDataFrame(
        [(int(p), int(o), int(totals[p])) for p, o in offsets.items()]
        or [(0, 0, 0)],
        "_pid int, _offset long, _ptotal long",
    )
    w = Window.partitionBy("_pid").orderBy(order_col)
    cum_in_part = F.sum(F.col(token_col).cast("long")).over(w)
    out = (
        part.withColumn("_cum_in_part", cum_in_part)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(
            "_cum_before",
            # loud drift guard: a recomputed partitioning moves rows
            # across boundaries, pushing some partition's running sum
            # past the total recorded for it by the first job
            F.when(
                F.col("_cum_in_part") > F.col("_ptotal"),
                F.raise_error(F.lit(_DRIFT_MSG)).cast("long"),
            ).otherwise(
                F.col("_offset")
                + F.col("_cum_in_part")
                - F.col(token_col).cast("long")
            ),
        )
        .drop("_pid", "_cum_in_part", "_offset", "_ptotal")
    )
    return out


def assign_shards(
    df: DataFrame,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    shard_tokens: int = 100_000,
    n_range_partitions: int | None = None,
    *,
    cache: CacheScope,
) -> DataFrame:
    """Adds ``shard_id`` (0-based, non-decreasing in ``order_col``):
    shard_id = cum_tokens_before_this_doc DIV shard_tokens over the
    global order — docs pack greedily into ~``shard_tokens`` shards and
    never split.

    Release ``cache`` after the shards are written (the natural next
    action is materializing to the shard sink, which is the real
    durability point — see module docstring for why the output is not
    checkpointed).
    """
    if shard_tokens <= 0:
        raise ValueError("shard_tokens must be positive")
    cum = _global_cumsum(df, token_col, order_col, cache, n_range_partitions)
    return cum.withColumn(
        "shard_id", F.expr(f"_cum_before div {int(shard_tokens)}")
    ).drop("_cum_before")


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    seq_len: int = 2048,
    n_range_partitions: int | None = None,
    *,
    cache: CacheScope,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay every document's tokens
    end-to-end in global ``order_col`` order and chunk the stream into
    fixed-length sequences of exactly ``seq_len`` tokens (the training
    dataloader's input shape; docs SPLIT across sequence boundaries,
    unlike shards).

    Emits one row per (document × sequence it intersects) — the
    boundary map a loader needs to reassemble attention masks:

    - ``seq_id``     — 0-based global sequence index;
    - ``doc_offset`` — first token of this doc included in this seq;
    - ``seq_offset`` — position within the sequence where it lands;
    - ``piece_len``  — number of tokens of this doc in this sequence.

    A doc with ``n`` tokens and global start offset ``o`` intersects
    sequences floor(o / L) .. floor((o + n - 1) / L); the per-doc
    explode is bounded by n/L + 1 rows, never corpus size.  Zero-token
    docs are dropped (they occupy no stream positions).  Same two-phase
    global-cumsum machinery (and the same required ``cache``) as
    :func:`assign_shards`.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    cum = _global_cumsum(df, token_col, order_col, cache, n_range_partitions)
    L = F.lit(int(seq_len)).cast("long")
    n = F.col(token_col).cast("long")
    o = F.col("_cum_before")
    first = F.expr(f"_cum_before div {int(seq_len)}")
    last = F.expr(
        f"(_cum_before + cast({token_col} as long) - 1) div {int(seq_len)}"
    )
    seqs = F.sequence(first, last)
    return (
        cum.filter(n > 0)
        .withColumn("seq_id", F.explode(seqs))
        .withColumn("_seq_start", F.col("seq_id").cast("long") * L)
        .withColumn("doc_offset", F.greatest(F.col("_seq_start") - o, F.lit(0).cast("long")))
        .withColumn("seq_offset", F.greatest(o - F.col("_seq_start"), F.lit(0).cast("long")))
        .withColumn(
            "piece_len",
            F.least(F.col("_seq_start") + L, o + n)
            - F.greatest(F.col("_seq_start"), o),
        )
        .drop("_cum_before", "_seq_start")
    )


def pack_array_sequences(
    df: DataFrame,
    arr_col: str,
    order_col: str = "doc_id",
    seq_len: int = 2048,
    n_range_partitions: int | None = None,
    *,
    cache: CacheScope,
) -> DataFrame:
    """Materialize the PACKED SEQUENCES themselves: lay the per-row
    arrays (token ids from any tokenizer — e.g. ``bpe_encode``'s
    ``bpe_tokens``) end-to-end in global ``order_col`` order and emit
    one row per fixed-length sequence:

    - ``seq_id``   — 0-based global sequence index;
    - ``tokens``   — exactly ``seq_len`` elements (the final sequence
      may be shorter — the ragged tail);
    - ``n_tokens`` — ``size(tokens)``;
    - ``n_docs``   — how many documents contributed pieces.

    Composition of :func:`pack_sequences`' boundary map with per-piece
    ``slice`` + one groupBy(seq_id): the only data-sized movements are
    the range partitioning of the corpus and the sequence-assembly
    shuffle whose key (seq_id) is uniform BY CONSTRUCTION (every key
    holds exactly ``seq_len`` tokens — no skew possible).  Pieces are
    reassembled in ``seq_offset`` order via array_sort over
    (seq_offset, piece) structs — offsets are unique within a
    sequence, so the sort is total and deterministic.

    Release ``cache`` (it holds the range-partitioned intermediate)
    after the sink is written."""
    size_col = "__n_arr"
    base = df.withColumn(size_col, F.size(F.col(arr_col)))
    pieces = pack_sequences(base, size_col, order_col, seq_len, n_range_partitions, cache=cache)
    sl = pieces.select(
        "seq_id",
        F.col(order_col),
        F.struct(
            F.col("seq_offset").alias("o"),
            F.slice(
                F.col(arr_col),
                (F.col("doc_offset") + 1).cast("int"),
                F.col("piece_len").cast("int"),
            ).alias("p"),
        ).alias("_piece"),
    )
    return (
        sl.groupBy("seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("_piece")), lambda s: s["p"]
                )
            ).alias("tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("n_tokens", F.size("tokens"))
    )
