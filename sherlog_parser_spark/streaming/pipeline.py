"""Structured Streaming variant of the pipeline (SURVEY §2.10).

The reference is strictly batch (its "real-time" path is a lookback SQL
query, src/core/anomaly_incidents.py:61-87), so streaming is additive
coverage, not parity: the same parse -> enrich -> aggregate/route logic
over ``readStream``, with

* event-time tumbling windows + watermark for the A2/A12 counts
  (deliberate deviation documented in SURVEY §2.10: the reference
  includes late data by batch recompute; a watermark drops it),
* ``foreachBatch`` fan-out for routing — idempotent under micro-batch
  REPLAY: the batch_id is a leading partition column and each batch is
  written by ``route.write_routed`` (the batch sink's layout and
  encoding) over its own ``batch_id=N`` directory, so a batch replayed
  after a crash (sink written, offsets not committed) rewrites exactly
  that directory instead of appending duplicates,
* the frozen template dictionary broadcast per query (built once from a
  bounded history batch — matching the "freeze then stream" deployment
  shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark import fs
from sherlog_parser_spark.plans.enrich import enrich_stage
from sherlog_parser_spark.plans.parse import parse_stage
from sherlog_parser_spark.plans.route import conv_bucket_expr, route_cols, write_routed

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(spark, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_enrich(stream: DataFrame, template_dict: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """parse + broadcast-join enrich on a stream (stateless, map-side)."""
    parsed = parse_stage(stream)
    return enrich_stage(parsed, template_dict, dim, with_params=False)


def streaming_tool_usage(
    stream: DataFrame,
    template_dict: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """A12 as a streaming windowed aggregation with late-data watermark."""
    enriched = streaming_enrich(stream, template_dict)
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy("template_id", "tool", F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("uses"))
        .select(
            "template_id",
            "tool",
            F.col("w.start").alias("window_start"),
            "uses",
        )
    )


def start_stream_route(
    stream: DataFrame,
    template_dict: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 4,
    trigger_available_now: bool = True,
):
    """foreachBatch fan-out routing; returns the StreamingQuery."""
    enriched = streaming_enrich(stream, template_dict)
    routed = enriched.select(*route_cols(enriched)).withColumn(
        "conv_bucket", conv_bucket_expr("conv_id", n_buckets)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # exactly-once under replay: batch content is deterministic from
        # the checkpointed offsets, so overwriting this batch_id's own
        # directory is idempotent — a crash between sink write and offset
        # commit no longer duplicates rows (r1 ADVICE)
        write_routed(batch_df, f"{out_dir}/batch_id={batch_id}", partition_overwrite="static")

    writer = routed.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_stream_output(
    spark,
    stream_out_dir: str,
    compacted_dir: str,
    up_to_batch_id: int,
) -> list[int]:
    """Fold finished ``batch_id=N`` partitions of the streaming route sink
    into the BATCH route layout (template_id/tool/conv_bucket — no
    batch_id column).

    Why: batch_id as the leading partition column makes replay idempotent
    (each micro-batch overwrites exactly its own directory), but a
    long-running stream then grows one top-level directory per
    micro-batch forever — listing/metadata cost grows unboundedly, and
    readers of the streaming sink see an extra batch_id column the batch
    sink doesn't have.  Periodic compaction bounds both: old batches
    migrate into the batch layout, the live tail keeps replay safety.

    ``up_to_batch_id`` MUST be below the last committed batch (a batch
    that could still be replayed after a crash must keep its own
    directory, or the replay would duplicate rows the compactor already
    moved).  Pass e.g. ``max(committed) - 1`` from the checkpoint.

    Idempotent per batch via stage -> marker -> publish (r3 advice: a
    bare ``mode("append")`` before the marker duplicated the batch when
    the process died between the append commit and the marker create):

    1. STAGE: rewrite the batch into a deterministic per-batch staging
       dir with ``mode("overwrite")`` — a crashed half-stage is simply
       overwritten on rerun;
    2. MARK: create ``<compacted_dir>/_compacted/batch_id=N`` only after
       the staging write committed;
    3. PUBLISH: rename each staged data file into the final partition
       layout (file names carry the writing job's UUID, so renames never
       collide), then delete staging and the source batch dir.

    Every crash point replays cleanly: before the marker -> restage
    (overwrite); after the marker -> skip the write, move whatever is
    still in staging (already-moved files are gone from it), finish the
    deletes.  Markers, renames and deletes go through ``fs``, as the
    batch commit's do; a staged file that still exists is the
    authoritative copy, so it replaces any file at its target (a partial
    copy, a name collision).  Returns the batch ids compacted this call.
    """
    hfs, out_path = fs.handle(stream_out_dir)
    if not hfs.exists(out_path):
        return []
    Path = spark._jvm.org.apache.hadoop.fs.Path
    dest_root = Path(compacted_dir)

    def _publish(src_dir, rel=""):
        """Move staged data files into compacted_dir, preserving the
        partition-directory structure; resumable (moved files vanish
        from staging, so a rerun only moves the remainder)."""
        for st in hfs.listStatus(src_dir):
            nm = st.getPath().getName()
            if nm.startswith("_") or nm.startswith("."):
                continue  # _SUCCESS / hidden — never published
            if st.isDirectory():
                _publish(st.getPath(), f"{rel}{nm}/")
            else:
                tgt_dir = Path(dest_root, rel.rstrip("/")) if rel else dest_root
                hfs.mkdirs(tgt_dir)
                fs.rename_replacing(hfs, st.getPath(), Path(tgt_dir, nm))

    done: list[int] = []
    for status in hfs.listStatus(out_path):
        name = status.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid > up_to_batch_id:
            continue
        marker = f"{compacted_dir}/_compacted/{name}"
        staging = f"{compacted_dir}/_staging_{name}"
        if not fs.exists(marker):
            write_routed(
                spark.read.parquet(str(status.getPath())), staging,
                partition_overwrite="static",
            )
            fs.write_atomic(marker, "")
        if fs.exists(staging):
            _publish(Path(staging))
            fs.delete(staging)
        hfs.delete(status.getPath(), True)
        done.append(bid)
    return sorted(done)


def streaming_count_anomaly_flags(
    stream: DataFrame,
    baseline: DataFrame,
    ts_col: str = "ts",
    window: str = "15 minutes",
    group_cols: tuple[str, ...] = (),
    threshold: float = 2.5,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming variant of the X3 time-series detector: watermarked
    per-window counts joined to a FROZEN per-group baseline (mean/std
    from history via operators.anomaly.count_baseline) and flagged with
    the SAME fixed-point z-rule as the batch detector — freeze-then-
    stream, like the template dictionary.  The baseline is a broadcast
    join, so the stream stays map-side after its windowed aggregation."""
    from sherlog_parser_spark.operators.anomaly import flag_counts_against_baseline

    counts = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "n")
    )
    return flag_counts_against_baseline(counts, baseline, group_cols, threshold)


def streaming_curation(
    stream: DataFrame,
    bench_shingle_hashes: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    ngram: int = 4,
    min_tokens: int = 10,
    dedup_watermark: str = "1 hour",
    quality_kwargs: dict | None = None,
    line_filter_opts: dict | None = None,
) -> DataFrame:
    """Streaming subset of the curation chain (plans/curation.py) —
    the stages that are per-row or bounded-state:

    * line-level boilerplate removal (optional ``line_filter_opts`` —
      the C4 rules are pure per-row expressions, so the stage is
      stateless and runs FIRST, mirroring the batch DAG order; docs
      whose every line drops vanish from the stream here),
    * EXACT dedup via watermarked ``dropDuplicates`` on md5(text): state
      holds one hash per distinct doc inside the watermark horizon
      (streaming-idiomatic rendering of the batch min-id winner; within
      a horizon the first arrival wins — arrival order replaces id
      order, documented deviation like the §2.10 watermark note),
    * quality filter (stateless expressions, same fixed-point rules),
    * PII redaction (stateless regexp chain),
    * decontamination against a FROZEN benchmark shingle-hash set
      (freeze-then-stream broadcast, like the template dictionary and
      the anomaly count baseline).

    Near-dedup (connected components) and substring cuts are
    corpus-global by nature and stay batch: run them in the periodic
    compaction pass, exactly how production curation pipelines split
    online/offline stages.  Returns the cleaned stream (doc_id, ts,
    text); pair with ``writeStream``/``foreachBatch``."""
    from sherlog_parser_spark.functions.pii import redact_pii_expr
    from sherlog_parser_spark.plans.curation import with_quality_reason

    base = stream.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("ts"),
        F.col(text_col).alias("text"),
    )
    if line_filter_opts is not None:
        # the C4 rules are pure per-row expressions, so the batch
        # operator composes into the stream without any join or state
        from sherlog_parser_spark.functions.linefilter import line_filter

        lf = line_filter(base, "text", "doc_id", **line_filter_opts)
        base = lf.filter(F.col("doc_kept")).select(
            "doc_id", "ts", F.col("kept_text").alias("text")
        )
    deduped = (
        base.withColumn("_h", F.md5("text"))
        .withWatermark("ts", dedup_watermark)
        # WithinWatermark variant: plain dropDuplicates keeps every hash
        # forever; this one evicts state as the watermark passes, which
        # is the bounded-state contract the docstring claims
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )
    scored = with_quality_reason(
        deduped, "text", min_tokens=min_tokens, **(quality_kwargs or {})
    )
    kept = scored.filter(F.col("_reason") == "keep").drop("_reason")
    redacted = kept.select("doc_id", "ts", redact_pii_expr("text").alias("text"))
    if bench_shingle_hashes is None:
        return redacted
    from sherlog_parser_spark.functions.textstats import word_shingles_expr

    doc_sh = redacted.withColumn(
        "_hs",
        F.transform(word_shingles_expr("text", ngram), lambda s: F.md5(s)),
    )
    # stream-static ANTI joins aren't in Spark's supported matrix; an
    # inner cross join against the ONE-ROW static frame holding the whole
    # (genuinely small) blocklist as an array is — then a stateless
    # arrays_overlap filter drops contaminated docs
    bench_arr = F.broadcast(
        bench_shingle_hashes.select(F.col("h")).distinct().agg(
            F.collect_set("h").alias("_bha")
        )
    )
    return (
        doc_sh.crossJoin(bench_arr)
        .filter(~F.arrays_overlap(F.col("_hs"), F.col("_bha")))
        .drop("_hs", "_bha")
    )
