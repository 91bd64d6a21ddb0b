"""Structured Streaming variant of the pipeline (SURVEY §2.10).

The reference is strictly batch (its "real-time" path is a lookback SQL
query, src/core/anomaly_incidents.py:61-87), so streaming is additive
coverage, not parity: the same parse -> enrich -> aggregate/route logic
over ``readStream``, with

* event-time tumbling windows + watermark for the A2/A12 counts
  (deliberate deviation documented in SURVEY §2.10: the reference
  includes late data by batch recompute; a watermark drops it),
* ``foreachBatch`` fan-out for routing into the batch route layout,
  exactly-once under micro-batch REPLAY through the batch jobs' commit
  protocol (``start_stream_route``),
* the frozen template dictionary broadcast per query (built once from a
  bounded history batch — matching the "freeze then stream" deployment
  shape).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark import checkpoint, fs
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
    """foreachBatch fan-out routing into the batch route layout of
    ``out_dir``; returns the StreamingQuery.  Each micro-batch commits
    through ``checkpoint`` as a batch job's group does:

    1. STAGE: ``write_routed`` into ``<out_dir>/_staging`` (static
       overwrite: a half-staged batch is simply restaged);
    2. COMMIT: unit ``batch_id=N`` replaces the previous batch's line in
       the manifest.  Spark replays at most the last micro-batch whose
       offsets it did not commit, so one high-water mark is enough;
    3. PUBLISH: ``fs.publish`` renames the staged files into the layout
       (their names carry the write job's UUID, so batches never collide).

    A replayed batch that the manifest holds only publishes what is left
    in staging.  The run fingerprint is the query id Spark keeps in
    ``<checkpoint_dir>/metadata``, so a reset checkpoint is a new run and
    ``checkpoint.open_run`` clears the sink before its first batch, while
    a restart from the same checkpoint keeps it whatever its parameters."""
    enriched = streaming_enrich(stream, template_dict)
    routed = enriched.select(*route_cols(enriched)).withColumn(
        "conv_bucket", conv_bucket_expr("conv_id", n_buckets)
    )
    staging = os.path.join(out_dir, "_staging")
    manifest: checkpoint.CheckpointManifest | None = None

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal manifest
        # opened by the first batch: start() can run one before it returns,
        # and the query id is in the checkpoint by then.  The query id
        # alone is the run: a restart from the same checkpoint never
        # replays its committed batches, so no other parameter may clear
        # the sink
        if manifest is None:
            query_id = json.loads(fs.read_text(os.path.join(checkpoint_dir, "metadata")))["id"]
            manifest = checkpoint.open_run(out_dir, query_id, True, [out_dir])
        unit = f"batch_id={batch_id}"
        if not manifest.is_committed(unit):
            manifest.entries.clear()  # this batch's line replaces the last
            checkpoint.commit_unit(
                manifest, unit, batch_df, ["conv_id", "turn_idx"], out_dir,
                lambda df: write_routed(df, staging, partition_overwrite="static"),
            )
        fs.publish(staging, out_dir)

    writer = routed.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    corpus-global by nature and stay batch: run the batch curation job
    (``plans.curation``) over what the stream kept, as production
    curation pipelines split online/offline stages.  Returns the cleaned
    stream (doc_id, ts, text); pair with ``writeStream``/``foreachBatch``."""
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
