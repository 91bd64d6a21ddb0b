"""Aggregate stage: per-sink template-frequency and windowed tool-usage.

Counts (A1/A12 in SURVEY §2.4) are algebraic, so Spark's two-phase
aggregation (map-side partial, then merge) already neutralizes Zipf skew
on the hot template keys.  ``run_pipeline`` pays one pass over the fact
table: :func:`sink_rollup_slim` builds the (template_id, tool, window)
count cube from the route's pre-shuffle frame, and both written
aggregates (``agg_template_freq``, ``agg_tool_usage``) are second-level
rollups of it (:func:`template_frequency_from_rollup`,
:func:`tool_usage_from_rollup`), compared with the sequential oracle by
``tests/test_oracle_parity.py``.  :func:`template_frequency` and
:func:`tool_usage_windowed` are the direct single-pass forms over an
enriched frame, the references the streaming aggregates and the parity
tests compare against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def template_frequency(enriched: DataFrame) -> DataFrame:
    """A1 — the primary correctness target (north_rule)."""
    return enriched.groupBy("template_id", "template").agg(F.count("*").alias("frequency"))


def sink_rollup_slim(pre: DataFrame, tpl_df: DataFrame, window: str = "1 hour") -> DataFrame:
    """One scan -> the finest-grained count cube the sink aggregates
    need: (template_id, template, tool, window) -> n.  The template
    STRING stays out of the per-row hash-aggregate keys (r6): group by
    ``template_id`` only and attach ``template`` from the broadcast
    ``(template_id, template)`` table at rollup cardinality
    (|templates| x |tools| x |windows|, tiny at any input scale);
    ``template_id -> template`` is 1:1, so the cube equals a group-by
    over the enriched frame."""
    slim = pre.groupBy("template_id", "tool", F.window("ts", window).alias("w")).agg(
        F.count("*").alias("n")
    )
    return slim.join(F.broadcast(tpl_df), "template_id", "left").select(
        "template_id", "template", "tool", "w", "n"
    )


def template_frequency_from_rollup(rollup: DataFrame) -> DataFrame:
    return rollup.groupBy("template_id", "template").agg(F.sum("n").alias("frequency"))


def tool_usage_from_rollup(rollup: DataFrame) -> DataFrame:
    return (
        rollup.groupBy("template_id", "tool", "w")
        .agg(F.sum("n").alias("uses"))
        .select(
            "template_id",
            "tool",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "uses",
        )
    )


def tool_usage_windowed(enriched: DataFrame, window: str = "1 hour") -> DataFrame:
    """A12 — per-sink tool-usage counts in epoch-aligned tumbling windows
    (== TimescaleDB time_bucket, src/core/timeseries.py:164-171)."""
    return (
        enriched.groupBy("template_id", "tool", F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("uses"))
        .select(
            "template_id",
            "tool",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "uses",
        )
    )
