"""Route stage: fan-out write to per-template/per-tool sinks.

The reference's per-upload table fan-out (src/ui/log_analyzer.py:39-59)
generalized per north_rule: enriched turns land under

    <root>/template_id=<T>/tool=<t>/conv_bucket=<b>/part-*.parquet

``conv_bucket = pmod(xxhash64(conv_id), n_buckets)`` mirrors Iceberg's
``bucket(N, conv_id)`` transform (the directory layout stands in for
an Iceberg table — SURVEY §7.3.6).  ``write_routed`` is the one writer
of that layout and its encoding: ``run_pipeline`` calls it per commit
group (``checkpoint.commit_groups``), and the streaming route calls it
per micro-batch, into a staging directory it then publishes into the
same layout (``streaming.pipeline.start_stream_route``).

Width: every route exchange goes through ``route_exchange``, an
explicit ``repartition(n_parts, template_id, tool, conv_bucket)`` with
``n_parts = spark.sql.shuffle.partitions``.  The explicit count matters:
AQE coalesces a column-only repartition, and for a small commit group it
merged the whole exchange into ONE writer task that wrote every file of
the group while the other cores idled.  Each sink directory is written
by one task, so it holds one file.  A template whose directory outgrows
one core's share of a group would still serialize in one task, and AQE
skew handling is no backstop there: it splits skewed join inputs, not a
repartition that feeds a write.  Salting such a template is left until a
workload measures that case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# FIXTURES.md §5 sink schema (reference store analog, src/core/timeseries.py:251-264)
ROUTE_COLS = [
    "conv_id", "turn_idx", "role", "tool", "ts", "text",
    "template_id", "template", "parameters", "event_type",
]


def conv_bucket_expr(conv_id: Column | str, n_buckets: int) -> Column:
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


def pre_shuffle_frame(parsed: DataFrame, template_dict: DataFrame, n_buckets: int) -> DataFrame:
    """What the route exchange carries: the raw row (the ROUTE_COLS on
    ``parsed``) + ``template_id`` (broadcast ``sig`` lookup in
    ``template_dict``) + ``conv_bucket``.  ``template``, ``event_type``
    and ``parameters`` depend only on (template_id, text), so they are
    attached after the exchange (``enrich.attach_templates``)."""
    return (
        parsed.select(*route_cols(parsed), "sig")
        .join(F.broadcast(template_dict.select("sig", "template_id")), "sig", "left")
        .drop("sig")
        .withColumn("conv_bucket", conv_bucket_expr("conv_id", n_buckets))
    )


def route_exchange(frame: DataFrame) -> DataFrame:
    """The writer exchange of one route write:
    ``spark.sql.shuffle.partitions`` tasks keyed by the sink directory,
    a count AQE does not coalesce."""
    n_parts = int(frame.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return frame.repartition(n_parts, F.col("template_id"), F.col("tool"), F.col("conv_bucket"))


def route_cols(df: DataFrame) -> list[str]:
    """ROUTE_COLS present on df (parameters is optional when the enrich
    stage ran with with_params=False, e.g. streaming)."""
    return [c for c in ROUTE_COLS if c in df.columns]


def write_routed(frame: DataFrame, out_dir: str, *, partition_overwrite: str) -> None:
    """The route sink writer: ``frame`` (ROUTE_COLS + conv_bucket; after
    ``route_exchange`` each sink directory gets one file) into
    ``template_id=*/tool=*/conv_bucket=*``.
    ``partition_overwrite`` is Spark's ``partitionOverwriteMode``:
    ``"dynamic"`` replaces only the partitions written (a commit group),
    ``"static"`` replaces the whole directory."""
    (
        frame.write.mode("overwrite")
        .option("partitionOverwriteMode", partition_overwrite)
        # selective dictionary encoding (r6 A/B at 1 core, one group:
        # dict-off 40.6s/187MB, dict-on 47.9s/160MB, SELECTIVE
        # 38.9s/163MB): dictionary ON for the low-cardinality columns
        # (template, event_type, role, parameter keys), OFF for the
        # high-cardinality payloads whose hashing only burned CPU (the
        # r2 finding, now per-column instead of global)
        .option("parquet.enable.dictionary", "true")
        .option("parquet.enable.dictionary#text", "false")
        .option("parquet.enable.dictionary#conv_id", "false")
        .option("parquet.enable.dictionary#parameters.key_value.value", "false")
        .partitionBy("template_id", "tool", "conv_bucket")
        .parquet(out_dir)
    )

