"""Source readers (SURVEY §2.1 S1-S3) and sinks (K3/K4).

S1  CSV-else-text log-file scan with 'content' normalization
    (src/core/parser_service.py:204-235): try CSV with header; if a
    'content' column is missing take the first column; if CSV parsing is
    useless fall back to one line per row.
S2  loghub-style structured dataset scan (src/eval/datasets.py:205-230).
S3  grok-format scan `<Timestamp> <Level> <Component> <PID> <Content>`
    (src/core/logai_tools.py:43-51) via regexp_extract.
K3  CSV results sink + markdown report (parser_service.py:257-303).
K4  template-file sink `EventId,EventTemplate` (eval_pipeline.py:287-291).

:func:`fan_out` is the one scan-parallelism policy, shared by the
``queries()`` entries and the curation job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GROK_DEFAULT = r"^(\S+)\s+(\S+)\s+(\S+)\s+(\S+)\s+(.*)$"


def fan_out(df: DataFrame) -> DataFrame:
    """Scan fan-out (guide §2.2): a frame with fewer partitions than
    ``defaultParallelism`` is round-robined to that many, so its narrow
    stages (mask chains, shingle explodes, interpreted HOF stats) use
    every core; a frame with at least that many is returned unchanged.
    A single-file parquet table under one row group scans as ONE split —
    so does a compacted input of a few large files, which this
    round-robins in full (there is no size gate).  Only for consumers
    whose results are partition- and order-invariant."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def read_log_file(spark: SparkSession, path: str) -> DataFrame:
    """S1: CSV first; no 'content' column -> first column; non-CSV ->
    one trimmed line per row.  Returns a single-column ``content`` frame."""
    try:
        df = spark.read.option("header", True).option("mode", "FAILFAST").csv(path)
        cols = df.columns
        if not cols:
            raise ValueError("empty csv")
        if "content" in cols:
            out = df.select(F.col("content"))
        elif len(cols) >= 1 and _looks_like_header(cols):
            out = df.select(F.col(cols[0]).alias("content"))
        else:
            raise ValueError("not really a csv")
        # force an eager sanity read so malformed files fall through
        out.limit(1).collect()
        return out
    except Exception:
        return spark.read.text(path).select(F.trim("value").alias("content"))


def _looks_like_header(cols: list[str]) -> bool:
    # a real CSV header has no embedded spaces in every column name
    return all(c == c.strip() and " " not in c for c in cols)


def read_structured_dataset(spark: SparkSession, path: str) -> DataFrame:
    """S2: (LineId, Content, EventId, EventTemplate) with explicit schema."""
    return spark.read.option("header", True).schema(
        "LineId int, Content string, EventId string, EventTemplate string"
    ).csv(path)


def grok_parse(
    df: DataFrame,
    content_col: str = "content",
    pattern: str = GROK_DEFAULT,
    keep: tuple = (),
) -> DataFrame:
    """S3: positional grok-style split into Timestamp/Level/Component/PID/
    Content; ``keep`` passes named input columns through (e.g. a row id)."""
    c = F.col(content_col)
    return df.select(
        *[F.col(k) for k in keep],
        F.regexp_extract(c, pattern, 1).alias("Timestamp"),
        F.regexp_extract(c, pattern, 2).alias("Level"),
        F.regexp_extract(c, pattern, 3).alias("Component"),
        F.regexp_extract(c, pattern, 4).alias("PID"),
        F.regexp_extract(c, pattern, 5).alias("Content"),
    )


def write_results_csv(parsed: DataFrame, out_dir: str) -> None:
    """K3: parsed_logs.csv + templates.csv + report.md (small driver-side
    report like the reference's markdown summary)."""
    os.makedirs(out_dir, exist_ok=True)
    parsed.write.mode("overwrite").option("header", True).csv(os.path.join(out_dir, "parsed_logs.csv"))
    templates = (
        parsed.groupBy("template_id", "template")
        .agg(F.count("*").alias("frequency"))
        .orderBy(F.desc("frequency"), "template_id")
    )
    templates.write.mode("overwrite").option("header", True).csv(os.path.join(out_dir, "templates.csv"))
    top = templates.limit(10).collect()
    total = parsed.count()
    lines = [
        "# Parsing report",
        "",
        f"- total rows: {total}",
        f"- distinct templates: {templates.count()}",
        "",
        "## Top templates",
        "",
        "| template_id | frequency | template |",
        "|---|---|---|",
    ]
    lines += [f"| {r['template_id']} | {r['frequency']} | {r['template']} |" for r in top]
    with open(os.path.join(out_dir, "report.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def write_template_file(templates: DataFrame, path: str) -> None:
    """K4: one CSV part with EventId,EventTemplate in first-seen order
    (E{n} labels from template ids, eval_pipeline.py:287-291)."""
    (
        templates.select(
            F.concat(F.lit("E"), (F.col("template_id") + 1).cast("string")).alias("EventId"),
            F.col("template").alias("EventTemplate"),
        )
        .orderBy("EventId")
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
