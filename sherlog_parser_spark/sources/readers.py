"""Source readers (SURVEY §2.1 S2-S3).

S2  loghub-style structured dataset scan (src/eval/datasets.py:205-230).
S3  grok-format scan `<Timestamp> <Level> <Component> <PID> <Content>`
    (src/core/logai_tools.py:43-51) via regexp_extract.

:func:`fan_out` is the one scan-parallelism policy, shared by the
``queries()`` entries and the curation job.
"""

from __future__ import annotations

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

