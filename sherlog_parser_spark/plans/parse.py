"""Parse stage: masking + signature columns.

The reference's per-row ``parse_log`` loop (cpp/src/log_parser.cpp:515-581)
becomes two narrow column additions — no shuffle, fully pipelined inside
the scan stage, no Python on the data path:

    masked = mask_template_expr(text)   # regexp_replace chain, codegen
    sig    = xxhash64(masked)           # strict-match key (SURVEY §2.3 P4)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import mask_template_expr, signature_expr


def parse_stage(df: DataFrame) -> DataFrame:
    """Append ``masked`` (the heuristic template of ``text``, default
    rules: strict parity with the reference's extractor) and ``sig``."""
    # F8 null/empty guard: null text parses like the empty string (the
    # reference's readers strip/skip blanks; a null must not create a
    # null-sig cluster or a __HIVE_DEFAULT_PARTITION__ sink directory)
    masked = mask_template_expr(F.coalesce(F.col("text"), F.lit("")))
    return df.withColumn("masked", masked).withColumn("sig", signature_expr(F.col("masked")))
