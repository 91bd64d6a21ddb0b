"""P16 — regex-pattern-matching parse (src/services/api/parser.py:40-146).

The reference ranks stored cluster patterns by embedding cosine
similarity, then applies the first pattern whose ``re.match`` succeeds
and keeps its named groups.  Spark-first re-expression of the
first-match half:

* the pattern list is tiny driver-side state (broadcast as literals),
* per row, the winning pattern = first in ranked order that matches
  (``rlike`` guards chained with ``coalesce``), evaluated JVM-side,
* named-group extraction via ``regexp_extract`` per group (group names
  resolved driver-side with Python's ``re`` — patterns are trusted
  config, not data).

Patterns apply in the given priority order; the reference's per-row
cosine ranking is not reproduced.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class ClusterPattern:
    cluster_id: int
    pattern: str  # Java/Python-compatible regex with named groups


def _match_anchor(pattern: str) -> str:
    """re.match anchors at the start only; also translate Python's
    ``(?P<name>...)`` named groups to Java's ``(?<name>...)``."""
    pattern = pattern.replace("(?P<", "(?<")
    return pattern if pattern.startswith("^") else "^(?:" + pattern + ")"


def pattern_parse(
    df: DataFrame,
    patterns: list[ClusterPattern],
    text_col: str = "text",
) -> DataFrame:
    """Adds ``cluster_id`` (first matching pattern, priority order) and
    ``parsed_fields`` (map of that pattern's named groups)."""
    c = F.col(text_col)
    cluster_id: Column = F.lit(None).cast("int")
    fields: Column = F.lit(None).cast("map<string,string>")
    # build from the LAST pattern backwards so the first match wins
    for cp in reversed(patterns):
        anchored = _match_anchor(cp.pattern)
        names = sorted(re.compile(cp.pattern).groupindex.items(), key=lambda kv: kv[1])
        entries = [
            x
            for name, idx in names
            for x in (F.lit(name), F.regexp_extract(c, anchored, idx))
        ]
        m = (
            F.map_from_arrays(F.array(*entries[0::2]), F.array(*entries[1::2]))
            if entries
            else F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            )
        )
        hit = c.rlike(anchored)
        cluster_id = F.when(hit, F.lit(cp.cluster_id)).otherwise(cluster_id)
        fields = F.when(hit, m).otherwise(fields)
    return df.withColumn("cluster_id", cluster_id).withColumn("parsed_fields", fields)

