"""Template-dictionary build: distributed groupBy + tiny driver merge.

The reference's shared mutable template pool + trie under RW locks
(cpp/src/log_parser.cpp:386-438) is replaced by a functional two-step:

1. DISTRIBUTED: one hash aggregation collapses ~anything (10^12 turns)
   to one row per distinct masked template — the only data that ever
   reaches the driver.  Log/transcript corpora have O(10^2..10^4)
   distinct shapes, so the collect is bounded and cheap.
2. DRIVER: replay the reference's sequential similarity-merge
   (oracle/matcher.TemplatePool — the same module the parity oracle
   uses) over the distinct templates in canonical first-arrival order
   (min (ts, conv_id, turn_idx) per sig).  This confines ALL
   order-sensitive behavior to ≤10^4 rows and makes the outcome
   identical to the sequential reference run (SURVEY §7.0).

The frozen ``sig -> (template_id, template)`` dictionary is returned as
a DataFrame that downstream stages broadcast-join against.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sherlog_parser_spark.oracle.matcher import TemplatePool

MAX_DICT_ROWS = 1_000_000  # hard guard: refuse to collect unbounded dictionaries


@dataclass
class TemplateDictionary:
    df: DataFrame  # sig:long, template_id:long, template:string
    pool: TemplatePool
    n_sigs: int
    counts: dict[int, int] | None = None  # template_id -> row count

    @property
    def templates(self) -> list[str]:
        return list(self.pool.templates)


def dictionary_frame(spark: SparkSession, pool: TemplatePool) -> DataFrame:
    """The frozen ``sig -> (template_id, template)`` frame of ``pool``.
    Built from a ``pyarrow.Table``, as is :func:`template_frame`: that
    makes a JVM-local relation, so scanning or broadcasting it runs no
    Python worker (a ``createDataFrame(list)`` frame re-runs a Python job
    per broadcast).  A lambda projection over it goes through
    :func:`plain_frame`."""
    mapping = pool.mapping()
    return spark.createDataFrame(
        pa.table({
            "sig": pa.array(list(mapping), pa.int64()),
            "template_id": pa.array(list(mapping.values()), pa.int64()),
            "template": pa.array([pool.templates[t] for t in mapping.values()], pa.string()),
        })
    )


def template_frame(spark: SparkSession, templates: list[str]) -> DataFrame:
    """``template_id -> template``, one row per template."""
    return spark.createDataFrame(
        pa.table({
            "template_id": pa.array(range(len(templates)), pa.int64()),
            "template": pa.array(templates, pa.string()),
        })
    )


def plain_frame(df: DataFrame) -> DataFrame:
    """``df``'s rows as a plain-data local relation, evaluated once, on
    the calling thread.  A side frame that projects higher-order
    functions (lambdas) over one of the local relations above must pass
    through here before jobs use it: the optimizer folds such a
    projection into the relation's rows on the driver
    (ConvertToLocalRelation) with the plan's own lambda-variable
    objects, so two jobs planned at once over the same frame overwrite
    each other's lambda values and silently corrupt rows (seen
    downstream as "The key array and value array of MapData must have
    the same length")."""
    return df.sparkSession.createDataFrame(df.toArrow())


def build_template_dictionary(
    parsed: DataFrame,
    order_cols: tuple[str, ...] = ("ts", "conv_id", "turn_idx"),
    threshold: float = 0.8,
) -> TemplateDictionary:
    """parsed must carry ``sig`` + ``masked`` + order_cols."""
    spark = parsed.sparkSession
    agg = (
        parsed.groupBy("sig")
        .agg(
            F.min("masked").alias("masked"),  # functionally dependent on sig
            F.min(F.struct(*order_cols)).alias("first_seen"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("first_seen", "sig")
        .limit(MAX_DICT_ROWS + 1)
    )
    rows = agg.collect()
    if len(rows) > MAX_DICT_ROWS:
        raise RuntimeError(
            f"template dictionary exceeds {MAX_DICT_ROWS} distinct signatures; "
            "masking rules are not collapsing this corpus — refusing driver collect"
        )
    pool = TemplatePool(threshold=threshold)
    counts: dict[int, int] = {}
    for r in rows:
        tid = pool.add(r["sig"], r["masked"])
        counts[tid] = counts.get(tid, 0) + int(r["n"])
    return TemplateDictionary(
        df=dictionary_frame(spark, pool), pool=pool, n_sigs=len(rows), counts=counts
    )


def dictionary_state(tdict: TemplateDictionary) -> dict:
    """JSON-serializable snapshot — persisted next to the checkpoint
    manifest so a resumed run reuses the SAME template-id assignment
    instead of rebuilding from the current input (r1 ADVICE)."""
    return {
        "templates": tdict.templates,
        "mapping": {str(sig): tid for sig, tid in tdict.pool.mapping().items()},
        "counts": {str(tid): n for tid, n in (tdict.counts or {}).items()},
        "n_sigs": tdict.n_sigs,
        "threshold": tdict.pool.threshold,
    }


def dictionary_from_state(spark: SparkSession, state: dict) -> TemplateDictionary:
    pool = TemplatePool.from_state(
        state["templates"], state["mapping"], state.get("threshold", 0.8)
    )
    return TemplateDictionary(
        df=dictionary_frame(spark, pool),
        pool=pool,
        n_sigs=int(state["n_sigs"]),
        counts={int(t): int(n) for t, n in state["counts"].items()},
    )
