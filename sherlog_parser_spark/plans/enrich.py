"""Enrich stage: broadcast hash joins + derived columns.

Two broadcast joins (J1 template dictionary, J4 role/tool dimension),
then parameter extraction (P11) and event-type inference (P15).  No
shuffle: both build sides are tiny and explicitly ``F.broadcast``-hinted,
so the fact table streams through map-side.

r6 optimization (guide §8 "decide with small rows"): every column that
is functionally dependent on ``template`` — ``event_type``,
``normalized_template``, and the parameter-extraction metadata (token
count + variable positions + precomputed map keys) — is computed ON THE
DICTIONARY (≤10^4 rows) and rides the existing broadcast join, instead
of being recomputed per corpus row (10^7+).  Per-row work reduces to one
whitespace tokenization of ``text`` plus positional indexing.  Output is
row- and column-identical to the pre-r6 per-row formulation (pinned by
tests/test_enrich_equivalence.py, including dictionary-miss rows).

:func:`template_side_frame` and :func:`attach_templates` are the one
template attach: :func:`enrich_stage` keys it on ``sig``, and
``run_pipeline``'s group writer keys it on ``template_id`` after the
route exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import (
    apply_params_expr,
    event_type_expr,
    normalize_template_expr,
    template_param_meta,
    tokens_fast_expr,
)
from sherlog_parser_spark.plans.dictionary import plain_frame


def template_side_frame(templates: DataFrame) -> DataFrame:
    """``templates`` (a dictionary or template frame: a key plus
    ``template``) with the per-template ``__event_type``,
    ``__normalized`` and ``__pmeta`` metadata, evaluated once as plain
    data (no lambda folding in concurrent jobs, see ``plain_frame``)."""
    return plain_frame(
        templates.withColumn("__event_type", event_type_expr("template"))
        .withColumn("__normalized", normalize_template_expr("template"))
        .withColumn("__pmeta", template_param_meta("template"))
    )


def attach_templates(
    frame: DataFrame, side: DataFrame, key: str, with_params: bool = True
) -> DataFrame:
    """Broadcast-join :func:`template_side_frame` ``side`` onto ``frame``
    on ``key`` and derive ``event_type``, ``normalized_template`` and
    (``with_params``) ``parameters`` from ``frame``'s ``text``."""
    out = frame.join(F.broadcast(side), key, "left")
    # dictionary miss -> null template: event_type_expr(null) resolved to
    # its otherwise-branch 'UNKNOWN'; the precomputed column is null there,
    # so coalesce restores the exact legacy value
    out = out.withColumn(
        "event_type", F.coalesce(F.col("__event_type"), F.lit("UNKNOWN"))
    ).withColumn("normalized_template", F.col("__normalized"))
    if with_params:
        out = (
            out.withColumn("__lt", tokens_fast_expr("text"))
            .withColumn("parameters", apply_params_expr(F.col("__lt"), F.col("__pmeta")))
            .drop("__lt")
        )
    return out.drop("__event_type", "__normalized", "__pmeta")


def enrich_stage(
    parsed: DataFrame,
    template_dict: DataFrame,
    dim: DataFrame | None = None,
    with_params: bool = True,
) -> DataFrame:
    out = attach_templates(parsed, template_side_frame(template_dict), "sig", with_params)
    if dim is not None:
        out = out.join(F.broadcast(dim), ["role", "tool"], "left")
    return out
