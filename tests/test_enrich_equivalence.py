"""r6 optimization guard: the dictionary-precomputed enrich stage must be
row- and column-identical to the legacy per-row formulation — including
dictionary-MISS rows (null template), empty/whitespace text, and
token-count mismatches."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import (
    event_type_expr,
    extract_params_expr,
    normalize_template_expr,
)
from sherlog_parser_spark.plans.dictionary import build_template_dictionary
from sherlog_parser_spark.plans.enrich import enrich_stage
from sherlog_parser_spark.plans.parse import parse_stage


def legacy_enrich(parsed, template_dict, dim=None, with_params=True):
    """The pre-r6 per-row formulation, kept verbatim as the semantic
    reference for this test."""
    out = parsed.join(F.broadcast(template_dict), "sig", "left")
    if dim is not None:
        out = out.join(F.broadcast(dim), ["role", "tool"], "left")
    out = out.withColumn("event_type", event_type_expr("template")).withColumn(
        "normalized_template", normalize_template_expr("template")
    )
    if with_params:
        out = out.withColumn("parameters", extract_params_expr("text", "template"))
    return out


@pytest.fixture(scope="module")
def parsed_and_dict(spark, transcripts):
    parsed = parse_stage(transcripts).cache()
    tdict = build_template_dictionary(parsed)
    return parsed, tdict


def _canon(df):
    rows = df.collect()
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        if isinstance(d.get("parameters"), dict):
            d["parameters"] = tuple(sorted(d["parameters"].items()))
        out.append(tuple(sorted(d.items(), key=lambda kv: kv[0])))
    return sorted(out)


def test_enrich_matches_legacy_on_corpus(spark, parsed_and_dict):
    parsed, tdict = parsed_and_dict
    new = enrich_stage(parsed, tdict.df)
    old = legacy_enrich(parsed, tdict.df)
    assert new.columns == old.columns
    assert new.schema == old.schema
    assert _canon(new) == _canon(old)


def test_enrich_matches_legacy_on_dict_miss_and_edge_text(spark, parsed_and_dict):
    _, tdict = parsed_and_dict
    edge = spark.createDataFrame(
        [
            # sig 12345 is (almost surely) not in the dictionary -> null template
            ("c0", 0, "user", None, "no dict entry here 42", 12345),
            ("c1", 1, "user", None, "", 12345),
            ("c2", 2, "user", None, None, 12345),
            ("c3", 3, "user", None, "   ", 12345),
        ],
        "conv_id string, turn_idx int, tool string, ts timestamp, text string, sig long",
    )
    assert tdict.df.filter(F.col("sig") == 12345).count() == 0
    new = enrich_stage(edge, tdict.df)
    old = legacy_enrich(edge, tdict.df)
    assert new.schema == old.schema
    assert _canon(new) == _canon(old)
    # the legacy contract: misses get UNKNOWN event_type, null normalized
    # template, and an EMPTY (not null) parameters map
    row = new.filter(F.col("conv_id") == "c0").collect()[0]
    assert row["event_type"] == "UNKNOWN"
    assert row["normalized_template"] is None
    assert row["parameters"] == {}


def test_enrich_matches_legacy_on_token_count_mismatch(spark, parsed_and_dict):
    parsed, tdict = parsed_and_dict
    # graft a WRONG sig onto rows so the joined template's token count
    # differs from the text's -> legacy emits the empty map
    any_sig = tdict.df.select("sig").limit(1).collect()[0][0]
    mismatched = parsed.limit(20).withColumn("sig", F.lit(any_sig))
    new = enrich_stage(mismatched, tdict.df)
    old = legacy_enrich(mismatched, tdict.df)
    assert _canon(new) == _canon(old)


def test_enrich_tokenizes_text_once(spark, parsed_and_dict):
    """The bound __lt token array must survive as a single projection —
    if the optimizer inlined it into the params lambda, tokenization
    would re-run per variable position (the documented HOF outer-ref
    trap)."""
    parsed, tdict = parsed_and_dict
    plan = enrich_stage(parsed, tdict.df)._jdf.queryExecution().optimizedPlan().toString()
    # the TEXT tokenization (split(trim(text..)) appears only inside the
    # single projection that binds __lt — at most twice lexically (the
    # two CASE branches of tokens_fast_expr, of which one evaluates per
    # row) and NEVER inside a lambda body, where it would re-run per
    # variable position.  (The template-side tokenization on the
    # ≤10^4-row dict may appear more — that's the cheap side.)
    assert 1 <= plan.count("split(trim(text") <= 2, plan
    # the params lambda must index into the BOUND array attribute
    # (element_at(__lt#N, ...)), not a re-tokenizing expression tree
    assert re.search(r"element_at\(__lt#\d+", plan), plan


def test_enrich_dictionary_side_carries_no_lambdas(spark, parsed_and_dict):
    """The template-side metadata lambdas are evaluated once when the
    plan is built; the broadcast side is plain data, so concurrent jobs
    over enrich_stage output never fold them on the driver."""
    parsed, tdict = parsed_and_dict
    plan = enrich_stage(parsed, tdict.df)._jdf.queryExecution().analyzed().toString()
    assert "regexp_extract(lambda" not in plan, plan
    # the row-side parameter lambda is still there
    assert "element_at(__lt#" in plan, plan
