"""North-rule correctness gates: the distributed pipeline must match the
sequential pure-Python oracle on

  1. per-template cluster counts (A1),
  2. routed-row sets per (template_id, tool) sink,
  3. windowed tool-usage counts (A12),
  4. per-turn text byte-equality under stable (conv_id, turn_idx) order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.data.dims import role_tool_dim
from sherlog_parser_spark.oracle.reference_parser import (
    SequentialReferenceParser,
    oracle_route_sets,
    oracle_template_counts,
    oracle_tool_counts,
)
from sherlog_parser_spark.plans.aggregate import template_frequency, tool_usage_windowed
from sherlog_parser_spark.plans.dictionary import build_template_dictionary
from sherlog_parser_spark.plans.enrich import enrich_stage
from sherlog_parser_spark.plans.parse import parse_stage


@pytest.fixture(scope="module")
def oracle_parsed(transcript_rows):
    parser = SequentialReferenceParser()
    return parser.parse_rows(transcript_rows), parser


@pytest.fixture(scope="module")
def spark_enriched(spark, transcripts):
    parsed = parse_stage(transcripts)
    tdict = build_template_dictionary(parsed)
    return enrich_stage(parsed, tdict.df, role_tool_dim(spark)).cache(), tdict


def _template_key(tid_to_template: dict[int, str]):
    """Map ids to template strings so oracle/Spark ids are comparable even
    if dense-id assignment order differs (it should not, but the gate is
    on cluster identity, not label)."""
    return lambda tid: tid_to_template[tid]


def test_dictionary_matches_oracle(oracle_parsed, spark_enriched):
    _, parser = oracle_parsed
    _, tdict = spark_enriched
    assert tdict.templates == parser.pool.templates  # same ids, same strings, same order


def test_template_counts_match(oracle_parsed, spark_enriched):
    parsed, parser = oracle_parsed
    enriched, _ = spark_enriched
    expected = {
        parser.pool.templates[tid]: n for tid, n in oracle_template_counts(parsed).items()
    }
    got = {
        r["template"]: r["frequency"]
        for r in template_frequency(enriched).collect()
    }
    assert got == expected


def test_routed_row_sets_match(oracle_parsed, spark, transcripts, tmp_path):
    """The production write path: run_pipeline's routed sink, every
    commit group, and the aggregates it writes, against the sequential
    oracle — route sets, per-turn template/event_type/parameters as
    attached after the route exchange, agg_template_freq and
    agg_tool_usage."""
    from sherlog_parser_spark.plans.pipeline import run_pipeline

    parsed, parser = oracle_parsed
    res = run_pipeline(
        spark, transcripts, str(tmp_path / "run"), n_buckets=4, commit_groups=3,
        resume=False,
    )
    sink = spark.read.parquet(res.routed_dir)
    assert sink.count() == len(parsed)
    got: dict[tuple, set] = {}
    for r in sink.select("template_id", "tool", "conv_id", "turn_idx").collect():
        got.setdefault((r["template_id"], r["tool"]), set()).add((r["conv_id"], r["turn_idx"]))
    expected = oracle_route_sets(parsed)
    assert got == expected

    got_turns = {
        (r["conv_id"], r["turn_idx"]): (r["template"], r["event_type"], dict(r["parameters"]))
        for r in sink.select(
            "conv_id", "turn_idx", "template", "event_type", "parameters"
        ).collect()
    }
    assert got_turns == {
        (p.conv_id, p.turn_idx): (p.template, p.event_type, p.parameters) for p in parsed
    }

    freq = spark.read.parquet(str(tmp_path / "run" / "agg_template_freq")).collect()
    assert {(r["template_id"], r["template"]): r["frequency"] for r in freq} == {
        (tid, parser.pool.templates[tid]): n for tid, n in oracle_template_counts(parsed).items()
    }
    usage = spark.read.parquet(str(tmp_path / "run" / "agg_tool_usage")).collect()
    assert {
        (r["template_id"], r["tool"], int(r["window_start"].timestamp())): r["uses"]
        for r in usage
    } == oracle_tool_counts(parsed)


def test_tool_usage_windowed_matches(oracle_parsed, spark_enriched):
    parsed, _ = oracle_parsed
    enriched, _ = spark_enriched
    got = {
        (r["template_id"], r["tool"], int(r["window_start"].timestamp())): r["uses"]
        for r in tool_usage_windowed(enriched).collect()
    }
    assert got == oracle_tool_counts(parsed)


def test_per_turn_text_equality_stable_order(oracle_parsed, spark_enriched):
    parsed, _ = oracle_parsed
    enriched, _ = spark_enriched
    spark_rows = enriched.select("conv_id", "turn_idx", "text", "template_id").orderBy(
        "conv_id", "turn_idx"
    ).collect()
    oracle_sorted = sorted(parsed, key=lambda p: (p.conv_id, p.turn_idx))
    assert len(spark_rows) == len(oracle_sorted)
    for s, o in zip(spark_rows, oracle_sorted):
        assert (s["conv_id"], s["turn_idx"], s["text"], s["template_id"]) == (
            o.conv_id,
            o.turn_idx,
            o.text,
            o.template_id,
        )


def test_per_row_template_and_params_match(oracle_parsed, spark_enriched):
    parsed, _ = oracle_parsed
    enriched, _ = spark_enriched
    spark_rows = enriched.select(
        "conv_id", "turn_idx", "template", "parameters", "event_type"
    ).orderBy("conv_id", "turn_idx").collect()
    oracle_sorted = sorted(parsed, key=lambda p: (p.conv_id, p.turn_idx))
    for s, o in zip(spark_rows, oracle_sorted):
        assert s["template"] == o.template, (o.conv_id, o.turn_idx)
        assert dict(s["parameters"]) == o.parameters
        assert s["event_type"] == o.event_type


def test_merge_path_exercised(oracle_parsed):
    """The synthetic bank contains a >=0.8-similar template pair; assert the
    dictionary actually merged (distinct sigs > pool size)."""
    _, parser = oracle_parsed
    assert len(parser.pool.mapping()) > len(parser.pool.templates)

