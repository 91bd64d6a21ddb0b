"""Masking/param/event-type semantics vs the reference's heuristic
extractor (cpp/src/log_parser.cpp:192-232,290-325) — ported assertions
from cpp/tests/test_main.cpp:60-83 plus expression/Python parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import (
    event_type_py,
    extract_params_expr,
    extract_params_py,
    mask_template_expr,
    mask_template_py,
    normalize_template_py,
)

CASES = [
    ("User admin logged in from 192.168.1.1", "User admin logged in from <LOI>"),
    ("User root logged in from 10.0.0.1", "User root logged in from <LOI>"),
    ("Request 0x1f2a completed in 532 ms", "Request <OID> completed in <OBA> ms"),
    ("scheduling task 0xff on worker-17", "scheduling task <OID> on <OID>"),
    ("Failed to connect to server db01", "Failed to connect to server <OID>"),
    ("plain static sentence only", "plain static sentence only"),
    ("999.999.999.999 is ip-ish", "<LOI> is ip-ish"),
    ("0XFF is not hex prefix", "0XFF is not hex prefix"),  # C++ pattern is case-sensitive on 0x
    ("123abc", "123abc"),  # ends in letter -> no rule matches
    ("  spaced   out   42  ", "spaced out <OBA>"),
    ("", ""),
]


def test_mask_python_reference():
    for text, expected in CASES:
        assert mask_template_py(text) == expected, text


ADVERSARIAL = [
    "5 6 7",  # adjacent maskable tokens share boundary spaces
    "1.2.3.4 10 0xff worker-9",
    "  leading and trailing  ",
    "",
    "single",
    "42",
    "tab\tseparated\t0x1f",
]


def test_mask_expr_matches_python(spark, transcripts):
    """The regexp_replace chain equals the per-token Python mirror on
    every pinned case, every transcript row and the adversarial
    literals."""
    extra = spark.createDataFrame([(t,) for t, _ in CASES] + [(t,) for t in ADVERSARIAL], "text string")
    df = transcripts.select("text").unionByName(extra)
    got = df.select("text", mask_template_expr("text").alias("m")).collect()
    assert len(got) > len(CASES) + len(ADVERSARIAL)
    for r in got:
        assert r["m"] == mask_template_py(r["text"]), r["text"]


def test_mask_expr_guardless_equals_guarded(spark, transcripts):
    """guards=False (small-tree variant for nested contexts) must stay
    byte-identical to the guarded default on real transcript text."""
    mism = (
        transcripts.select(
            mask_template_expr("text").alias("a"),
            mask_template_expr("text", guards=False).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mism == 0


def test_tokens_fast_expr_equals_tokens_expr(spark, transcripts):
    """tokens_fast_expr (clean-row literal-space split, r6) must be
    value-identical to tokens_expr on real transcripts AND on every
    whitespace edge class (empty, all-space, tabs/newlines at edges and
    interior, double spaces, NBSP which is NOT Java \\s)."""
    from sherlog_parser_spark.functions.masking import tokens_expr, tokens_fast_expr

    edge = spark.createDataFrame(
        [(t,) for t in [
            "", " ", "  ", "\t", "a", " a ", "a b", "a  b", "\ta\tb\t",
            "a\nb", "\n", "x\x0by\x0cz", "a\r\nb", "\xa0", "a\xa0b",
            "end\t", "\tstart", "a   b  c", None,
        ]],
        "text string",
    )
    for frame in (edge, transcripts):
        mism = (
            frame.select(
                tokens_expr("text").alias("a"),
                tokens_fast_expr("text").alias("b"),
            )
            .filter(F.expr("a IS DISTINCT FROM b"))
            .count()
        )
        assert mism == 0


def test_simple_log_parsing_pin():
    """cpp/tests/test_main.cpp:60-69: template has <OID> and <LOI>, 2 params."""
    text = "User admin logged in from 192.168.1.1"
    tpl = mask_template_py(text)
    assert "<OID>" in tpl or "admin" in tpl  # 'admin' is pure-alpha -> static under heuristic
    assert "<LOI>" in tpl
    params = extract_params_py(text, tpl)
    assert params == {"param_5_LOI": "192.168.1.1"}


def test_param_extraction_expr_matches_python(spark, transcripts):
    from sherlog_parser_spark.plans.parse import parse_stage

    df = parse_stage(transcripts).withColumn(
        "params", extract_params_expr("text", "masked")
    )
    rows = df.select("text", "masked", "params").limit(500).collect()
    assert len(rows) > 0
    for r in rows:
        assert dict(r["params"]) == extract_params_py(r["text"], r["masked"]), r["text"]


def test_param_empty_on_length_mismatch():
    assert extract_params_py("a b c", "a <OBA>") == {}


def test_event_type_py():
    assert event_type_py("task <OID> failed with exit code <OBA>") == "ERROR"
    assert event_type_py("WARN retry budget low for <OID>") == "WARNING"
    assert event_type_py("DEBUG planner chose branch <OBA>") == "DEBUG"
    assert event_type_py("INFO heartbeat from <OID> seq <OBA>") == "INFO"
    assert event_type_py("cache hit for key <OID>") == "UNKNOWN"
    # ERROR/FAIL outranks WARN (src/core/parser_service.py:247-250)
    assert event_type_py("warn error") == "ERROR"


def test_normalize_template():
    assert normalize_template_py("User <OID> logged in from <LOI>") == "User <*> logged in from <*>"
    assert normalize_template_py("no vars") == "no vars"


def test_parse_stage_null_text(spark):
    """Null text must parse like empty text (no null sig/template)."""
    from sherlog_parser_spark.plans.parse import parse_stage

    df = spark.createDataFrame(
        [("c1", 0, "user", None, "none"), ("c1", 1, "user", "", "none")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    rows = parse_stage(df).select("masked", "sig").collect()
    assert all(r["masked"] == "" for r in rows)
    assert rows[0]["sig"] == rows[1]["sig"] is not None


EXT_CASES = [
    # (text, extended-mode masked template)
    ("Accepted socket connection from /10.10.34.11:50010",
     "Accepted socket connection from /<LOI>:<OBA>"),
    ("[client 10.117.21.44] Directory index forbidden",
     "[client <LOI>] Directory index forbidden"),
    ("session opened for user cyrus by (uid=0)",
     "session opened for user cyrus by (uid=<OBA>)"),
    ("logname= uid=0 euid=0 tty=NODEVssh ruser= rhost=h-1.example.com",
     "logname= uid=<OBA> euid=<OBA> tty=NODEVssh ruser= rhost=<OBA>"),
    ("Expiring session 0xed6336898 , timeout of 12000 ms exceeded",
     "Expiring session 0x<OID> , timeout of <OBA> ms exceeded"),
    ("Deleting block blk_-123 file /mnt/dfs/current/blk_-123",
     "Deleting block blk_<OID> file /mnt/dfs/current/blk_<OID>"),
    ("at Fri Jun 17 23:01:58 2005", "at Fri Jun <OBA> <TDA> <OBA>"),
    # default-rule behavior is untouched where no extended rule fires
    ("plain static sentence only", "plain static sentence only"),
    ("Request 0x1f2a completed in 532 ms", "Request 0x<OID> completed in <OBA> ms"),
]


def test_extended_mask_python_reference():
    for text, expected in EXT_CASES:
        assert mask_template_py(text, extended=True) == expected, text


def test_extended_mask_expr_matches_python(spark):
    df = spark.createDataFrame([(t,) for t, _ in EXT_CASES], "text string")
    got = [r[0] for r in df.select(mask_template_expr("text", extended=True)).collect()]
    assert got == [e for _, e in EXT_CASES]


def test_default_mode_is_unchanged_by_extended_rules():
    """Parity guard: extended=False must be byte-identical to the
    pre-extension behavior on every pinned case."""
    for text, expected in CASES:
        assert mask_template_py(text, extended=False) == expected, text


def test_extended_mode_lifts_parsing_accuracy(spark):
    """The point of the gate: on the loghub-shaped fixture the extended
    rules must lift PA well above the default heuristic's 0.67 while the
    default stays reference-parity."""
    from sherlog_parser_spark.data.loghub_shaped import generate_loghub_shaped
    from sherlog_parser_spark.eval import metrics as M
    from sherlog_parser_spark.functions.masking import normalize_template_expr

    golden = generate_loghub_shaped(spark, n_rows=600)
    scores = {}
    for mode, ext in (("default", False), ("extended", True)):
        res = golden.select(
            F.col("LineId").alias("log_id"),
            F.col("EventTemplate").alias("truth_template"),
            normalize_template_expr(mask_template_expr("Content", extended=ext)).alias(
                "pred_template"
            ),
        )
        scores[mode] = M.evaluate(res)
    assert scores["default"]["parsing_accuracy"] < 0.8  # honest heuristic bound
    assert scores["extended"]["parsing_accuracy"] >= 0.95
    assert scores["extended"]["grouping_accuracy"] >= 0.99
