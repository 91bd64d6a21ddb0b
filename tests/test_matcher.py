"""Matcher/merge semantics — port of cpp/tests/test_main.cpp:11-54 intent.

Where the reference's shipped code contradicts its own test expectations
(see oracle/matcher.py docstring) we pin the behavior of OUR matcher and
document the divergence inline.
"""

from __future__ import annotations

from sherlog_parser_spark.oracle.matcher import (
    EXACT,
    NO_MATCH,
    SIMILAR,
    VARIABLE_ONLY,
    TemplatePool,
    match_type,
    merge_templates,
    similarity,
)

T_LOGIN = "User <OID> logged in from <LOI>"


def test_exact_match():
    assert match_type(T_LOGIN, T_LOGIN) == EXACT
    assert similarity(T_LOGIN, T_LOGIN) == 1.0


def test_one_token_substitution():
    """Reference Catch2 expects SIMILAR >= 0.8 here, but its shipped dice
    formula scores 2*2/(4+3) = 0.571 and the surviving Python difflib
    formula scores 4/7 = 0.571 too — the expectation is unsatisfiable by
    either shipped implementation.  We pin the difflib value."""
    t2 = "User <OID> authenticated from <LOI>"
    assert abs(similarity(T_LOGIN, t2) - 4 / 7) < 1e-9
    assert match_type(T_LOGIN, t2) == VARIABLE_ONLY  # both have variables


def test_high_overlap_is_similar():
    a = "Connection pool exhausted retrying operation now please stand by"
    b = "Connection pool exhausted retrying operation later please stand by"
    assert similarity(a, b) >= 0.8
    assert match_type(a, b) == SIMILAR


def test_disjoint_no_match():
    t2 = "Failed to connect to database with error <STC>"
    assert similarity(T_LOGIN, t2) < 0.8
    # both templates have variables -> VARIABLE_ONLY, not NO_MATCH; a pair
    # with no variables at all is a hard NO_MATCH:
    assert match_type("alpha beta gamma", "delta epsilon zeta") == NO_MATCH


def test_merge_keeps_longer():
    """cpp/tests/test_main.cpp:46-54 pin (the shipped C++ merge truncates;
    we honor the test's expectation)."""
    longer = T_LOGIN + " with role <SID>"
    assert merge_templates(T_LOGIN, longer) == longer
    assert merge_templates(longer, T_LOGIN) == longer


def test_merge_rejects_dissimilar():
    assert merge_templates(T_LOGIN, "Failed to connect to database with error <STC>") is None


def test_all_variable_position_jaccard():
    a = "<OID> <OBA> <LOI>"
    b = "<OID> <OBA> <LOI>"
    assert similarity(a, b) == 1.0  # exact
    c = "<OBA> <OID>"
    # normalized positions {0,1/3,2/3} vs {0,1/2}: intersection {0} -> 1/4
    assert abs(similarity(a, c) - 0.25) < 1e-9


def test_pool_first_seen_ids_and_merge():
    pool = TemplatePool()
    a = "Connection pool exhausted retrying operation now please stand by"
    b = "Connection pool exhausted retrying operation later please stand by"
    assert pool.add(0, a) == 0
    assert pool.add(1, "cache hit for key <OID>") == 1
    assert pool.add(2, b) == 0  # merges into entry 0
    assert pool.add(0, a) == 0  # repeat sig keeps mapping
    assert pool.templates[0] in (a, b)  # merged in place, same length -> base kept
    assert pool.mapping() == {0: 0, 1: 1, 2: 0}
