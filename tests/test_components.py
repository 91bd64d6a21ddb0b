"""Connected-components dedup decisions vs a Python union-find oracle."""

from __future__ import annotations

import random

import pytest

from sherlog_parser_spark.operators import components
from sherlog_parser_spark.operators.components import (
    connected_components,
    hash_to_min_components,
)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_components_match_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(200))
    pairs = [(min(a, b), max(a, b)) for a, b in (sorted(rng.sample(nodes, 2)) for _ in range(150))]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    expected = _union_find(pairs)
    # canonicalize oracle to min-id representative
    assert got == expected


def test_components_chain(spark):
    pairs = [(i, i + 1) for i in range(30)]  # one long chain, diameter 30
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in hash_to_min_components(df, max_iterations=50).collect()}
    assert set(got.values()) == {0}


def test_connected_components_nonconvergence_raises(spark):
    """A chain graph needs O(length) rounds; an insufficient iteration cap
    must raise, never return silently-wrong labels (r1 ADVICE)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a INT, id_b INT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        hash_to_min_components(chain, max_iterations=2)
    # and with enough rounds (30-hop propagation + confirming pass) the
    # same graph resolves to one component
    ok = hash_to_min_components(chain, max_iterations=35)
    assert {r["component"] for r in ok.collect()} == {0}


def _labels(frame):
    return {r["id"]: r["component"] for r in frame.collect()}


@pytest.fixture
def loop_calls(monkeypatch):
    """Records each call connected_components makes to the distributed loop."""
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return hash_to_min_components(*args, **kwargs)

    monkeypatch.setattr(components, "hash_to_min_components", spy)
    return calls


def _mixed_graph():
    """Disjoint id ranges, so one frame holds every shape: a random graph,
    a 30-node chain, two cliques, duplicate and reversed pairs, and
    self-pairs (one on a node with an edge, one isolated)."""
    rng = random.Random(3)
    pairs = [tuple(rng.sample(range(200), 2)) for _ in range(150)]
    pairs += [(1000 + i, 1001 + i) for i in range(29)]
    pairs += [(a, b) for base in (2000, 2100) for a in range(base, base + 6)
              for b in range(a + 1, base + 6)]
    pairs += [(3000, 3001), (3001, 3000), (3000, 3001), (3002, 3001), (3002, 3001)]
    pairs += [(4000, 4000), (4000, 4001), (4100, 4100)]
    return pairs


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_driver_path_matches_loop_and_union_find(spark, id_type, loop_calls):
    """The driver labelling, the distributed loop and the union-find
    oracle agree node for node, and both keep the ids' type."""
    pairs = _mixed_graph()
    df = spark.createDataFrame(pairs, f"id_a {id_type}, id_b {id_type}")
    driver = connected_components(df)
    assert not loop_calls
    loop = hash_to_min_components(df)
    assert _labels(driver) == _labels(loop) == _union_find(pairs)
    for frame in (driver, loop):
        assert [f.dataType.simpleString() for f in frame.schema] == [id_type, id_type]


def test_driver_path_nulls_and_empty_match_loop(spark):
    """A null endpoint joins nothing and leaves one (null, null) row, on
    both paths; an empty pairs frame gives an empty typed frame."""
    nulls = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (None, None), (7, 7)], "id_a LONG, id_b LONG"
    )
    got = _labels(connected_components(nulls))
    assert got == _labels(hash_to_min_components(nulls))
    assert got == {1: 1, 2: 1, 5: 5, 7: 7, None: None}
    empty = spark.createDataFrame([], "id_a INT, id_b INT")
    for frame in (connected_components(empty), hash_to_min_components(empty)):
        assert frame.collect() == []
        assert [f.dataType.simpleString() for f in frame.schema] == ["int", "int"]


@pytest.mark.parametrize("extra", [0, 1])
def test_driver_guard_boundary(spark, monkeypatch, loop_calls, extra):
    """G pairs are labelled on the driver; G + 1 pairs run the loop."""
    guard = 12
    monkeypatch.setattr(components, "CC_DRIVER_MAX_PAIRS", guard)
    pairs = [(i, i + 1) for i in range(0, 2 * (guard + extra), 2)]
    got = _labels(connected_components(spark.createDataFrame(pairs, "id_a long, id_b long")))
    assert got == _union_find(pairs)
    assert len(loop_calls) == extra


def test_small_graph_runs_at_most_two_jobs(spark):
    """One bounded collect decides a small graph, and the labels are a
    local relation: no per-round checkpoint and probe jobs."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8), (9, 8)], "id_a long, id_b long")
    group = "cc-small-graph-jobs"
    sc.setJobGroup(group, group)
    try:
        got = _labels(connected_components(pairs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_star_components_match_union_find(spark):
    """Large-star/small-star vs the union-find oracle on a random graph,
    a long chain (the case hash-to-min needs O(n) rounds for), cliques,
    and isolated self-pairs."""
    from sherlog_parser_spark.operators.components import connected_components_star

    rng = random.Random(7)
    nodes = list(range(300))
    pairs = [tuple(sorted(rng.sample(nodes, 2))) for _ in range(200)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components_star(df).collect()}
    assert got == _union_find(pairs)


def test_star_components_long_chain_few_rounds(spark):
    """A 120-node chain must converge well within 25 star rounds
    (hash-to-min would need ~120)."""
    from sherlog_parser_spark.operators.components import connected_components_star

    chain = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components_star(df, max_iterations=25).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 121


def test_star_components_two_cliques_and_bridge(spark):
    from sherlog_parser_spark.operators.components import connected_components_star

    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs += [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    pairs += [(20, 20)]  # degenerate self-pair -> isolated node
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components_star(df).collect()}
    assert {got[i] for i in range(5)} == {0}
    assert {got[i] for i in range(10, 15)} == {10}
    assert got[20] == 20
