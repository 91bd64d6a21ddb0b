"""SemDeDup (cluster-bucketed semantic dedup) — mirror differential,
skew guard, partition invariance.  The value-level oracle is the
``semdedup_keep`` entry in __spark_entry__.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.operators.semdedup import semdedup


def _fixture(spark, n=120, dim=8, seed=7):
    """Deterministic vectors with planted duplicate groups: base
    directions per cluster plus small planted perturbations."""
    import random

    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rnd.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in v]))
    # plant tight duplicate pairs: vectors 100..109 copy 0..9 with tiny noise
    for j in range(10):
        base = rows[j][1]
        rows[100 + j] = (100 + j, [x + 0.001 * (j + 1) for x in base])
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _mirror(rows, centroids, threshold):
    """Sequential union-find mirror with the same keep rule."""

    def norm(v):
        return math.sqrt(sum(x * x for x in v))

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / (norm(a) * norm(b))

    def sqd(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    asg = {
        i: min(range(len(centroids)), key=lambda c: (sqd(v, centroids[c]), c))
        for i, v in rows
    }
    vec = dict(rows)
    parent = {i: i for i, _ in rows}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ids = sorted(vec)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            i, j = ids[a], ids[b]
            if asg[i] == asg[j] and cos(vec[i], vec[j]) >= threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    comps = {}
    for i in ids:
        comps.setdefault(find(i), []).append(i)
    kept = {}
    for members in comps.values():
        if len(members) == 1:
            kept[members[0]] = True
            continue
        qs = {
            i: (int(math.floor(1e6 * cos(vec[i], centroids[asg[i]]) + 0.5)), i)
            for i in members
        }
        winner = min(members, key=lambda i: qs[i])
        for i in members:
            kept[i] = i == winner
    return asg, kept


def test_semdedup_matches_mirror(spark, cache):
    emb = _fixture(spark)
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]
    centroids = [v for i, v in rows if i in (3, 17, 42, 77)]
    out = semdedup(emb, centroids, threshold=0.9, cache=cache)
    got = {r["vec_id"]: (r["list_id"], r["kept"]) for r in out.collect()}
    asg, kept = _mirror(rows, centroids, 0.9)
    assert {i: v[0] for i, v in got.items()} == asg
    assert {i: v[1] for i, v in got.items()} == kept
    # the planted copies actually formed duplicate groups
    assert sum(1 for v in got.values() if not v[1]) >= 8


def test_semdedup_partition_invariance(spark):
    emb = _fixture(spark)
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]
    centroids = [v for i, v in rows if i in (3, 17, 42, 77)]
    a = semdedup(emb.repartition(1), centroids, threshold=0.9)
    b = semdedup(emb.repartition(13), centroids, threshold=0.9)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_semdedup_preassigned_path_parity(spark):
    """The scale path (caller-supplied list_id, e.g. KMeans transform)
    must agree exactly with the internal expression quantizer."""
    from sherlog_parser_spark.operators.similarity import ivf_assign

    emb = _fixture(spark)
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]
    centroids = [v for i, v in rows if i in (3, 17, 42, 77)]
    pre = ivf_assign(emb, centroids)
    a = semdedup(emb, centroids, threshold=0.9)
    b = semdedup(emb, centroids, threshold=0.9, assigned=pre)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_semdedup_numpy_pairs_parity(spark):
    """The BLAS scale path agrees with the expression path (fixture
    similarities sit far from the threshold, so float-accumulation
    ulps cannot flip membership)."""
    emb = _fixture(spark)
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]
    centroids = [v for i, v in rows if i in (3, 17, 42, 77)]
    a = semdedup(emb, centroids, threshold=0.9)
    b = semdedup(emb, centroids, threshold=0.9, pair_impl="numpy")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_semdedup_skew_guard_raises(spark):
    emb = _fixture(spark)
    centroids = [[0.0] * 8]  # one list swallows everything
    with pytest.raises(ValueError, match="max_cluster_rows"):
        semdedup(emb, centroids, threshold=0.9, max_cluster_rows=50)
