"""Connected components over near-duplicate candidate pairs — the
"dedup decision" layer that turns pairwise similarity hits (n-gram
Jaccard / MinHash-LSH / embedding cosine) into keep/drop sets.

Small graphs are decided on the driver: near-dup candidate graphs are a
few hundred edges at bench scale, where the distributed loop below costs
two localCheckpoints and a probe job a round (~23 Spark jobs).
``connected_components`` runs ONE bounded action over the pairs; at or
under ``CC_DRIVER_MAX_PAIRS`` rows it labels them with a numpy
union-find and returns a local relation, above the guard it runs the
distributed loop, ``hash_to_min_components``.

The loop: iterated min-label propagation ("hash-to-min" style): every
node starts labeled with itself; each round every node takes the min
label in its closed neighborhood; converges in O(diameter) rounds —
near-dup graphs are unions of small cliques-ish clusters, so diameter
is tiny.  Each round is one shuffle (groupBy node).  For adversarial
long-chain graphs swap in the large-star/small-star variant; the API is
the same.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Largest candidate-pair count labelled on the driver: at the guard the
# collect is 8 MB of Arrow (two int64 columns), and collect + labelling +
# local relation take ~1-2 s of driver time (BASELINE.md, "Connected
# components on the driver")
CC_DRIVER_MAX_PAIRS = 500_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``; component =
    min node id in the connected component, in the ids' own type.  A null
    endpoint joins nothing and yields one (null, null) row.

    One bounded collect decides the path: up to ``CC_DRIVER_MAX_PAIRS``
    pairs are labelled on the driver, more go to
    :func:`hash_to_min_components` (which re-evaluates ``pairs``)."""
    head = pairs.select(src, dst).limit(CC_DRIVER_MAX_PAIRS + 1).toArrow()
    if head.num_rows > CC_DRIVER_MAX_PAIRS:
        return hash_to_min_components(pairs, src, dst, max_iterations)
    return pairs.sparkSession.createDataFrame(_label_on_driver(head))


def _label_on_driver(head: pa.Table) -> pa.Table:
    """``(id, component)`` for the two-column endpoint table ``head``."""
    # both ends share one type, widened as the loop's edge structs are
    typ = pa.unify_schemas(
        [pa.schema([("e", c.type)]) for c in head.columns], promote_options="permissive"
    ).field("e").type
    ends = pa.concat_arrays([c.combine_chunks().cast(typ) for c in head.columns])
    valid = ends.is_valid().to_numpy(zero_copy_only=False)
    # sorted distinct ids: a node's index order is its id order, so the
    # min-index root is the min id
    nodes, inv = np.unique(ends.drop_null().to_numpy(zero_copy_only=False), return_inverse=True)
    at = np.full(len(ends), -1)
    at[valid] = inv
    a, b = at[: head.num_rows], at[head.num_rows :]
    both = (a >= 0) & (b >= 0)
    a, b = a[both], b[both]
    ids = pa.array(nodes, typ)
    comps = pa.array(nodes[_min_roots(len(nodes), a, b)], typ)
    if ends.null_count:  # the loop keeps one (null, null) row for null ends
        ids, comps = (pa.concat_arrays([x, pa.nulls(1, typ)]) for x in (ids, comps))
    return pa.table({"id": ids, "component": comps})


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Smallest node index in each node's component, for nodes
    ``0..n-1`` and edges ``(a[i], b[i])``: union-find by hooking each
    edge's larger root under its smaller one, then pointer jumping to
    the roots, until every edge joins equal roots.  Labels only fall
    and stay inside the component, so the fixed point is the min."""
    label = np.arange(n)
    while True:
        la, lb = label[a], label[b]
        if np.array_equal(la, lb):
            return label
        lo = np.minimum(la, lb)
        np.minimum.at(label, la, lo)
        np.minimum.at(label, lb, lo)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped


def hash_to_min_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """The distributed loop behind :func:`connected_components`, same
    contract, for candidate graphs too large to collect.

    Convergence is CONFIRMED (a final round must observe zero label
    changes) and non-convergence raises rather than returning partial
    labels — the default cap is sized so the confirming round fits
    (a 200-node random test graph needed 21 rounds; near-dup cliques
    need ~3)."""
    # symmetrize in ONE pass (r6): union(pairs, pairs.swapped) evaluates
    # the pairs tree twice — and `pairs` is typically the expensive
    # candidate-generation chain (minhash banding, within-cluster cosine
    # join); the explode emits both directions from a single evaluation
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
    )
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("s").alias("id")).distinct().withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.d == labels.id)
            .groupBy(F.col("s").alias("id"))
            .agg(F.min("component").alias("nmin"))
        )
        # localCheckpoint truncates lineage each round — without it the
        # plan nests every prior iteration and analysis time explodes.
        # r6: the change flag rides the checkpointed frame (a label only
        # changes when nmin < component), so the convergence check is a
        # narrow limit-1 scan of the checkpoint instead of a second
        # shuffle join per round — iterative rounds are driver/job-count
        # bound on small graphs, and this halves the per-round job cost.
        new_full = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("nmin", F.col("component"))).alias("component"),
                F.coalesce(F.col("nmin") < F.col("component"), F.lit(False)).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new_full.filter("_chg").limit(1).count()
        labels = new_full.select("id", "component")
        if changed == 0:
            break
    if changed != 0:
        # returning partial labels would silently drop the WRONG documents
        # from the keep sets downstream — fail loudly instead
        # (possible on chain-shaped candidate graphs; r1 ADVICE)
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations; the candidate graph has a longer diameter than "
            "expected — raise max_iterations or switch to large-star/small-star"
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    escape hatch for long-diameter candidate graphs where min-label
    propagation needs O(diameter) rounds: alternating rounds converge in
    O(log^2 n) (O(log n) observed; a 1000-node chain takes ~10 rounds vs
    1000 for hash-to-min).

    Paper-faithful rounds over an undirected edge set E:
    * LARGE-STAR — symmetrize E; per node u with neighbors N(u),
      m = min(N(u) ∪ {u}); emit (v, m) for every v ∈ N(u) with v > u.
    * SMALL-STAR — orient each edge toward its larger endpoint u;
      m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m.
    At the fixed point E is a union of stars rooted at each component's
    min node.  Output contract matches ``connected_components``:
    (id, component).
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # nodes derive from the CHECKPOINTED edges + the self-loop ids the
    # u!=v filter dropped (r6: one pairs evaluation instead of three);
    # self-loop-only nodes are their own component
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .union(pairs.filter(F.col(src) == F.col(dst)).select(F.col(src).alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def fingerprint(e: DataFrame) -> tuple:
        # canonical undirected fingerprint; two independent hash seeds so
        # a collision cannot fake convergence
        a, b = F.least("u", "v"), F.greatest("u", "v")
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(a, b)).alias("h1"),
            F.bit_xor(F.xxhash64(b, a, F.lit(7))).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    prev = fingerprint(edges)
    converged = False
    for _ in range(max_iterations):
        # ---- large-star ----
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        edges = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # ---- small-star ----
        oriented = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(m2, "u")
            .select(F.col("v").alias("n"), F.col("u").alias("o"), F.col("m"))
        )
        edges = (
            small.select(F.col("n").alias("u"), F.col("m").alias("v"))
            .union(small.select(F.col("o").alias("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        cur = fingerprint(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iterations} rounds"
        )
    # fixed point: stars rooted at component minima
    labels = edges.select(
        F.greatest("u", "v").alias("id"), F.least("u", "v").alias("component")
    ).distinct()
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )

