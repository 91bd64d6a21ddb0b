"""SemDeDup — semantic deduplication via embedding-cluster bucketing
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

The published recipe: k-means the corpus embeddings, compute pairwise
cosine similarity ONLY within each cluster, connect pairs above a
threshold into duplicate groups, and keep one representative per group
— the member LEAST similar to its cluster centroid (low-similarity
"edge" examples carry the most training signal), ties broken by id.

Why this shape scales to 100 TB:

* candidate generation is an **equi-join on ``list_id``** — the only
  quadratic work is within a cluster, and the cluster count is chosen
  so clusters stay bounded (the paper uses ~sqrt(n) clusters; here
  ``n_lists`` is the caller's knob via the injected/trained centers).
  A skewed quantizer is caught LOUDLY: per-cluster sizes are counted
  first (an ``n_lists``-row aggregate, config-sized, never data-sized)
  and any cluster above ``max_cluster_rows`` raises with the cluster id
  instead of silently submitting a quadratic join.
* assignment reuses :func:`operators.similarity.ivf_assign` — one
  narrow map over centroid literals, no shuffle; at production scale
  the centers come from ``ivf_index``'s sampled KMeans, for the
  SQL-replayable oracle path they are injected fixture vectors (the
  same two-quantizer split the IVF ANN operator uses).
* duplicate groups reuse :func:`operators.components.connected_components`
  (pair sets within ``CC_DRIVER_MAX_PAIRS`` are labelled on the driver
  after one bounded collect; larger ones run the confirmed-convergence
  hash-to-min loop).
* the representative choice is order-free: the centroid similarity is
  QUANTIZED (``floor(1e6·cos + 0.5)`` — IEEE ops on identical inputs
  are correctly rounded, so Spark and DuckDB produce the same BIGINT)
  before the per-group ``row_number``, making the argmin deterministic
  under any partitioning and exactly replayable by the oracle.

Reference parity: the reference dedups logs by exact message identity
only (``/root/reference/src/core/dedup.py`` analog, SURVEY §2 A4);
SemDeDup is the embedding-space generalization a training-data
pipeline needs (task brief: "embedding-cosine near-dup" at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sherlog_parser_spark.operators.components import connected_components
from sherlog_parser_spark.operators.similarity import (
    dot_expr,
    ivf_assign,
    norm_expr,
)
from sherlog_parser_spark.session import CacheScope


def _numpy_cluster_pairs(base: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b) within-cluster pairs with cosine >= threshold via
    one Arrow-batched grouped-map per cluster: normalize once, then
    row-block matmul slabs (~128 MB transient) against the cluster —
    never the full n×n similarity matrix at once."""
    import numpy as np
    import pandas as pd

    def find_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        X = np.array(pdf["__v"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0] = 1.0
        Xn = X / nrm[:, None]
        blk = max(1, int(128 * 1024 * 1024 // (8 * n)))
        out_a, out_b = [], []
        for s in range(0, n, blk):
            S = Xn[s : s + blk] @ Xn.T
            ii, jj = np.nonzero(S >= threshold)
            gi = ii + s
            keep = jj > gi  # strict upper triangle in global positions
            if keep.any():
                a, b = ids[gi[keep]], ids[jj[keep]]
                out_a.append(np.minimum(a, b))
                out_b.append(np.maximum(a, b))
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return (
        base.select("list_id", "__id", "__v")
        .groupBy("list_id")
        .applyInPandas(find_pairs, "id_a long, id_b long")
    )


def semdedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 100_000,
    quantum: float = 1e6,
    cache: CacheScope | None = None,
    assigned: DataFrame | None = None,
    pair_impl: str = "expr",
) -> DataFrame:
    """(id_col, list_id, kept) for every input vector.

    ``kept`` is false exactly for vectors that belong to a within-cluster
    duplicate group (connected component of pairs with cosine >=
    ``threshold``) and are NOT its representative (min (cent_q, id),
    where cent_q is the quantized similarity to the cluster centroid —
    the LEAST centroid-similar member survives, per the paper).

    ``centroids`` are injected (deterministic fixture vectors for the
    oracle path, ``ivf_index`` KMeans centers at scale).  Raises when
    any cluster exceeds ``max_cluster_rows`` — resize ``n_lists``
    rather than letting one hot cluster go quadratic.

    ``cache`` (optional): the caller's scope.  The assigned frame
    (assignment + cent_q + norms) feeds the skew guard, both pair sides
    and two output joins; kept in the scope, those folds run once per
    row.  Without it nothing is cached (curation's shape, where
    recompute is cheaper than the cache).

    ``assigned`` (optional): a frame already carrying ``list_id``
    (e.g. ``ivf_index``'s KMeans ``model.transform`` output — the
    scale path: at hundreds of centers the JVM vectorized assignment
    beats re-deriving a centroids-sized expression quantizer, whose
    plan grows with n_lists × dims).  ``centroids`` must be the SAME
    centers in list_id order — they are still used for the
    keeper-selection centroid similarity.

    ``pair_impl``: 'expr' (default) generates within-cluster pairs via
    the JVM fold cosine — bit-exactly SQL-replayable, the oracle path.
    'numpy' runs an Arrow-batched ``applyInPandas`` per cluster with a
    row-block matmul (~128 MB slabs, the dbscan_numpy discipline) —
    the SCALE path: the interpreted HOF fold costs ~dims lambda evals
    per candidate pair, while BLAS does the whole cluster at memory
    bandwidth.  Pair membership may differ from 'expr' only for pairs
    within float-accumulation distance (~1e-15) of the threshold —
    keeper selection and the oracle stay on quantized expression
    values either way.
    """
    if pair_impl not in ("expr", "numpy"):
        raise ValueError(f"pair_impl must be 'expr' or 'numpy', got {pair_impl!r}")
    if assigned is None:
        assigned = ivf_assign(emb, centroids, id_col, vec_col)

    cent_of = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    base = assigned.select(
        F.col(id_col).alias("__id"),
        "list_id",
        F.col(vec_col).alias("__v"),
        # row norm computed ONCE here: the pair filter below would
        # otherwise re-run both norm folds for every candidate pair
        # (~3x the interpreted-fold work; same doubles either way)
        norm_expr(F.col(vec_col)).alias("__n"),
        # zero-norm guard (r5 ADVICE): clamp the denominator to the
        # smallest positive normal double so a zero embedding yields
        # cosine 0 (the numpy path's nrm[nrm==0]=1 convention) instead
        # of ANSI DIVIDE_BY_ZERO / NaN; for any nonzero norm the
        # greatest() is the identity, so oracle values are unchanged
        F.floor(
            F.lit(float(quantum))
            * (
                dot_expr(F.col(vec_col), F.element_at(cent_of, F.col("list_id") + 1))
                / F.greatest(
                    norm_expr(F.col(vec_col))
                    * norm_expr(F.element_at(cent_of, F.col("list_id") + 1)),
                    F.lit(2.2250738585072014e-308),
                )
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cent_q"),
    )
    base = cache.keep(base) if cache else base
    # loud skew guard: n_lists rows to the driver, never data-sized
    # (r6: counted from `base` AFTER the cache so the guard pass
    # doubles as the cache-population pass instead of an extra
    # assignment scan)
    sizes = base.groupBy("list_id").count().collect()
    hot = [(r["list_id"], r["count"]) for r in sizes if r["count"] > max_cluster_rows]
    if hot:
        lid, n = max(hot, key=lambda t: t[1])
        raise ValueError(
            f"semdedup: cluster {lid} holds {n} vectors "
            f"(> max_cluster_rows={max_cluster_rows}); the within-cluster "
            f"pair join would be quadratic in that cluster — train more "
            f"centers (n_lists ~ corpus_size / target_cluster_rows) or "
            f"raise the bound explicitly"
        )
    if pair_impl == "numpy":
        pairs = _numpy_cluster_pairs(base, float(threshold))
    else:
        a = base.select(
            "list_id",
            F.col("__id").alias("id_a"),
            F.col("__v").alias("va"),
            F.col("__n").alias("na"),
        )
        b = base.select(
            "list_id",
            F.col("__id").alias("id_b"),
            F.col("__v").alias("vb"),
            F.col("__n").alias("nb"),
        )
        pairs = (
            a.join(b, "list_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                # same zero-norm clamp as cent_q: identity for any
                # nonzero-norm pair, cosine 0 for zero vectors (the
                # numpy path's convention) instead of ANSI
                # DIVIDE_BY_ZERO
                dot_expr(F.col("va"), F.col("vb"))
                / F.greatest(
                    F.col("na") * F.col("nb"), F.lit(2.2250738585072014e-308)
                )
                >= F.lit(float(threshold))
            )
            .select("id_a", "id_b")
        )
    comps = connected_components(pairs, "id_a", "id_b")

    w = Window.partitionBy("component").orderBy("cent_q", "__id")
    members = (
        base.join(comps.withColumnRenamed("id", "__id"), "__id")
        .withColumn("__rk", F.row_number().over(w))
        .select("__id", (F.col("__rk") == 1).alias("kept"))
    )
    return (
        base.join(members, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "list_id",
            F.coalesce(F.col("kept"), F.lit(True)).alias("kept"),
        )
        # no output orderBy (r6): every consumer — the oracle
        # comparison, the curation fate filter, the tests — is
        # order-insensitive, and the global sort cost a sampling
        # pass + range shuffle per run
    )
