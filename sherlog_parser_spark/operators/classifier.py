"""Trained quality classifier — the FineWeb-Edu / RefinedWeb pattern
(Penedo et al. 2024): run an EXPENSIVE labeler (LLM judgment, curated
seed sets, or a slow rule cascade) on a small sample, train a cheap
linear classifier on hashed n-gram features, then score the whole
corpus with it.

Spark-first shape:

* **features** — the SAME md5-hashed lowercase unigram+bigram buckets
  the DSIR operator uses, from its one per-doc pass
  (``operators/dsir.per_doc_bucket_counts``), so training features and
  corpus-scoring features agree BY CONSTRUCTION (no second hash
  function to keep in sync).
* **train** — the labeled frame is the SAMPLE the expensive labeler
  produced (its size is a cost knob, not a scale concern), so its
  bucket counts are densified per row (map → fixed-length array →
  vector) and fed to ``pyspark.ml.classification.LogisticRegression``
  (distributed L-BFGS, one treeAggregate per step).  The fitted
  coefficients are extracted to PLAIN FLOATS immediately — the model
  object never leaves the training function.
* **score** — pure relational, the ``dsir_scores`` shape: explode →
  per-doc bucket counts (one shuffle) → broadcast join to the
  (bucket, weight) table → ``sigmoid(intercept + Σ f_b·w_b)``.  No
  JVM model closure is serialized into tasks.  (The earlier
  ``model.transform`` scoring path hit a real Spark 4 footgun: the
  transform UDF's closure drags the session's ``ObservationManager``
  once any ``Observation`` has been registered in the session —
  ``java.io.NotSerializableException``.  Plain-float coefficients
  make the hazard structurally impossible.)

Training determinism: L-BFGS aggregates float gradients whose add
order follows partitioning, so coefficients are reproducible only
run-to-run on a fixed layout — the tests therefore pin QUALITY
(accuracy on held-out separable data) and artifact round-trips, not
coefficient bits; the oracle gate does not apply to iterative ML
training (SURVEY §2.11 documented divergence, same class as
BPE/KMeans).

Reference parity: the reference's quality filter is a static rule list
(``/root/reference/src/core/log_filter.py`` analog, SURVEY §2 F6);
this operator is the learned generalization a training-data pipeline
distills those rules (or an LLM labeler) into.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark import fs
from sherlog_parser_spark.operators.dsir import per_doc_bucket_counts


class QualityClassifier(NamedTuple):
    """Plain-data model: JSON-serializable, closure-safe.
    ``coefficients[b]`` is the weight of hashed-gram bucket ``b``."""

    coefficients: tuple
    intercept: float
    n_features: int


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    reg_param: float = 1e-4,
    max_iter: int = 50,
) -> QualityClassifier:
    """Fit on (id, text, 0/1-label) rows; returns plain-float weights.

    Densification (the O(n_features) per-row array) happens only on
    the labeled SAMPLE — the corpus never materializes dense vectors."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    counts = per_doc_bucket_counts(labeled, text_col, id_col, n_features)
    labels = labeled.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__y"))
    per_doc = (
        counts.groupBy("__id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("f").cast("double")))
            ).alias("_mp")
        )
        .join(labels, "__id", "right")  # empty docs keep a zero vector
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(int(n_features) - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_mp"), i.cast("long")), F.lit(0.0)),
    )
    feat = per_doc.select(
        array_to_vector(dense).alias("_features"), F.col("__y").cast("double").alias("__y")
    )
    lr = LogisticRegression(
        featuresCol="_features",
        labelCol="__y",
        regParam=float(reg_param),
        maxIter=int(max_iter),
        standardization=False,
    )
    model = lr.fit(feat)
    return QualityClassifier(
        coefficients=tuple(float(x) for x in model.coefficients.toArray()),
        intercept=float(model.intercept),
        n_features=int(n_features),
    )


def classifier_scores(
    docs: DataFrame,
    clf: QualityClassifier,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, quality_prob, quality_pred) for every document — the
    dsir_scores shape: one shuffle for per-doc bucket counts, then a
    BROADCAST join against the (bucket, weight) table (≤ n_features
    rows, usually far fewer nonzeros)."""
    spark = docs.sparkSession
    nz = [(b, w) for b, w in enumerate(clf.coefficients) if w != 0.0]
    coef = spark.createDataFrame(nz or [(0, 0.0)], "bucket long, w double")
    per_doc = per_doc_bucket_counts(docs, text_col, id_col, clf.n_features)
    margins = (
        per_doc.join(F.broadcast(coef), "bucket", "left")
        .groupBy("__id")
        .agg(F.sum(F.col("f") * F.coalesce(F.col("w"), F.lit(0.0))).alias("_dot"))
    )
    ids = docs.select(F.col(id_col).alias("__id")).distinct()
    margin = F.coalesce(F.col("_dot"), F.lit(0.0)) + F.lit(float(clf.intercept))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return ids.join(margins, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.round(prob, 6).alias("quality_prob"),
        (prob > F.lit(0.5)).cast("int").alias("quality_pred"),
    )


def save_classifier(clf: QualityClassifier, path: str) -> None:
    """One JSON artifact, ``<path>/_classifier.json``, written atomically
    on the path's Hadoop FileSystem (``fs.write_atomic``)."""
    meta = {"coefficients": list(clf.coefficients), "intercept": clf.intercept,
            "n_features": clf.n_features}
    fs.write_atomic(f"{path}/_classifier.json", json.dumps(meta))


def load_classifier(spark, path: str) -> QualityClassifier:
    meta = json.loads(fs.read_text(f"{path}/_classifier.json"))
    return QualityClassifier(
        coefficients=tuple(float(x) for x in meta["coefficients"]),
        intercept=float(meta["intercept"]),
        n_features=int(meta["n_features"]),
    )
