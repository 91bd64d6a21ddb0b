"""Sources S2-S3, P16 pattern parse, X3 DBSCAN."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.operators.anomaly import dbscan_numpy, windowed_embedding_anomalies
from sherlog_parser_spark.operators.pattern_parse import ClusterPattern, pattern_parse
from sherlog_parser_spark.sources.readers import grok_parse, read_structured_dataset


def test_grok_parse(spark, tmp_path):
    p = tmp_path / "d.log"
    p.write_text("2024-01-01T10:00:00 INFO scheduler 42 task 0xff started\n")
    df = grok_parse(spark.read.text(str(p)), content_col="value")
    r = df.collect()[0]
    assert (r["Timestamp"], r["Level"], r["Component"], r["PID"]) == (
        "2024-01-01T10:00:00", "INFO", "scheduler", "42",
    )
    assert r["Content"] == "task 0xff started"


def test_structured_dataset_roundtrip(spark, tmp_path):
    p = tmp_path / "s.csv"
    p.write_text("LineId,Content,EventId,EventTemplate\n1,User admin,E1,User <*>\n")
    df = read_structured_dataset(spark, str(p))
    r = df.collect()[0]
    assert (r["LineId"], r["EventId"]) == (1, "E1")


def test_pattern_parse_first_match_wins(spark):
    df = spark.createDataFrame(
        [("User admin logged in from 192.168.1.1",), ("Connection lost to db01",), ("noise",)],
        "text string",
    )
    patterns = [
        ClusterPattern(0, r"User (?P<user>\S+) logged in from (?P<ip>\S+)"),
        ClusterPattern(1, r"User (?P<user>\S+) .*"),  # would also match row 1
        ClusterPattern(2, r"Connection lost to (?P<host>\S+)"),
    ]
    out = {r["text"]: r for r in pattern_parse(df, patterns).collect()}
    r0 = out["User admin logged in from 192.168.1.1"]
    assert r0["cluster_id"] == 0  # priority order, not pattern 1
    assert dict(r0["parsed_fields"]) == {"user": "admin", "ip": "192.168.1.1"}
    r1 = out["Connection lost to db01"]
    assert r1["cluster_id"] == 2 and dict(r1["parsed_fields"]) == {"host": "db01"}
    assert out["noise"]["cluster_id"] is None


def test_dbscan_numpy_basic():
    rng = np.random.default_rng(42)
    a = rng.normal(0, 0.01, (20, 4)) + np.array([1, 0, 0, 0])
    b = rng.normal(0, 0.01, (20, 4)) + np.array([0, 1, 0, 0])
    outlier = np.array([[0.5, 0.5, 0.7, 0.1]])
    labels = dbscan_numpy(np.vstack([a, b, outlier]), eps=0.05, min_samples=4)
    assert labels[40] == -1
    assert len(set(labels[:20])) == 1 and len(set(labels[20:40])) == 1
    assert labels[0] != labels[20]


def test_windowed_embedding_anomalies(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = (rng.normal(0, 0.01, 8) + np.eye(8)[i % 2]).tolist()
        rows.append((i, v))
    rows.append((99, (np.ones(8) / np.sqrt(8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = windowed_embedding_anomalies(df, eps=0.2, min_samples=4, small_cluster_min=3)
    flagged = {r["vec_id"] for r in out.filter(F.col("is_embedding_anomaly")).collect()}
    assert flagged == {99}

