"""X3 completion (r2): time-series counter anomalies and the composed
incident detector — planted-outlier semantics pinned to the reference
(src/core/logai_tools.py:79-143;
src/core/anomaly_incidents.py:61-206; cpp/tests/test_main.cpp:101-116
analog: the far-away planted point must be flagged, the dense cluster
must not)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.operators.anomaly import (
    detect_anomaly_incidents,
    timeseries_count_anomalies,
)


def test_timeseries_count_anomalies(spark):
    # 20 quarter-hour windows x ~100 events, plus a planted 5x spike in
    # the TEST region (window 18)
    rows = []
    eid = 0
    for w in range(20):
        n = 100 + (w % 3)  # mild periodic wiggle
        if w == 18:
            n = 500
        for i in range(n):
            rows.append((eid, w * 900 + (i % 900)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id LONG, sec LONG").select(
        "event_id", F.col("sec").cast("timestamp").alias("ts")
    )
    out = timeseries_count_anomalies(df, window="15 minutes", train_frac=0.7, threshold=2.5)
    got = {r["window_start"].minute + 60 * r["window_start"].hour: r["is_anomaly"] for r in out.collect()}
    # windows 0..13 are baseline; 14..19 are test; only the spike flags
    assert len(got) == 6
    spike_key = 18 * 15 % 60 + 60 * (18 * 15 // 60)
    assert got[spike_key] is True
    assert sum(got.values()) == 1


def test_timeseries_grouped(spark):
    rows = []
    for w in range(10):
        for g, base in (("a", 50), ("b", 10)):
            n = base + (w % 2)  # non-constant baseline (std=0 is skipped)
            if w == 9 and g == "b":
                n = 200
            rows.extend((f"{g}", w * 900 + i % 900) for i in range(n))
    df = spark.createDataFrame(rows, "grp STRING, sec LONG").select(
        "grp", F.col("sec").cast("timestamp").alias("ts")
    )
    out = timeseries_count_anomalies(df, group_cols=("grp",), window="15 minutes", train_frac=0.7)
    flagged = {(r["grp"], r["window_start"].isoformat()) for r in out.collect() if r["is_anomaly"]}
    assert flagged == {("b", "1970-01-01T02:15:00")}


def test_timeseries_novel_group_is_scored_not_dropped(spark):
    """r3 ADVICE (medium): a group first seen AFTER the train cut — the
    classic brand-new-template burst — must appear in the output flagged
    anomalous + novel, not silently vanish in an inner join."""
    rows = []
    for w in range(10):
        rows.extend(("a", w * 900 + i % 900) for i in range(50 + w % 2))
        if w >= 8:  # group 'z' bursts only in the test windows
            rows.extend(("z", w * 900 + i % 900) for i in range(120))
    df = spark.createDataFrame(rows, "grp STRING, sec LONG").select(
        "grp", F.col("sec").cast("timestamp").alias("ts")
    )
    out = timeseries_count_anomalies(df, group_cols=("grp",), window="15 minutes", train_frac=0.7)
    z = {r["window_start"].isoformat(): (r["is_anomaly"], r["is_novel_group"]) for r in out.collect() if r["grp"] == "z"}
    assert len(z) == 2  # both test windows where z appears
    assert all(v == (True, True) for v in z.values()), z
    a = [r for r in out.collect() if r["grp"] == "a"]
    assert a and all(r["is_novel_group"] is False for r in a)


@pytest.fixture(scope="module")
def incident_frame(spark):
    """3 dense clusters + 2 far noise points + 1 numeric outlier inside a
    dense cluster."""
    rng = np.random.default_rng(5)
    rows = []
    vid = 0
    for c in range(3):
        center = np.zeros(6)
        center[c] = 1.0
        for i in range(20):
            v = center + rng.normal(0, 0.01, 6)
            # value ~ N(10, 0.1); one planted numeric outlier in cluster 0
            val = 10.0 + float(rng.normal(0, 0.1))
            if c == 0 and i == 19:
                val = 50.0
            rows.append((vid, [float(x) for x in v], val, vid))
            vid += 1
    for j in range(2):  # noise points, far from every cluster
        v = -np.ones(6) * (2 + j)
        rows.append((vid, [float(x) for x in v], 10.0, vid))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, value DOUBLE, sec LONG")
    return df.select("vec_id", "embedding", "value", F.col("sec").cast("timestamp").alias("ts"))


def test_detect_anomaly_incidents_composed(spark, incident_frame):
    out = detect_anomaly_incidents(
        incident_frame,
        id_cols=("vec_id",),
        numeric_cols=("value",),
        eps=0.3,
        min_samples=5,
        numeric_std_threshold=2.5,
    ).collect()
    flagged = {r["vec_id"]: r for r in out}
    # the two far points are embedding anomalies (DBSCAN noise)
    assert flagged[60]["is_embedding_anomaly"] and flagged[61]["is_embedding_anomaly"]
    # the numeric outlier inside dense cluster 0 is a numeric anomaly
    assert flagged[19]["is_numeric_anomaly"] and not flagged[19]["is_embedding_anomaly"]
    assert set(flagged) == {19, 60, 61}
    # sorted by ts desc (reference sorts newest first)
    ts_list = [r["ts"] for r in out]
    assert ts_list == sorted(ts_list, reverse=True)


def test_detect_anomaly_incidents_prefilter_fallback(spark, incident_frame):
    """A prefilter that strips (almost) everything must fall back to the
    original frame — same results as no prefilter."""
    def kill_all(df):
        return df.filter(F.lit(False))

    def keep_two(df):
        return df.filter(F.col("vec_id") < 2)

    base = {r["vec_id"] for r in detect_anomaly_incidents(
        incident_frame, id_cols=("vec_id",), numeric_cols=("value",), min_samples=5
    ).collect()}
    for bad_filter in (kill_all, keep_two):
        got = {r["vec_id"] for r in detect_anomaly_incidents(
            incident_frame, id_cols=("vec_id",), numeric_cols=("value",),
            min_samples=5, prefilter_fn=bad_filter,
        ).collect()}
        assert got == base


def test_detect_anomaly_incidents_prefilter_applied(spark, incident_frame):
    """A healthy prefilter IS applied: dropping cluster 2 entirely leaves
    its members unflaggable."""
    def drop_cluster2(df):
        return df.filter(F.col("vec_id") < 40)  # keeps clusters 0,1 minus noise

    got = {r["vec_id"] for r in detect_anomaly_incidents(
        incident_frame, id_cols=("vec_id",), numeric_cols=("value",),
        min_samples=5, prefilter_fn=drop_cluster2,
    ).collect()}
    assert got == {19}  # noise points were filtered out pre-DBSCAN


def test_detect_anomaly_incidents_windowed(spark):
    """window_col scales the composed flow: each time bucket clusters
    independently and numeric baselines are scoped per (window, cluster)."""
    rng = np.random.default_rng(9)
    rows = []
    vid = 0
    for w in (0, 1):
        center = np.zeros(6)
        center[w] = 1.0
        # window 0's cluster values ~10, window 1's ~50: a 50 in window 1
        # is NORMAL even though it would be a wild outlier vs window 0.
        # values are DETERMINISTIC (max dev 1.4 sigma) so only the planted
        # outlier can cross the 2.5-sigma fence
        base_val = 10.0 if w == 0 else 50.0
        for i in range(20):
            v = center + rng.normal(0, 0.01, 6)
            val = base_val + (i % 5) * 0.01
            if w == 0 and i == 19:
                val = 50.0  # outlier only within window 0's baseline
            rows.append((vid, w, [float(x) for x in v], val, vid))
            vid += 1
        rows.append((vid, w, [float(-2 - w)] * 6, base_val, vid))  # noise point per window
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id LONG, win LONG, embedding ARRAY<DOUBLE>, value DOUBLE, sec LONG"
    ).select("vec_id", "win", "embedding", "value", F.col("sec").cast("timestamp").alias("ts"))

    out = detect_anomaly_incidents(
        df, id_cols=("vec_id",), numeric_cols=("value",),
        eps=0.3, min_samples=5, window_col="win",
    ).collect()
    flagged = {r["vec_id"]: r for r in out}
    # per-window noise points flagged; window-0 numeric outlier flagged;
    # window-1 rows with value 50 are NOT flagged (their own baseline)
    assert set(flagged) == {19, 20, 41}
    assert flagged[19]["is_numeric_anomaly"]
    assert flagged[20]["is_embedding_anomaly"] and flagged[41]["is_embedding_anomaly"]
