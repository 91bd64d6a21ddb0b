"""Streaming pipeline: availableNow micro-batch runs must reproduce the
batch results exactly (counts + routed rows)."""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark import fs
from sherlog_parser_spark.checkpoint import CheckpointManifest
from sherlog_parser_spark.plans.aggregate import tool_usage_windowed
from sherlog_parser_spark.plans.dictionary import build_template_dictionary
from sherlog_parser_spark.plans.enrich import enrich_stage
from sherlog_parser_spark.plans.parse import parse_stage
from sherlog_parser_spark.streaming.pipeline import (
    read_transcript_stream,
    start_stream_route,
    streaming_tool_usage,
)


@pytest.fixture(scope="module")
def stream_setup(spark, transcripts, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    transcripts.repartition(6).write.mode("overwrite").parquet(src)
    parsed = parse_stage(spark.read.parquet(src))
    tdict = build_template_dictionary(parsed)
    return src, tdict, str(root)


ROUTE_KEY = ["conv_id", "turn_idx", "template_id", "tool"]


def _multiset(df) -> Counter:
    """Row counts per ``ROUTE_KEY``: a set would hide a duplicated row."""
    return Counter(tuple(r) for r in df.select(*ROUTE_KEY).collect())


def _batch_multiset(spark, src, tdict) -> Counter:
    return _multiset(enrich_stage(parse_stage(spark.read.parquet(src)), tdict.df,
                                  with_params=False))


def _run_route(spark, src, tdict, out, ckpt, files_per_trigger=2, n_buckets=4):
    q = start_stream_route(read_transcript_stream(spark, src, files_per_trigger), tdict.df,
                           out, ckpt, n_buckets)
    q.awaitTermination(180)
    q.stop()


def _assert_sink_is_batch(spark, src, tdict, out):
    """The streamed sink holds every batch row exactly once, in the batch
    layout, with no staging left and one batch line in the manifest."""
    assert _multiset(spark.read.parquet(out)) == _batch_multiset(spark, src, tdict)
    assert not os.path.exists(os.path.join(out, "_staging"))
    with open(os.path.join(out, "_manifest.jsonl")) as f:
        assert len(f.read().splitlines()) == 2  # run header + high-water mark


def test_streaming_counts_match_batch(spark, stream_setup):
    src, tdict, root = stream_setup
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    agg = streaming_tool_usage(stream, tdict.df, watermark="2 hours")
    # complete mode: the final trigger's state is the full aggregate —
    # append mode would hold back windows the watermark hasn't passed
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tu_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["template_id"], r["tool"], r["window_start"]): r["uses"]
        for r in spark.sql("SELECT * FROM tu_stream").collect()
    }
    batch = parse_stage(spark.read.parquet(src))
    enriched = enrich_stage(batch, tdict.df, with_params=False)
    expected_full = {
        (r["template_id"], r["tool"], r["window_start"]): r["uses"]
        for r in tool_usage_windowed(enriched).collect()
    }
    # append mode only emits windows closed by the watermark; with a huge
    # watermark AND availableNow, the final batch flushes everything
    assert got == expected_full


def test_streaming_route_matches_batch(spark, stream_setup):
    src, tdict, root = stream_setup
    stream = read_transcript_stream(spark, src, max_files_per_trigger=3)
    out = f"{root}/routed_stream"
    q = start_stream_route(stream, tdict.df, out, f"{root}/ckpt_route")
    q.awaitTermination(180)
    assert "batch_id" not in spark.read.parquet(out).columns  # the batch route layout
    _assert_sink_is_batch(spark, src, tdict, out)
    # the batch sink's per-column encoding: dictionary pages for the
    # low-cardinality columns, none for the text payload.  parquet falls
    # back to plain encoding where a dictionary does not pay (a few-row
    # file), so role is asked of some file, text of every file.
    chunks = []
    for part in glob.glob(f"{out}/template_id=*/tool=*/conv_bucket=*/part-*.parquet"):
        meta = pq.ParquetFile(part).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            chunks.append({rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)})
    assert chunks
    assert any(c["role"].has_dictionary_page for c in chunks)
    assert not any(c["text"].has_dictionary_page for c in chunks)


def _fail_commit(monkeypatch):
    """Micro-batch 1 is staged, then its manifest commit fails."""
    commit = CheckpointManifest.commit

    def failing(self, unit, *args, **kwargs):
        if unit == "batch_id=1":
            raise RuntimeError("injected commit failure")
        return commit(self, unit, *args, **kwargs)

    monkeypatch.setattr(CheckpointManifest, "commit", failing)


def _fail_publish(monkeypatch):
    """Micro-batch 0 commits, publishes one directory, then its publish
    fails (into an empty sink, a staged directory moves in one rename)."""
    rename = fs.rename_replacing
    moved = []

    def failing(hfs, src, dst):
        if "/_staging/" in src.toString():
            if moved:
                raise RuntimeError("injected publish failure")
            moved.append(dst)
        return rename(hfs, src, dst)

    monkeypatch.setattr(fs, "rename_replacing", failing)


@pytest.mark.parametrize("inject", [_fail_commit, _fail_publish],
                         ids=["staged-uncommitted", "committed-mid-publish"])
def test_streaming_route_crash_point_replays_exactly(spark, stream_setup, tmp_path,
                                                      monkeypatch, inject):
    """A micro-batch fails at a commit point; the query restarted from the
    same checkpoint replays it: an uncommitted batch is restaged, a
    committed one only publishes what is left in staging."""
    src, tdict, _ = stream_setup
    out, ckpt = str(tmp_path / "routed"), str(tmp_path / "ckpt")
    with monkeypatch.context() as m:
        inject(m)
        with pytest.raises(Exception, match="injected"):
            _run_route(spark, src, tdict, out, ckpt)
    assert os.path.isdir(os.path.join(out, "_staging"))  # the crash left work behind
    _run_route(spark, src, tdict, out, ckpt)
    _assert_sink_is_batch(spark, src, tdict, out)


def test_publish_replaces_mismatched_target(spark, tmp_path):
    """A foreign file at a staged file's target path (a partial copy, a
    name collision) is replaced by the staged file, never trusted, which
    would silently drop the staged rows."""
    from sherlog_parser_spark.plans.route import write_routed

    out = str(tmp_path / "routed")
    staging = f"{out}/_staging"
    rows = [("c1", 1, 7, "bash", 3), ("c2", 2, 7, "bash", 3), ("c3", 3, 8, "grep", 5)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, template_id int, tool string, conv_bucket int"
    )
    write_routed(df, staging, partition_overwrite="static")
    [part] = glob.glob(f"{staging}/template_id=8/tool=grep/conv_bucket=5/part-*.parquet")
    target = os.path.join(out, os.path.relpath(part, staging))
    os.makedirs(os.path.dirname(target))
    with open(target, "w") as fh:
        fh.write("junk")  # wrong length, not parquet
    fs.publish(staging, out)
    assert not os.path.exists(staging)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("conv_id", "turn_idx", "template_id", "tool", "conv_bucket")
        .collect()
    )
    assert got == sorted(rows)


def test_stateful_sessionization(spark, stream_setup):
    """applyInPandasWithState conversation sessions: running summaries must
    reach the batch per-conversation totals."""
    from sherlog_parser_spark.streaming.stateful import conversation_sessions
    from sherlog_parser_spark.streaming.pipeline import read_transcript_stream

    full_src, _, root = stream_setup
    # small slice: state-store setup dominates wall time, row volume adds
    # nothing to the semantics being checked
    src = f"{root}/src_small"
    spark.read.parquet(full_src).filter(F.col("conv_id") < "conv-00000020").repartition(
        2
    ).write.mode("overwrite").parquet(src)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    q = (
        conversation_sessions(stream, timeout_ms=None)  # availableNow-safe
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", f"{root}/ckpt_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT conv_id, max(n_turns) AS n_turns, max(n_tool_calls) AS n_tool FROM sessions GROUP BY conv_id"
    ).collect()
    batch = spark.read.parquet(src)
    expected = {
        r["conv_id"]: (r["n"], r["t"])
        for r in batch.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.sum((F.col("role") == "tool").cast("long")).alias("t"))
        .collect()
    }
    assert len(got) == len(expected)
    for r in got:
        assert (r["n_turns"], r["n_tool"]) == expected[r["conv_id"]], r["conv_id"]


def test_streaming_route_restart_resumes(spark, stream_setup, tmp_path):
    """Stop the routing query after the first micro-batch, restart from
    the same checkpoint with another ``n_buckets``: the same run, so the
    sink keeps the committed batches' rows (Spark never replays them) and
    ends up == batch with no duplicates (Spark's offset log + the sink's
    manifest commit per batch)."""
    src, tdict, root = stream_setup
    out = str(tmp_path / "routed_restart")
    ckpt = str(tmp_path / "ckpt_restart")

    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    q = start_stream_route(stream, tdict.df, out, ckpt, trigger_available_now=False)
    # wait for at least one committed batch, then stop mid-stream
    import time

    for _ in range(120):
        if q.lastProgress and q.lastProgress["numInputRows"] > 0:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    _run_route(spark, src, tdict, out, ckpt, n_buckets=8)
    _assert_sink_is_batch(spark, src, tdict, out)


def test_streaming_route_crash_replay_no_duplicates(spark, stream_setup, tmp_path):
    """Crash-replay semantics (r1 ADVICE): a batch whose sink write
    SUCCEEDED but whose offset commit was lost must not duplicate rows on
    restart.  Simulated by deleting the last commit marker from the
    checkpoint, forcing Structured Streaming to replay that micro-batch."""
    src, tdict, root = stream_setup
    out = str(tmp_path / "routed_replay")
    ckpt = str(tmp_path / "ckpt_replay")
    _run_route(spark, src, tdict, out, ckpt)

    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    assert len(commits) >= 3  # 6 files / 2 per trigger
    # lose the last commit marker (and its hadoop checksum shadow — in a
    # real crash neither file would exist)
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    _run_route(spark, src, tdict, out, ckpt)
    _assert_sink_is_batch(spark, src, tdict, out)


def test_streaming_route_reset_checkpoint_clears_sink(spark, stream_setup, tmp_path):
    """A stream restarted under a live sink with a fresh checkpoint is a
    new run: the sink ends up holding exactly the new run's rows, none of
    the old run's."""
    import shutil

    src, tdict, root = stream_setup
    out, ckpt = str(tmp_path / "routed"), str(tmp_path / "ckpt")
    _run_route(spark, src, tdict, out, ckpt)
    shutil.rmtree(ckpt)

    small = str(tmp_path / "src_small")
    spark.read.parquet(src).filter(F.col("conv_id") < "conv-00000040").repartition(2).write.parquet(
        small
    )
    _run_route(spark, small, tdict, out, ckpt)
    _assert_sink_is_batch(spark, small, tdict, out)


def test_streaming_curation_matches_batch_subset(spark, tmp_path):
    """r4: the streaming curation chain (watermarked exact dedup →
    quality → PII → frozen-blocklist decontamination) over availableNow
    must reproduce the batch chain's stateless-subset semantics on a
    bounded input: same surviving doc ids, same redacted text, no
    contaminated doc passes."""
    import datetime as dt

    from sherlog_parser_spark.functions.pii import redact_pii_expr
    from sherlog_parser_spark.functions.textstats import word_shingles_expr
    from sherlog_parser_spark.plans.curation import with_quality_reason
    from sherlog_parser_spark.streaming.pipeline import streaming_curation

    base = dt.datetime(2026, 1, 1)
    uniq = lambda i, n=14: " ".join(f"s{i}t{j}" for j in range(n))  # noqa: E731
    rows = [
        (0, base + dt.timedelta(minutes=0), f"alpha beta gamma {uniq(0)}"),
        (1, base + dt.timedelta(minutes=1), f"alpha beta gamma {uniq(0)}"),  # exact dup
        (2, base + dt.timedelta(minutes=2), "short doc"),  # quality drop
        (3, base + dt.timedelta(minutes=3), f"mail bob@example.com here {uniq(3)}"),
        (4, base + dt.timedelta(minutes=4), f"blocked benchmark four gram run {uniq(4)}"),
    ]
    src = str(tmp_path / "cur_src")
    spark.createDataFrame(rows, "doc_id INT, ts TIMESTAMP, text STRING").repartition(
        2
    ).write.mode("overwrite").parquet(src)
    bench_sh = (
        spark.createDataFrame(
            [("the blocked benchmark four gram run appears here",)], "text STRING"
        )
        .select(F.explode(word_shingles_expr("text", 4)).alias("s"))
        .select(F.md5("s").alias("h"))
    )

    stream = (
        spark.readStream.schema("doc_id INT, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qk = {"max_top_2gram_char_x1e4": 6000}  # ~20-token docs: one 2-gram is >15% of chars
    out = streaming_curation(stream, bench_shingle_hashes=bench_sh, quality_kwargs=qk)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cur_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: r["text"] for r in spark.sql("SELECT * FROM cur_stream").collect()
    }

    # docs 0/1 are exact dups: exactly ONE of them survives (streaming
    # keeps first ARRIVAL, batch keeps min id — both cap the pair to 1)
    assert len({0, 1} & set(got)) == 1
    assert 2 not in got  # quality
    assert 4 not in got  # contaminated
    assert 3 in got and "<EMAIL>" in got[3] and "bob@example.com" not in got[3]

    # batch replay of the same stateless subset for the deterministic docs
    batch = spark.createDataFrame(rows, "doc_id INT, ts TIMESTAMP, text STRING")
    scored = with_quality_reason(batch, "text", **qk).filter(F.col("_reason") == "keep")
    expected3 = (
        scored.filter(F.col("doc_id") == 3)
        .select(redact_pii_expr("text").alias("t"))
        .collect()[0]["t"]
    )
    assert got[3] == expected3


def test_streaming_curation_line_filter_stage(spark, tmp_path):
    """r5: the stateless C4 line stage composes into the stream — the
    availableNow run matches functions.linefilter.line_filter's batch
    decision doc-for-doc (same kept_text, boilerplate docs vanish)."""
    import datetime as dt

    from sherlog_parser_spark.functions.linefilter import line_filter
    from sherlog_parser_spark.streaming.pipeline import streaming_curation

    base = dt.datetime(2026, 1, 1)
    rows = [
        (
            0,
            base,
            "A proper sentence stands entirely on this line.\n"
            "We use cookies on this site.\n"
            "Another proper sentence closes the document here today.",
        ),
        (1, base + dt.timedelta(minutes=1), "nav\nmenu\nfooter"),
        (
            2,
            base + dt.timedelta(minutes=2),
            "This longer piece of writing survives every single rule applied.",
        ),
    ]
    src = str(tmp_path / "lf_src")
    spark.createDataFrame(rows, "doc_id INT, ts TIMESTAMP, text STRING").write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id INT, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_curation(
        stream, quality_kwargs={"max_top_2gram_char_x1e4": 6000},
        min_tokens=5, line_filter_opts={},
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cur_lf_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: r["text"]
        for r in spark.sql("SELECT * FROM cur_lf_stream").collect()
    }
    batch = spark.createDataFrame(rows, "doc_id INT, ts TIMESTAMP, text STRING")
    want = {
        r["doc_id"]: r["kept_text"]
        for r in line_filter(batch).filter(F.col("doc_kept")).collect()
    }
    assert 1 not in got  # fully-boilerplate doc vanished in-stream
    assert set(got) == set(want)
    for d in got:
        assert got[d] == want[d], d
    assert "cookies" not in got[0]


def test_streaming_count_anomalies_match_batch(spark, tmp_path):
    """Freeze-then-stream X3 time-series detector: flags produced by the
    streaming query (availableNow) == the batch z-rule on the same data
    against the same frozen baseline."""
    from sherlog_parser_spark.operators.anomaly import (
        count_baseline,
        flag_counts_against_baseline,
    )
    from sherlog_parser_spark.streaming.pipeline import streaming_count_anomaly_flags

    # history: stable per-group rates; live: one planted spike in group b
    hist_rows, live_rows = [], []
    for w in range(10):
        for g, base in (("a", 40), ("b", 8)):
            hist_rows.extend((g, w * 900 + i % 900) for i in range(base + w % 2))
    for w in (10, 11):
        for g, base in (("a", 40), ("b", 8)):
            n = 120 if (w == 11 and g == "b") else base
            live_rows.extend((g, w * 900 + i % 900) for i in range(n))

    hist = spark.createDataFrame(hist_rows, "grp STRING, sec LONG").select(
        "grp", F.col("sec").cast("timestamp").alias("ts")
    )
    live = spark.createDataFrame(live_rows, "grp STRING, sec LONG").select(
        "grp", F.col("sec").cast("timestamp").alias("ts")
    )
    baseline = count_baseline(hist, window="15 minutes", group_cols=("grp",)).cache()

    src = str(tmp_path / "live_src")
    live.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("grp string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    flags = streaming_count_anomaly_flags(stream, baseline, group_cols=("grp",))
    # complete mode: append would hold back windows the watermark hasn't
    # passed, and availableNow ends before it ever does (same rationale as
    # test_streaming_counts_match_batch)
    q = (
        flags.writeStream.format("memory")
        .queryName("count_flags")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()

    got = {
        (r["grp"], r["window_start"].isoformat(), r["is_anomaly"])
        for r in spark.sql("SELECT * FROM count_flags").collect()
    }
    batch_counts = live.groupBy(F.window("ts", "15 minutes").alias("w"), "grp").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.col("w.start").alias("window_start"), "grp", "n")
    expected = {
        (r["grp"], r["window_start"].isoformat(), r["is_anomaly"])
        for r in flag_counts_against_baseline(batch_counts, baseline, ("grp",)).collect()
    }
    assert got == expected
    assert ("b", "1970-01-01T02:45:00", True) in got  # the planted spike
    assert sum(1 for _, _, a in got if a) == 1
