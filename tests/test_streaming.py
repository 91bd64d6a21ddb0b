"""Streaming pipeline: availableNow micro-batch runs must reproduce the
batch results exactly (counts + routed rows)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

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
    sink = spark.read.parquet(out)
    batch = enrich_stage(parse_stage(spark.read.parquet(src)), tdict.df, with_params=False)
    got = {
        (r["conv_id"], r["turn_idx"], r["template_id"], r["tool"])
        for r in sink.select("conv_id", "turn_idx", "template_id", "tool").collect()
    }
    expected = {
        (r["conv_id"], r["turn_idx"], r["template_id"], r["tool"])
        for r in batch.select("conv_id", "turn_idx", "template_id", "tool").collect()
    }
    assert got == expected
    # the batch sink's per-column encoding: dictionary pages for the
    # low-cardinality columns, none for the text payload.  parquet falls
    # back to plain encoding where a dictionary does not pay (a few-row
    # file), so role is asked of some file, text of every file.
    chunks = []
    for part in glob.glob(f"{out}/batch_id=*/template_id=*/tool=*/conv_bucket=*/part-*.parquet"):
        meta = pq.ParquetFile(part).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            chunks.append({rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)})
    assert any(c["role"].has_dictionary_page for c in chunks)
    assert not any(c["text"].has_dictionary_page for c in chunks)


def test_compact_stream_output_folds_batches_into_batch_layout(spark, stream_setup):
    """r3 ADVICE: batch_id-leading partitions grow one top-level dir per
    micro-batch forever.  Compaction must fold finished batches into the
    batch route layout (no batch_id column), keep the live tail, lose no
    rows, and be idempotent on rerun."""
    from sherlog_parser_spark.streaming.pipeline import compact_stream_output

    src, tdict, root = stream_setup
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    out = f"{root}/routed_compact"
    q = start_stream_route(stream, tdict.df, out, f"{root}/ckpt_compact")
    q.awaitTermination(180)

    batch_ids = sorted(
        int(r["batch_id"]) for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    )
    assert len(batch_ids) >= 2, "fixture must produce multiple micro-batches"
    keep_tail = batch_ids[-1]
    compacted_dir = f"{root}/routed_compacted"

    done = compact_stream_output(spark, out, compacted_dir, up_to_batch_id=keep_tail - 1)
    assert done == batch_ids[:-1]
    # rerun: nothing left to do (markers + deleted dirs)
    assert compact_stream_output(spark, out, compacted_dir, up_to_batch_id=keep_tail - 1) == []

    compacted = spark.read.parquet(compacted_dir)
    assert "batch_id" not in compacted.columns  # batch route layout
    tail = spark.read.parquet(out)
    assert sorted(int(r["batch_id"]) for r in tail.select("batch_id").distinct().collect()) == [keep_tail]

    key = ["conv_id", "turn_idx", "template_id", "tool"]
    got = {tuple(r) for r in compacted.select(*key).collect()} | {
        tuple(r) for r in tail.select(*key).collect()
    }
    batch = enrich_stage(parse_stage(spark.read.parquet(src)), tdict.df, with_params=False)
    expected = {tuple(r) for r in batch.select(*key).collect()}
    assert got == expected


def test_compact_stream_output_crash_replay_no_duplicates(spark, stream_setup):
    """r4 ADVICE (medium): the r3 compactor appended BEFORE creating the
    marker, so a crash between the append commit and the marker create
    duplicated the batch on rerun.  Simulate both crash points of the
    stage->mark->publish rewrite and assert MULTISET equality (a set
    compare would hide exactly the duplication being tested)."""
    from sherlog_parser_spark.streaming.pipeline import compact_stream_output

    src, tdict, root = stream_setup
    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    out = f"{root}/routed_crash"
    q = start_stream_route(stream, tdict.df, out, f"{root}/ckpt_crash")
    q.awaitTermination(180)

    batch_ids = sorted(
        int(r["batch_id"]) for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    )
    assert len(batch_ids) >= 3, "fixture must produce >= 3 micro-batches"
    b_a, b_b = batch_ids[0], batch_ids[1]
    compacted_dir = f"{root}/routed_crash_compacted"

    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path
    fs = hp(out).getFileSystem(spark._jsc.hadoopConfiguration())

    def _stage(bid):
        (
            spark.read.parquet(f"{out}/batch_id={bid}")
            .write.mode("overwrite")
            .partitionBy("template_id", "tool", "conv_bucket")
            .parquet(f"{compacted_dir}/_staging_batch_id={bid}")
        )

    # crash point 1: batch b_a fully staged, marker NOT yet created
    _stage(b_a)
    # crash point 2: batch b_b staged AND marked, publish never started
    _stage(b_b)
    fs.mkdirs(hp(compacted_dir, "_compacted"))
    fs.create(hp(f"{compacted_dir}/_compacted/batch_id={b_b}"), True).close()

    done = compact_stream_output(spark, out, compacted_dir, up_to_batch_id=batch_ids[-1] - 1)
    assert done == batch_ids[:-1]
    assert compact_stream_output(spark, out, compacted_dir, up_to_batch_id=batch_ids[-1] - 1) == []

    key = ["conv_id", "turn_idx", "template_id", "tool"]

    def _multiset(df):
        return {
            tuple(r)[:-1]: r["n"]
            for r in df.groupBy(*key).agg(F.count(F.lit(1)).alias("n")).collect()
        }

    got = _multiset(spark.read.parquet(compacted_dir))
    tail = _multiset(spark.read.parquet(out))
    batch = enrich_stage(parse_stage(spark.read.parquet(src)), tdict.df, with_params=False)
    expected = _multiset(batch)
    merged = dict(got)
    for k, v in tail.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == expected
    # no staging leftovers
    names = [s.getPath().getName() for s in fs.listStatus(hp(compacted_dir))]
    assert not any(n.startswith("_staging_") for n in names), names


def test_compact_publish_replaces_mismatched_target(spark, tmp_path):
    """r5 advice: when a rename fails because the target name already
    exists, the benign skip must be LENGTH-VERIFIED — a partial/foreign
    file at the target is replaced by the staged one, never trusted
    (which would silently discard the batch's rows)."""
    import os

    from sherlog_parser_spark.streaming.pipeline import compact_stream_output

    root = str(tmp_path)
    out = f"{root}/routed"
    compacted = f"{root}/compacted"
    rows = [("c1", 1, 7, "bash", 3), ("c2", 2, 7, "bash", 3), ("c3", 3, 8, "grep", 5)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, template_id int, tool string, conv_bucket int"
    )
    df.write.partitionBy("template_id", "tool", "conv_bucket").parquet(
        f"{out}/batch_id=0"
    )
    # stage + mark (publish "crashed" before moving anything)
    staging = f"{compacted}/_staging_batch_id=0"
    spark.read.parquet(f"{out}/batch_id=0").write.partitionBy(
        "template_id", "tool", "conv_bucket"
    ).parquet(staging)
    os.makedirs(f"{compacted}/_compacted", exist_ok=True)
    open(f"{compacted}/_compacted/batch_id=0", "w").close()
    # plant a foreign file at one staged part-file's target path
    planted = 0
    for dirpath, _dirs, files in os.walk(staging):
        for f in files:
            if f.startswith("part-") and not planted:
                rel = os.path.relpath(dirpath, staging)
                tgt_dir = os.path.join(compacted, rel)
                os.makedirs(tgt_dir, exist_ok=True)
                with open(os.path.join(tgt_dir, f), "w") as fh:
                    fh.write("junk")  # wrong length, not parquet
                planted += 1
    assert planted == 1
    assert compact_stream_output(spark, out, compacted, up_to_batch_id=0) == [0]
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(compacted)
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
    the same checkpoint: no duplicates, final sink == batch (exactly-once
    via checkpoint + idempotent-enough append within foreachBatch)."""
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

    stream2 = read_transcript_stream(spark, src, max_files_per_trigger=2)
    q2 = start_stream_route(stream2, tdict.df, out, ckpt, trigger_available_now=True)
    q2.awaitTermination(180)

    sink = spark.read.parquet(out)
    batch = spark.read.parquet(src)
    assert sink.count() == batch.count()  # no dupes, no loss
    got = {(r["conv_id"], r["turn_idx"]) for r in sink.select("conv_id", "turn_idx").collect()}
    expected = {(r["conv_id"], r["turn_idx"]) for r in batch.select("conv_id", "turn_idx").collect()}
    assert got == expected


def test_streaming_route_crash_replay_no_duplicates(spark, stream_setup, tmp_path):
    """Crash-replay semantics (r1 ADVICE): a batch whose sink write
    SUCCEEDED but whose offset commit was lost must not duplicate rows on
    restart.  Simulated by deleting the last commit marker from the
    checkpoint, forcing Structured Streaming to replay that micro-batch."""
    import os

    src, tdict, root = stream_setup
    out = str(tmp_path / "routed_replay")
    ckpt = str(tmp_path / "ckpt_replay")

    stream = read_transcript_stream(spark, src, max_files_per_trigger=2)
    q = start_stream_route(stream, tdict.df, out, ckpt, trigger_available_now=True)
    q.awaitTermination(180)
    q.stop()

    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    assert len(commits) >= 2  # 6 files / 2 per trigger -> >= 3 batches
    # lose the last commit marker (and its hadoop checksum shadow — in a
    # real crash neither file would exist)
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    stream2 = read_transcript_stream(spark, src, max_files_per_trigger=2)
    q2 = start_stream_route(stream2, tdict.df, out, ckpt, trigger_available_now=True)
    q2.awaitTermination(180)
    q2.stop()

    sink = spark.read.parquet(out)
    batch = spark.read.parquet(src)
    assert sink.count() == batch.count()  # replayed batch overwrote, not appended
    got = {(r["conv_id"], r["turn_idx"]) for r in sink.select("conv_id", "turn_idx").collect()}
    expected = {(r["conv_id"], r["turn_idx"]) for r in batch.select("conv_id", "turn_idx").collect()}
    assert got == expected


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
