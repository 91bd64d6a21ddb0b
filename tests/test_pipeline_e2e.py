"""End-to-end pipeline + checkpoint/resume semantics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark import checkpoint, telemetry
from sherlog_parser_spark.checkpoint import CheckpointManifest
from sherlog_parser_spark.plans.pipeline import run_pipeline


def _routed_fingerprint(spark, routed_dir):
    df = spark.read.parquet(routed_dir)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "template_id", "tool", "text")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def test_pipeline_end_to_end(spark, transcripts, tmp_path):
    out = str(tmp_path / "run1")
    res = run_pipeline(spark, transcripts, out, commit_groups=3, resume=False)
    assert res.n_rows == transcripts.count()
    assert res.dictionary.n_sigs > len(res.dictionary.templates) > 10
    # aggregates written and consistent with the sink
    freq = spark.read.parquet(os.path.join(out, "agg_template_freq"))
    assert freq.agg(F.sum("frequency")).collect()[0][0] == res.n_rows
    metrics = json.load(open(os.path.join(out, "run_metrics.json")))
    assert metrics["rows"] == res.n_rows
    assert metrics["manifest"]["units"] == 3


# Budgets for a warm run over the test transcripts with four commit
# groups, measured at local[4] with 8 shuffle partitions: 2,006 Py4J
# calls (reference releases aside) and 27 Spark jobs, the same in each
# of 5 reps.  One extra action per commit group (a count of the group)
# adds 12 jobs, so the job slack is 3.  The 20 calls of Py4J slack (1%)
# are fewer than a Column built per template or per row would add.
RUN_PY4J_BUDGET = 2006 + 20
RUN_JOBS_BUDGET = 27 + 3


def test_pipeline_run_budget(spark, transcripts, tmp_path):
    out = str(tmp_path / "budget")

    def run():
        run_pipeline(spark, transcripts, out, commit_groups=4, resume=False)

    run()  # warm-up: resolves the JVM classes and Python caches a first run fills
    with telemetry.driver_counts(spark.sparkContext) as counts:
        run()
    assert counts.py4j_calls <= RUN_PY4J_BUDGET, counts
    assert counts.jobs <= RUN_JOBS_BUDGET, counts


@pytest.mark.parametrize("uri", [False, True], ids=["path", "uri"])
def test_pipeline_resume_skips_committed(spark, transcripts, tmp_path, uri):
    local = tmp_path / "run2"
    out = local.as_uri() if uri else str(local)
    # full run to get the golden sink fingerprint
    run_pipeline(spark, transcripts, out, commit_groups=3, resume=False)
    golden = _routed_fingerprint(spark, os.path.join(out, "routed"))
    golden_manifest = CheckpointManifest.load(os.path.join(out, "_manifest.jsonl"))

    # simulate a crash after 1 of 3 commits: keep the run header + the
    # first group entry, leave the (possibly orphaned) files in place
    mpath = str(local / "_manifest.jsonl")
    lines = open(mpath).read().strip().splitlines()
    with open(mpath, "w") as f:
        f.write(lines[0] + "\n" + lines[1] + "\n")

    res = run_pipeline(spark, transcripts, out, commit_groups=3, resume=True)
    assert _routed_fingerprint(spark, os.path.join(out, "routed")) == golden
    m2 = CheckpointManifest.load(os.path.join(out, "_manifest.jsonl"))
    assert set(m2.entries) == set(golden_manifest.entries)
    # the kept unit must NOT have been recomputed: entry identical incl.
    # timestamp (groups commit in completion order, not group order)
    kept = json.loads(lines[1])["unit"]
    assert m2.entries[kept] == golden_manifest.entries[kept]
    assert res.n_rows == transcripts.count()


def test_pipeline_resume_refuses_foreign_manifest(spark, transcripts, tmp_path):
    """A manifest written by a DIFFERENT input/config must be discarded,
    not silently mixed (r1 ADVICE; reproduced live against a stale round-1
    output dir before this fix)."""
    out = str(tmp_path / "run_foreign")
    other = transcripts.limit(2000)
    run_pipeline(spark, other, out, commit_groups=3, resume=False)
    stale_rows = CheckpointManifest.load(os.path.join(out, "_manifest.jsonl")).metrics()["rows"]

    res = run_pipeline(spark, transcripts, out, commit_groups=3, resume=True)
    # full recompute on the real input — no stale rows leak into the total
    assert res.n_rows == transcripts.count() != stale_rows
    m = CheckpointManifest.load(os.path.join(out, "_manifest.jsonl"))
    assert len(m.entries) == 3
    assert _routed_fingerprint(spark, os.path.join(out, "routed")) == _routed_fingerprint(
        spark,
        run_pipeline(spark, transcripts, str(tmp_path / "run_clean"), commit_groups=3,
                     resume=False).routed_dir,
    )


def test_pipeline_resume_reuses_persisted_dictionary(spark, transcripts, tmp_path):
    """Resumed runs must share template ids with committed groups via the
    persisted dictionary, not a rebuild."""
    import json as _json

    out = str(tmp_path / "run_dict")
    res1 = run_pipeline(spark, transcripts, out, commit_groups=2, resume=False)
    dict_path = os.path.join(out, "_dictionary.json")
    saved = _json.load(open(dict_path))
    assert saved["templates"] == res1.dictionary.templates

    # drop the second group; poison the in-memory rebuild path by checking
    # the resumed dictionary comes from disk (same object content)
    mpath = os.path.join(out, "_manifest.jsonl")
    lines = open(mpath).read().strip().splitlines()
    with open(mpath, "w") as f:
        f.write(lines[0] + "\n" + lines[1] + "\n")
    res2 = run_pipeline(spark, transcripts, out, commit_groups=2, resume=True)
    assert res2.dictionary.templates == res1.dictionary.templates
    assert res2.dictionary.pool.mapping() == res1.dictionary.pool.mapping()


def test_dictionary_guard_refuses_unbounded_collect(spark, transcripts, monkeypatch):
    """MAX_DICT_ROWS guard: a corpus whose masking does not collapse must
    fail loudly instead of collecting unbounded state to the driver."""
    import pytest

    from sherlog_parser_spark.plans import dictionary as D
    from sherlog_parser_spark.plans.parse import parse_stage

    monkeypatch.setattr(D, "MAX_DICT_ROWS", 10)
    with pytest.raises(RuntimeError, match="distinct signatures"):
        D.build_template_dictionary(parse_stage(transcripts))


def test_params_analytics_over_sink(spark, transcripts, tmp_path):
    """Reference flow §3.3: numeric analysis over PARSED PARAMETERS read
    back from the store — numeric_field_discovery + per-template z-scores
    on a parameter column extracted from the routed sink's map."""
    from pyspark.sql import functions as F

    from sherlog_parser_spark.operators.numeric import numeric_field_discovery, zscore_anomalies
    from sherlog_parser_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "pa")
    run_pipeline(spark, transcripts, out, commit_groups=1, resume=False)
    sink = spark.read.parquet(os.path.join(out, "routed"))
    assert "parameters" in sink.columns
    with_params = sink.filter(F.size("parameters") > 0)
    assert with_params.count() > 0
    # A11 field typing over the map
    disc = {
        r["k"]: r["is_numeric"]
        for r in numeric_field_discovery(with_params, "parameters", sample_n=5000).collect()
    }
    assert any(disc.values()), disc  # OBA params parse as numeric
    # z-score over one numeric param per template
    vals = with_params.select(
        "template_id", F.explode("parameters").alias("k", "v")
    ).filter(F.col("k").endswith("_OBA")).withColumn("num", F.col("v").cast("double"))
    flagged = zscore_anomalies(vals, ["template_id", "k"], "num", sigma=6.0)
    assert flagged.filter(~F.col("is_anomaly")).count() > 0


def _manifest_rows_fp(out_dir):
    m = CheckpointManifest.load(os.path.join(out_dir, "_manifest.jsonl"))
    fp = 0
    for e in m.entries.values():
        fp ^= int(e["input_fingerprint"])
    return sum(e["rows"] for e in m.entries.values()), fp


def test_manifest_crash_before_rename_is_ignored(spark, transcripts, tmp_path):
    """A crash between writing the next manifest and renaming it into
    place leaves a stray temp manifest beside the valid one: resume reads
    only the valid one, redoes the groups it lacks, and ends with the
    same sink as a clean run."""
    from sherlog_parser_spark.fs import temp_path

    out = str(tmp_path / "stray")
    run_pipeline(spark, transcripts, out, commit_groups=3, resume=False)
    golden = _routed_fingerprint(spark, os.path.join(out, "routed"))
    mpath = os.path.join(out, "_manifest.jsonl")
    golden_manifest = CheckpointManifest.load(mpath)

    # the valid manifest holds the header + one group; the temp holds a
    # later manifest whose rename never happened, its last line cut short
    lines = open(mpath).read().strip().splitlines()
    with open(mpath, "w") as f:
        f.write(lines[0] + "\n" + lines[1] + "\n")
    with open(temp_path(mpath), "w") as f:
        f.write("\n".join(lines) + "\n" + lines[-1][: len(lines[-1]) // 2])

    run_pipeline(spark, transcripts, out, commit_groups=3, resume=True)
    assert _routed_fingerprint(spark, os.path.join(out, "routed")) == golden
    m2 = CheckpointManifest.load(mpath)
    assert set(m2.entries) == set(golden_manifest.entries)
    kept = json.loads(lines[1])["unit"]
    for unit, entry in golden_manifest.entries.items():
        if unit == kept:
            assert m2.entries[unit] == entry
        else:  # redone, not taken from the temp file
            assert m2.entries[unit]["committed_at"] != entry["committed_at"]
            assert m2.entries[unit]["input_fingerprint"] == entry["input_fingerprint"]


def test_manifest_corrupt_earlier_line_raises(spark, tmp_path):
    mpath = str(tmp_path / "_manifest.jsonl")
    m = CheckpointManifest(mpath)
    m.commit_run("fp")
    m.commit("bucket_group=1", 5, "7", "sink", 0.1)
    # every commit rewrites the file, so the corrupt line goes in after
    # the last one
    header, entry = open(mpath).read().splitlines()
    with open(mpath, "w") as f:
        f.write(header + '\n{"unit": "bucket_group=0", "ro\n' + entry + "\n")
    with pytest.raises(ValueError):
        CheckpointManifest.load(mpath)


def test_resume_false_replaces_previous_outputs(spark, transcripts, tmp_path, monkeypatch):
    """``resume=False`` deletes every output of the previous run, the
    aggregates and the run metrics too, even when the new run fails
    before it writes them."""
    out = str(tmp_path / "stale")
    run_pipeline(spark, transcripts, out, commit_groups=2, resume=False)
    leftovers = ["agg_template_freq", "agg_tool_usage", "run_metrics.json"]
    assert all(os.path.exists(os.path.join(out, p)) for p in leftovers)

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash before the group writes")

    monkeypatch.setattr(checkpoint, "commit_groups", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, transcripts.limit(100), out, commit_groups=2, resume=False)
    assert [p for p in leftovers if os.path.exists(os.path.join(out, p))] == []


def test_resume_false_replaces_uri_run(spark, transcripts, tmp_path, monkeypatch):
    """Two ``resume=False`` runs into one ``file://`` out_dir: the sink
    reads back exactly the second run's rows, and no side file lands in
    a ``file:`` directory under the working directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    local = tmp_path / "out_uri"
    out = local.as_uri()
    run_pipeline(spark, transcripts, out, commit_groups=2, resume=False)
    second = transcripts.filter(F.hash("conv_id") % 4 == 0)
    res = run_pipeline(spark, second, out, commit_groups=2, resume=False)
    assert 0 < res.n_rows < transcripts.count()
    assert spark.read.parquet(res.routed_dir).count() == res.n_rows == second.count()
    assert os.listdir(cwd) == []
    assert CheckpointManifest.load(res.manifest_path).metrics()["rows"] == res.n_rows
    assert json.load(open(local / "run_metrics.json"))["rows"] == res.n_rows


def _sink_files(routed_dir):
    """part-* file count per template_id=*/tool=*/conv_bucket=* directory."""
    files = {}
    for root, _dirs, names in os.walk(routed_dir):
        n = sum(1 for x in names if x.startswith("part-"))
        if n:
            files[os.path.relpath(root, routed_dir)] = n
    return files


@pytest.fixture(scope="module")
def single_split(spark, tmp_path_factory):
    """Transcripts generated in one task and read back from one parquet
    file, so the scan is one split (the benchmark's input shape)."""
    from sherlog_parser_spark.data.transcripts import generate_transcripts

    src = str(tmp_path_factory.mktemp("single_split") / "transcripts")
    generate_transcripts(spark, n_convs=150, seed=42).coalesce(1).write.parquet(src)
    return spark.read.parquet(src)


def test_route_write_runs_full_width(spark, single_split, tmp_path, monkeypatch):
    """Each group's write stage runs spark.sql.shuffle.partitions tasks
    (AQE coalescing used to merge a small group into one writer task),
    and every sink directory still holds exactly one file."""
    import itertools

    from pyspark.sql import DataFrameWriter

    sc = spark.sparkContext
    ids, groups = itertools.count(), []
    write = DataFrameWriter.parquet

    def tagged(self, path, *args, **kwargs):
        if str(path).endswith("routed"):  # group writes run on pool threads
            group = f"route-width-{next(ids)}"
            groups.append(group)
            sc.setJobGroup(group, group)
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", tagged)
    out = str(tmp_path / "width")
    run_pipeline(spark, single_split, out, commit_groups=2, resume=False)

    st = sc.statusTracker()
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(groups) == 2
    for g in groups:
        stage_ids = [s for j in st.getJobIdsForGroup(g) for s in st.getJobInfo(j).stageIds]
        write_stage = st.getStageInfo(max(stage_ids))  # the last stage is the write
        assert write_stage.numTasks == n_parts, (g, write_stage)
    files = _sink_files(os.path.join(out, "routed"))
    assert files and set(files.values()) == {1}
    assert all(k.count("=") == 3 for k in files)


def test_groups_in_flight_match_one_group(spark, single_split, tmp_path):
    """Four groups, two in flight, give the sink and manifest of one
    group: same rows per directory, total rows and XOR fingerprint."""
    def per_dir(out):
        sink = spark.read.parquet(os.path.join(out, "routed"))
        got: dict[tuple, set] = {}
        for r in sink.select("template_id", "tool", "conv_bucket", "conv_id", "turn_idx").collect():
            got.setdefault((r["template_id"], r["tool"], r["conv_bucket"]), set()).add(
                (r["conv_id"], r["turn_idx"])
            )
        return got

    one = str(tmp_path / "g1")
    run_pipeline(spark, single_split, one, commit_groups=1, resume=False)
    four = str(tmp_path / "g4")
    run_pipeline(spark, single_split, four, commit_groups=4, resume=False)
    assert per_dir(four) == per_dir(one)
    assert _manifest_rows_fp(four) == _manifest_rows_fp(one)
    assert len(CheckpointManifest.load(os.path.join(four, "_manifest.jsonl")).entries) == 4


def test_plain_frame_evaluates_lambdas_once(spark):
    """A template-metadata frame (lambda projection over a local
    relation) comes back as a bare local relation with the same schema
    and rows, so concurrent jobs have no lambdas left to fold."""
    from sherlog_parser_spark.functions.masking import template_param_meta
    from sherlog_parser_spark.plans.dictionary import plain_frame, template_frame

    meta = template_frame(spark, ["open <OID> as <TID>", "ERROR <SID>", "done"]).withColumn(
        "__pmeta", template_param_meta("template")
    )
    plain = plain_frame(meta)
    assert plain._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert plain.schema == meta.schema
    rows = sorted(plain.collect())
    assert rows == sorted(meta.collect())
    assert [r["__pmeta"]["idxs"] for r in rows] == [[1, 3], [1], []]


def test_plain_frame_survives_concurrent_jobs(spark):
    """Two threads planning joins against one metadata frame at once
    read the rows a single thread reads.  A stress check: without
    plain_frame, 1 to 7 of the 20 queries returned corrupt metadata in
    repeated runs, so a regression fails it almost always, not always."""
    import threading

    from sherlog_parser_spark.functions.masking import VAR_TYPES, template_param_meta
    from sherlog_parser_spark.plans.dictionary import plain_frame, template_frame

    templates = [
        " ".join(f"<{VAR_TYPES[(i + j) % len(VAR_TYPES)]}>" if (i * j) % 3 == 0 else f"w{j}"
                 for j in range(1 + i % 17))
        for i in range(400)
    ]
    meta = plain_frame(
        template_frame(spark, templates).withColumn("__pmeta", template_param_meta("template"))
    )
    ids = spark.range(100).withColumnRenamed("id", "template_id")

    def sizes():
        return sorted(
            ids.join(F.broadcast(meta), "template_id")
            .select("template_id", F.size("__pmeta.keys"), F.size("__pmeta.idxs"))
            .collect()
        )

    want, bad = sizes(), []

    def run():
        for _ in range(10):
            try:
                if sizes() != want:
                    bad.append("rows differ")
            except Exception as e:  # a corrupt row can also fail the query
                bad.append(repr(e))

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not bad
