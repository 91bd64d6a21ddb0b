"""The shared commit protocol (checkpoint.open_run / commit_groups) under
faults, for both batch jobs, and the run fingerprint that guards resume."""

from __future__ import annotations

import gc
import os
import time

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark import checkpoint, telemetry
from sherlog_parser_spark.checkpoint import CheckpointManifest
from sherlog_parser_spark.plans import curation, dictionary, pipeline
from sherlog_parser_spark.plans.curation import run_curation_pipeline
from sherlog_parser_spark.plans.pipeline import run_pipeline
from sherlog_parser_spark.session import CacheScope

GROUPS = 3
QUALITY = {"max_top_2gram_char_x1e4": 6000}


@pytest.fixture(scope="module")
def docs(spark):
    """60 documents of per-doc-unique tokens, so every one is kept and
    every commit group has rows; doc 7 repeats doc 3 (an exact dup)."""
    def text(i):
        return " ".join(f"d{i}w{j}" for j in range(20))

    rows = [(i, text(i)) for i in range(60)]
    rows[7] = (7, text(3))
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


class Job:
    """One batch job as the fault tests drive it: how to run it, which
    column its groups hash, and the sink it commits."""

    def __init__(self, name, bucket_col, sink, fp_cols):
        self.name, self.bucket_col, self.sink, self.fp_cols = name, bucket_col, sink, fp_cols

    def run(self, spark, frames, out, resume=True):
        if self.name == "pipeline":
            return run_pipeline(spark, frames["transcripts"], out, commit_groups=GROUPS,
                                resume=resume)
        return run_curation_pipeline(spark, frames["docs"], out, commit_groups=GROUPS,
                                     resume=resume, quality_kwargs=QUALITY)

    def fingerprint(self, spark, out):
        row = spark.read.parquet(os.path.join(out, self.sink)).select(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*self.fp_cols)).alias("h")
        ).collect()[0]
        return row["n"], row["h"]


JOBS = [
    Job("pipeline", "conv_bucket", "routed", ["conv_id", "turn_idx", "template_id", "tool", "text"]),
    Job("curation", "doc_bucket", "cleaned", ["doc_id", "text"]),
]


def _manifest_rows_fp(out):
    m = CheckpointManifest.load(os.path.join(out, "_manifest.jsonl"))
    fp = 0
    for e in m.entries.values():
        fp ^= int(e["input_fingerprint"])
    return sum(e["rows"] for e in m.entries.values()), fp


def _staging_dirs(out):
    return [os.path.join(root, d) for root, dirs, _ in os.walk(out)
            for d in dirs if d.startswith(".spark-staging")]


def _fail_group_writes(monkeypatch, spark, bucket_col, group):
    """Every write of a frame carrying ``bucket_col`` first passes a
    Python UDF that raises inside the Spark task on a row of ``group``."""
    frame_cls = type(spark.range(1))
    write = frame_cls.write

    @F.udf("boolean")
    def alive(bucket):
        if bucket % GROUPS == group:
            raise RuntimeError("injected group write failure")
        return True

    def failing_write(self):
        if bucket_col in self.columns:
            self = self.filter(alive(F.col(bucket_col)))
        return write.fget(self)

    monkeypatch.setattr(frame_cls, "write", property(failing_write))


FAULT_CASES = [(job, uri) for uri in (False, True) for job in JOBS]


@pytest.mark.parametrize(
    "job, uri", FAULT_CASES, ids=[job.name + ("-uri" if uri else "") for job, uri in FAULT_CASES]
)
def test_failed_group_write_resumes_bit_identical(spark, transcripts, docs, job, uri, tmp_path,
                                                  monkeypatch):
    """The faulted run writes to a plain path, or to a ``file://`` URI,
    which goes through the same Hadoop FileSystem as the sink."""
    frames = {"transcripts": transcripts, "docs": docs}
    clean = str(tmp_path / "clean")
    job.run(spark, frames, clean, resume=False)

    local = tmp_path / "faulted"
    out = local.as_uri() if uri else str(local)
    with monkeypatch.context() as m:
        _fail_group_writes(m, spark, job.bucket_col, group=1)
        with pytest.raises(Exception, match="injected group write failure"):
            job.run(spark, frames, out, resume=False)
    manifest = CheckpointManifest.load(os.path.join(out, "_manifest.jsonl"))
    assert manifest.run_header is not None
    assert "bucket_group=1" not in manifest.entries
    assert _staging_dirs(str(local)) == []

    job.run(spark, frames, out, resume=True)
    assert job.fingerprint(spark, out) == job.fingerprint(spark, clean)
    assert _manifest_rows_fp(out) == _manifest_rows_fp(clean)
    assert set(CheckpointManifest.load(os.path.join(out, "_manifest.jsonl")).entries) == {
        f"bucket_group={g}" for g in range(GROUPS)
    }


def test_failed_aggregates_surface_after_group_writes(spark, transcripts, tmp_path,
                                                      monkeypatch):
    """The aggregates thread fails while the groups write: every group
    still commits, the error is raised after them, and a resume keeps
    the sink and writes the aggregates."""
    clean = str(tmp_path / "clean")
    run_pipeline(spark, transcripts, clean, commit_groups=GROUPS, resume=False)
    job = JOBS[0]

    def broken_rollup(*args, **kwargs):
        raise RuntimeError("injected aggregates failure")

    out = str(tmp_path / "faulted")
    with monkeypatch.context() as m:
        m.setattr(pipeline, "sink_rollup_slim", broken_rollup)
        with pytest.raises(RuntimeError, match="injected aggregates failure"):
            run_pipeline(spark, transcripts, out, commit_groups=GROUPS, resume=False)
    assert len(CheckpointManifest.load(os.path.join(out, "_manifest.jsonl")).entries) == GROUPS
    assert _staging_dirs(out) == []

    res = run_pipeline(spark, transcripts, out, commit_groups=GROUPS, resume=True)
    assert job.fingerprint(spark, out) == job.fingerprint(spark, clean)
    assert _manifest_rows_fp(out) == _manifest_rows_fp(clean)
    freq = spark.read.parquet(os.path.join(out, "agg_template_freq"))
    assert freq.agg(F.sum("frequency")).collect()[0][0] == res.n_rows


@pytest.mark.parametrize("job", JOBS, ids=[job.name for job in JOBS])
def test_every_job_of_a_run_is_in_the_callers_job_group(spark, transcripts, docs, job,
                                                        tmp_path):
    """A warm run under the caller's job group starts no job outside it:
    the group writes, the side job and the DAG's own actions all carry
    the group, so ``cancelJobGroup`` stops the whole run."""
    frames = {"transcripts": transcripts, "docs": docs}
    out = str(tmp_path / "out")
    job.run(spark, frames, out, resume=False)
    sc = spark.sparkContext
    group = f"caller-{job.name}"
    sc.setJobGroup(group, "a batch run under the caller's job group")
    try:
        with telemetry.driver_counts(sc) as counts:
            job.run(spark, frames, out, resume=False)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == counts.jobs > 0, counts


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _assert_nothing_cached(spark):
    """No plan in the CacheManager (a persisted frame not yet filled
    included) and no persisted RDD.  A localCheckpoint's RDD (the
    distributed components loops) is persisted too, until ContextCleaner
    drops it after a GC: those get up to 30 s to go."""
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    for _ in range(60):
        if not _persistent_rdds(spark):
            return
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert not _persistent_rdds(spark)


@pytest.fixture
def empty_cache(spark, transcripts):
    """Nothing cached before the test; the session's cached transcripts
    are cached again after it."""
    spark.catalog.clearCache()
    curation.release_near_dup()
    _assert_nothing_cached(spark)
    yield
    curation.release_near_dup()
    transcripts.cache()


def test_pipeline_failing_before_group_writes_releases_session(spark, transcripts, tmp_path,
                                                               monkeypatch, empty_cache):
    """The dictionary guard fires before any group write: the parse cache
    is released and the cache codec conf restored all the same."""
    key = "spark.sql.inMemoryColumnarStorage.compressed"
    codec = spark.conf.get(key, "true")
    monkeypatch.setattr(dictionary, "MAX_DICT_ROWS", 0)
    with pytest.raises(RuntimeError, match="distinct signatures"):
        run_pipeline(spark, transcripts, str(tmp_path / "out"), resume=False)
    assert spark.conf.get(key, "true") == codec
    _assert_nothing_cached(spark)


def test_curation_failing_before_group_writes_releases_session(spark, docs, tmp_path,
                                                               monkeypatch, empty_cache):
    """Connected components fail inside the DAG build, after the exact
    dedup winners are cached: the run's scope releases them.  The
    near-dup scope keeps its band buckets for a resume."""
    def broken_components(*args, **kwargs):
        raise RuntimeError("injected components failure")

    monkeypatch.setattr(curation, "connected_components", broken_components)
    with pytest.raises(RuntimeError, match="injected components failure"):
        run_curation_pipeline(spark, docs, str(tmp_path / "out"), resume=False,
                              quality_kwargs=QUALITY)
    curation.release_near_dup()
    _assert_nothing_cached(spark)


def test_near_dup_frames_outlive_a_run_for_the_same_survivors_only(spark, docs, tmp_path,
                                                                    empty_cache):
    """After a run only the near-dup band buckets and span shingles stay
    cached.  A run over the same documents reuses them; a run over other
    documents releases them and keeps its own."""
    def run(frame, name):
        run_curation_pipeline(spark, frame, str(tmp_path / name), resume=False,
                              quality_kwargs=QUALITY)
        return _persistent_rdds(spark)

    held = run(docs, "a")
    assert len(held) == 2
    assert run(docs, "b") == held
    other = run(docs.filter(F.col("doc_id") != 3), "c")
    assert len(other) == 2 and not other & held
    curation.release_near_dup()
    _assert_nothing_cached(spark)


# every queries() entry that caches through QUERY_CACHE
CACHING_QUERIES = [
    "minhash_candidates", "semdedup_keep", "dedup_keep_docs", "dsir_weights",
    "substring_dedup_apply", "shard_assignment", "sequence_packing", "curation_ledger",
]


def _query(name):
    def run(spark, frames, out):
        import __spark_entry__ as entry

        entry.queries()[name](spark, "/root/testdata/sf0.01").collect()
        assert not spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
        entry.QUERY_CACHE.release()
        curation.release_near_dup()
    return run


def _query_after_caching_query(spark, frames, out):
    """The next entry releases the caches of the one before it."""
    import __spark_entry__ as entry

    entry.queries()["dsir_weights"](spark, "/root/testdata/sf0.01").collect()
    entry.queries()["template_freq"](spark, "/root/testdata/sf0.01").collect()


def _semdedup_guard(spark, frames, out):
    """The skew guard raises after ``base`` is cached."""
    from sherlog_parser_spark.operators.semdedup import semdedup

    emb = spark.createDataFrame([(i, [1.0, float(i)]) for i in range(20)],
                                "vec_id INT, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="max_cluster_rows"), CacheScope() as cache:
        semdedup(emb, [[1.0, 0.0]], threshold=0.9, max_cluster_rows=5, cache=cache)


def _batch_run(job):
    def run(spark, frames, out):
        job.run(spark, frames, out, resume=False)
        curation.release_near_dup()
    return run


OWNER_CASES = {
    **{job.name: _batch_run(job) for job in JOBS},
    **{f"query-{name}": _query(name) for name in CACHING_QUERIES},
    "query-after-caching-query": _query_after_caching_query,
    "semdedup-guard": _semdedup_guard,
}


@pytest.mark.parametrize("case", list(OWNER_CASES))
def test_nothing_cached_after_owner_releases(spark, transcripts, docs, case, tmp_path,
                                             empty_cache):
    """Every cached frame has an owner that releases it: a batch run's
    scope (its failure paths are the two tests above), ``QUERY_CACHE``
    once released or once the next entry starts, and a ``with`` block
    left by an error.  The curation DAG's near-dup frames are released
    with ``release_near_dup``."""
    OWNER_CASES[case](spark, {"transcripts": transcripts, "docs": docs}, str(tmp_path / "out"))
    _assert_nothing_cached(spark)


EMPTY_GROUP_CASES = [(job, resume) for job in JOBS for resume in (False, True)]


@pytest.mark.parametrize(
    "job, resume", EMPTY_GROUP_CASES,
    ids=[job.name + ("-resume" if resume else "") for job, resume in EMPTY_GROUP_CASES],
)
def test_empty_commit_group_commits_zero_rows(spark, transcripts, docs, job, resume, tmp_path):
    """With more commit groups than buckets, groups 2 and 3 have no rows.
    They commit 0 rows with fingerprint "0", the XOR identity, and a
    resume that lost one empty and one non-empty group lands on the same
    sink and manifest."""
    out = str(tmp_path / "out")

    def run():
        if job.name == "pipeline":
            return run_pipeline(spark, transcripts, out, n_buckets=2, commit_groups=4)
        return run_curation_pipeline(spark, docs, out, n_buckets=2, commit_groups=4,
                                     quality_kwargs=QUALITY)

    res = run()
    path = os.path.join(out, "_manifest.jsonl")
    entries = CheckpointManifest.load(path).entries
    for g in (2, 3):
        assert (entries[f"bucket_group={g}"]["rows"],
                entries[f"bucket_group={g}"]["input_fingerprint"]) == (0, "0")
    committed, sink = _manifest_rows_fp(out), job.fingerprint(spark, out)
    assert committed[0] == sink[0] == res.n_rows > 0
    if resume:
        m = CheckpointManifest.load(path)
        for g in (1, 3):
            del m.entries[f"bucket_group={g}"]
        m.commit_run(m.run_fingerprint())  # rewrites the manifest without them
        assert run().n_rows == res.n_rows
        assert job.fingerprint(spark, out) == sink
        assert _manifest_rows_fp(out) == committed
        assert CheckpointManifest.load(path).entries.keys() == entries.keys()


def test_manifest_commit_py4j_calls(spark, tmp_path):
    """One manifest commit resolves the FileSystem once: 8 Py4J calls
    (the Path, the Hadoop conf, the FileSystem, the temp Path, create,
    write, close, rename); resolving it twice took 20."""
    m = checkpoint.open_run(str(tmp_path), "fp", False, [])
    with telemetry.driver_counts(spark.sparkContext) as counts:
        m.commit("bucket_group=0", 1, "0", "sink", 0.1)
    assert counts.py4j_calls <= 8, counts
    assert CheckpointManifest.load(m.path).entries["bucket_group=0"]["rows"] == 1


class _Fingerprinted(Exception):
    pass


def _run_fp(monkeypatch, run, *args, **kwargs):
    """The run fingerprint a job passes to ``open_run``; the job stops
    there, before any Spark job."""
    def stop(out_dir, run_fp, resume, outputs):
        raise _Fingerprinted(run_fp)

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "open_run", stop)
        with pytest.raises(_Fingerprinted) as e:
            run(*args, **kwargs)
    return e.value.args[0]


def test_run_fingerprint_tracks_input_and_config(spark, monkeypatch):
    def frames(bench_mod=5, emb_rows=20):
        docs = spark.range(40).selectExpr("cast(id AS INT) AS doc_id", "concat('doc ', id) AS text")
        bench = docs.filter(F.col("doc_id") % bench_mod == 0)
        emb = spark.range(emb_rows).selectExpr("id AS doc_id", "array(CAST(id AS FLOAT)) AS embedding")
        return docs, bench, emb

    def curation_fp(commit_groups=4, **kw):
        docs, bench, emb = frames(**kw)
        return _run_fp(monkeypatch, run_curation_pipeline, spark, docs, "unused",
                       bench_docs=bench, commit_groups=commit_groups,
                       semdedup_opts={"embeddings": emb, "centroids": 2, "threshold": 0.9})

    base = curation_fp()
    assert curation_fp() == base  # rebuilt frames: new expression ids, same identity
    assert curation_fp(bench_mod=7) != base
    assert curation_fp(emb_rows=30) != base
    assert curation_fp(commit_groups=3) != base

    def pipeline_fp(commit_groups=4):
        return _run_fp(monkeypatch, run_pipeline, spark, frames()[0], "unused",
                       commit_groups=commit_groups)

    assert pipeline_fp() == pipeline_fp() != pipeline_fp(commit_groups=3)
    assert pipeline_fp() != base
