"""Supplementary measurement harness for the optimization rounds.

NOT the official bench (bench.py is frozen for measurement): this file
isolates phases and single queries with the noop sink (guide §1.4) so
before/after claims in OPTIMIZATION_r06.md have per-piece numbers.

Usage:
    python bench_extra.py pipeline <cores> [reps]   # one e2e pipeline run/level
    python bench_extra.py query <name> [reps]       # one headline query, noop sink
    python bench_extra.py queries [reps]            # all headline queries
    python bench_extra.py curation [reps]           # run_curation_pipeline layers
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_pipeline_level(cores: int, reps: int = 1) -> None:
    """Identical protocol to bench.py's bench_pipeline (taskset pin, APC,
    tmpfs, warm pilot, persist_parsed for <32 cores)."""
    from bench import BENCH_CONVS, _gen_transcripts, bench_pipeline

    data_path = f"/tmp/sherlog_bench_data/transcripts_{BENCH_CONVS}.parquet"
    os.makedirs(os.path.dirname(data_path), exist_ok=True)
    _gen_transcripts(data_path, BENCH_CONVS)
    warmup_path = "/tmp/sherlog_bench_data/transcripts_warmup_5000.parquet"
    _gen_transcripts(warmup_path, 5000)
    runs = [
        bench_pipeline(
            cores, data_path, persist=cores < 32, warmup_path=warmup_path
        )
        for _ in range(reps)
    ]
    print(json.dumps({"pipeline_cores": cores, "runs": [round(r, 2) for r in runs], "min": round(min(runs), 2)}))


def run_queries(names: list[str] | None, reps: int = 1) -> None:
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from sherlog_parser_spark.session import get_spark

    spark = get_spark("bench-extra", master=f"local[{CPUS}]")
    qs = entrymod.queries()
    names = names or HEADLINE
    out: dict[str, list[float]] = {}
    try:
        _noop(qs["top_event_types"](spark, SF_DIR))  # warmup
        for name in names:
            samples = []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.time()
                _noop(qs[name](spark, SF_DIR))
                samples.append(round(time.time() - t0, 3))
            out[name] = samples
        print(json.dumps({k: {"min": min(v), "runs": v} for k, v in out.items()}))
    finally:
        spark.stop()


def run_curation(reps: int = 3) -> None:
    """``run_curation_pipeline`` on perfbench's seeded documents (seed 1,
    1,000 docs, the ``doc_id % 50`` bench split): one cold pilot, then per
    rep the ``phases`` of ``curation_metrics.json``, the Py4J calls and
    jobs of the ``curation_dag`` build alone and of the whole job, and a
    noop-sink scan of the quality rules over the documents."""
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
    from inputs import write_documents
    from pyspark.sql import functions as F

    from sherlog_parser_spark import telemetry
    from sherlog_parser_spark.plans import curation
    from sherlog_parser_spark.session import CacheScope, get_spark

    spark = get_spark("bench-extra", master=f"local[{CPUS}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="bench_extra_curation_")
    try:
        write_documents(os.path.join(work, "docs", "part-0.parquet"), 1, 1000)
        docs = spark.read.parquet(os.path.join(work, "docs"))
        split = F.col("doc_id") % 50 == 0
        kept, bench = docs.filter(~split), docs.filter(split)

        def job() -> dict:
            out = os.path.join(work, "out")
            curation.run_curation_pipeline(spark, kept, out, bench_docs=bench, resume=False)
            with open(os.path.join(out, "curation_metrics.json")) as f:
                return json.load(f)["phases"]

        job()  # pilot: cold codegen and JIT
        for _ in range(reps):
            with CacheScope() as cache, telemetry.driver_counts(sc) as dag:
                curation.curation_dag(kept, bench_docs=bench, cache=cache)
            t0 = time.perf_counter()
            with telemetry.driver_counts(sc) as whole:
                phases = job()
            job_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            _noop(curation.with_quality_reason(kept))
            print(json.dumps({
                "job_s": round(job_s, 3), "phases": phases,
                "quality_scan_s": round(time.perf_counter() - t0, 3),
                "dag_py4j_calls": dag.py4j_calls, "dag_jobs": dag.jobs,
                "job_py4j_calls": whole.py4j_calls, "jobs": whole.jobs,
            }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "pipeline":
        run_pipeline_level(int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 1)
    elif mode == "query":
        run_queries([sys.argv[2]], int(sys.argv[3]) if len(sys.argv) > 3 else 1)
    elif mode == "queries":
        run_queries(None, int(sys.argv[2]) if len(sys.argv) > 2 else 1)
    elif mode == "curation":
        run_curation(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    else:
        raise SystemExit(f"unknown mode {mode}")
