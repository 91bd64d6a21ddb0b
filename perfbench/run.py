"""Benchmark entry point: one workload, one process, one SparkSession.

    python3 perfbench/run.py --workload zipf_head --seed 1 --seconds 20 --trace 0

Closed loop with one client: jobs run back to back on a SparkSession at
``local[<usable cores>]``.  Set-up starts the session, writes the seeded
input and its expected outputs (cached per workload, seed and size) and
runs one untimed pilot job.  Then jobs run until ``--seconds`` have
passed and at least two are done; every job's output is checked.
The driver JVM runs C1 only with low compile thresholds (``JVM_FLAGS``)
so that it is at its steady speed after the pilot.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced jobs and reports the per-layer metrics of the traced
ones plus ``trace.overhead_frac``, then times the workload's share of the
``__spark_entry__`` queries once.  The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# jobs per run at least, however long they take (a traced run interleaves
# untraced and traced jobs and counts the traced ones)
MIN_JOBS = 2
WORKLOADS = ("zipf_head", "curation_docs")


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


class PeakRss:
    """Peak of driver JVM + Python resident memory, sampled every 50 ms."""

    def __init__(self, jvm_pid: int):
        self.pids = (jvm_pid, os.getpid())
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_mb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(p, value): the highest percentile with at least ten samples above
    it, or None when there are too few samples."""
    n = len(samples)
    k = n - 10  # index of the value with ten samples beyond it
    if k < 1:
        return None
    return 100.0 * k / n, sorted(samples)[k - 1]


# Driver JVM flags for a JVM that reaches its steady speed after the
# pilot: C1 only, at a twentieth of the usual invocation counts (tiered
# C2 keeps recompiling for ten jobs and more, so the first timed jobs
# would measure JIT progress); a code cache large enough for that (C1
# alone defaults to 48 MB, which fills and stops the compiler) and no
# flushing of cold compiled code (a flush recompiles mid-run and slowed
# one job by ~40%); a stop-the-world collector with two threads, so that
# JIT and GC take fewer of the cores the jobs run on.
JVM_FLAGS = ("-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing "
             "-XX:ReservedCodeCacheSize=512m -XX:CompileThresholdScaling=0.05 "
             "-XX:+UseParallelGC -XX:ParallelGCThreads=2")


def start_spark(cores: int):
    from sherlog_parser_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": local,
            # -XX:-UsePerfData: no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} {JVM_FLAGS}",
            # the curation DAG generates ~150 classes per job; at Spark's
            # default of 100 cached classes every job compiles them anew
            "spark.sql.codegen.cache.maxEntries": "2000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads the status store after each job; bounded
            # retention keeps that read small in both modes
            "spark.ui.retainedJobs": "200",
            "spark.ui.retainedStages": "400",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import workloads
    from layers import LAYER_METRICS, QUERY_METRICS, Tracer

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    out = os.path.join(WORK, workload, "out")
    wl = workloads.WORKLOADS[workload](WORK, seed)
    attempted = failed = 0
    try:
        t0 = time.perf_counter()
        rows = wl.prepare(spark)["rows"]
        if trace:
            queries = workloads.QueryPass(WORK, seed, wl.queries)
            queries.prepare()
        input_s = time.perf_counter() - t0

        def one_job(tracer=None):
            nonlocal attempted, failed
            shutil.rmtree(out, ignore_errors=True)
            if tracer:
                tracer.begin()
            t = time.perf_counter()
            try:
                wl.job(spark, out)
                job_s = time.perf_counter() - t
                bad = wl.check(out)
            except Exception as e:  # a job that raises counts as failed
                job_s, bad = time.perf_counter() - t, [repr(e)]
            layers = tracer.end(job_s, cores) if tracer else {}
            attempted += 1
            if bad:
                failed += 1
                print(f"job failed: {'; '.join(bad)}", file=sys.stderr)
            if tracer:
                layers["route.files"] = float(workloads.sink_stats(os.path.join(out, "routed"))[0])
            return job_s, layers, workloads.sink_stats(out)

        t0 = time.perf_counter()
        one_job()  # pilot: cold codegen and JIT, untimed
        pilot_s = time.perf_counter() - t0
        pilot_failed, attempted, failed = failed, 0, 0

        plain: list[float] = []
        sinks: list[tuple[int, int]] = []
        traced: list[tuple[float, dict]] = []
        tracer = Tracer(spark) if trace else None
        deadline = time.perf_counter() + seconds
        with PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
            while time.perf_counter() < deadline or (
                len(traced) < MIN_JOBS if trace else len(plain) < MIN_JOBS
            ):
                if tracer and len(plain) > len(traced):
                    traced.append(one_job(tracer)[:2])
                else:
                    job_s, _layers, sink = one_job()
                    plain.append(job_s)
                    sinks.append(sink)
        if trace:
            query_s, bad = queries.run(spark)
            attempted += 1
            if bad:
                failed += 1
                print(f"query pass failed: {'; '.join(bad)}", file=sys.stderr)
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, workload), ignore_errors=True)

    job_s = statistics.median(plain)
    tail = tail_percentile(plain)
    summary = {
        "workload": workload, "seed": seed, "jobs_s": plain, "job_s": job_s,
        "tail": tail and {"percentile": tail[0], "job_s": tail[1]},
        "input_rows": rows, "session_s": session_s, "input_s": input_s, "pilot_s": pilot_s,
        "rows_per_s": rows / job_s, "peak_rss_mb": rss.peak, "failed_frac": failed / attempted,
    }
    if trace:
        names = [n for n in LAYER_METRICS if n not in ("trace.overhead_frac", "driver.peak_rss_mb")]
        metrics = {n: statistics.median(layers[n] for _s, layers in traced) for n in names}
        metrics.update({f"query.{n}_s": query_s.get(n, 0.0) for n in QUERY_METRICS})
        # untraced jobs after the first run interleaved with the traced ones
        traced_s = statistics.median(s for s, _layers in traced)
        metrics["trace.overhead_frac"] = traced_s / statistics.median(plain[1:]) - 1
        metrics["driver.peak_rss_mb"] = rss.peak
        units = {**LAYER_METRICS, **{f"query.{n}_s": "s" for n in QUERY_METRICS}}
    else:
        metrics = {
            "job_s": job_s,
            "setup_s": session_s + input_s + pilot_s,
            "sink_mb": statistics.median(size for _files, size in sinks) / 1e6,
            "sink_files": statistics.median(files for files, _size in sinks),
        }
        units = {"job_s": "s", "setup_s": "s", "sink_mb": "MB", "sink_files": "count"}
    print(json.dumps(summary), flush=True)
    return {
        "correct": failed == 0 and pilot_failed == 0 and all(map(math.isfinite, metrics.values())),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def run_all(args) -> int:
    """Every workload in its own process; one line per metric."""
    for workload in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        summary, result = map(json.loads, proc.stdout.strip().splitlines()[-2:])
        for name, m in result["metrics"].items():
            print(f"{workload:14} {name:28} {m['value']:14.4f} {m['unit']}")
        if not args.trace:  # summary-line metrics that are not scored
            print(f"{workload:14} {'rows_per_s':28} {summary['rows_per_s']:14.4f} rows/s")
            print(f"{workload:14} {'peak_rss_mb':28} {summary['peak_rss_mb']:14.4f} MB")
        print(f"{workload:14} {'failed_frac':28} {result['failed'] / result['attempted']:14.4f} "
              f"({result['failed']}/{result['attempted']} jobs, correct={result['correct']})")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        import sherlog_parser_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
