"""Per-layer tracing for the benchmark, from outside the program.

A ``Tracer`` patches public functions of the package with wrappers that

* record a span ``(name, start, end)`` per call,
* tag the Spark jobs the call submits with ``setJobDescription(name)``
  on the calling thread (PySpark job properties are per thread, and the
  route-group and aggregate writes run on pool threads),
* count calls where only a count is wanted (``merge_templates``).

``plans.pipeline`` binds its imports at import time, so wrappers patch
the name in that module; class methods are patched on the class.

After each traced job the tracer reads per-stage task metrics from the
driver status store (readable with the UI disabled) and attributes each
stage to a layer by its job description: every PySpark job's call site
reads ``save at NativeMethodAccessorImpl.java:0``, so call sites cannot.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrameWriter

from sherlog_parser_spark import checkpoint
from sherlog_parser_spark.oracle import matcher
from sherlog_parser_spark.plans import curation, pipeline

from workloads import DOC_QUERIES, EVENT_QUERIES

DESC = "spark.job.description"

# name -> unit, for every per-layer metric a traced run reports
LAYER_METRICS = {
    "parse.fill_s": "s",
    "parse.cpu_s": "s",
    "parse.gc_s": "s",
    "parse.cache_mb": "MB",
    "dictionary.collect_s": "s",
    "dictionary.merge_s": "s",
    "dictionary.signatures": "count",
    "dictionary.templates": "count",
    "dictionary.merge_calls": "count",
    "dictionary.merge_hit_ratio": "ratio",
    "route.group_s": "s",
    "route.group_max_s": "s",
    "route.exchange_mb": "MB",
    "route.write_cpu_s": "s",
    "route.task_skew": "ratio",
    "route.commit_s": "s",
    "route.files": "count",
    "route.output_mb": "MB",
    "route.spill_mb": "MB",
    "aggregate.s": "s",
    "aggregate.cpu_s": "s",
    "aggregate.overlap_frac": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.fingerprint_s": "s",
    "curation.jobs": "count",
    "curation.cc_s": "s",
    "curation.write_s": "s",
    "curation.ledger_s": "s",
    "curation.cpu_s": "s",
    "curation.shuffle_mb": "MB",
    "executor.busy_frac": "ratio",
    "executor.gc_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "executor.cpu_s": "s",
    "unattributed.cpu_s": "s",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}
# a traced run also reports query.<name>_s, in seconds, for each of these
QUERY_METRICS = EVENT_QUERIES + DOC_QUERIES


def _writer_layer(route_ids):
    """Span name for a ``DataFrameWriter.parquet`` call, from its path."""

    def name(args, kwargs):
        path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
        if path.endswith("routed"):
            return f"route#{next(route_ids)}"
        if "agg_" in path:
            return "aggregate"
        if path.endswith("cleaned"):
            return "curation.write"
        return None

    return name


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        mapper.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        self._mapper = mapper
        self._quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._undo: list = []
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.template_ids: set[int] = set()
        self.cache_mb = 0.0
        self._last_job = self._last_stage = -1

    # -- wrappers ----------------------------------------------------------

    def _patch(self, owner, attr, name, describe=True, after=None):
        orig = getattr(owner, attr)
        sc, spans = self.sc, self.spans

        def wrapper(*args, **kwargs):
            span = name(args, kwargs) if callable(name) else name
            if span is None:
                return orig(*args, **kwargs)
            prev = sc.getLocalProperty(DESC) if describe else None
            if describe:
                sc.setJobDescription(span)
            t0 = time.time()
            try:
                result = orig(*args, **kwargs)
            finally:
                spans.append((span, t0, time.time()))
                if describe:
                    sc.setLocalProperty(DESC, prev)
            if after is not None:
                after(result)
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _count_merges(self):
        orig, counts = matcher.merge_templates, self.counts

        def merge_templates(*args, **kwargs):
            merged = orig(*args, **kwargs)
            counts["merge_calls"] += 1
            counts["merge_hits"] += merged is not None
            return merged

        matcher.merge_templates = merge_templates
        self._undo.append((matcher, "merge_templates", orig))

    def _sample_cache(self, _result):
        """Largest cached RDD while the route groups commit: the
        persisted parse frame."""
        sizes = [i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()]
        self.cache_mb = max([self.cache_mb] + [s / 1e6 for s in sizes])

    def install(self) -> "Tracer":
        self._patch(pipeline, "parse_stage", "parse")
        self._patch(pipeline, "build_template_dictionary", "dictionary")
        self._patch(pipeline, "sink_rollup_slim", "aggregate.plan", describe=False)
        self._patch(pipeline, "_run_fingerprint", "checkpoint.fingerprint", describe=False)
        self._patch(curation, "connected_components", "curation.cc")
        self._patch(curation, "run_curation_pipeline", "curation")
        self._patch(matcher.TemplatePool, "add", "dictionary.merge", describe=False,
                    after=self.template_ids.add)
        self._count_merges()
        self._patch(checkpoint.CheckpointManifest, "commit", "checkpoint.commit",
                    describe=False, after=self._sample_cache)
        self._patch(DataFrameWriter, "parquet", _writer_layer(itertools.count()))
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- status store --------------------------------------------------------

    def _json(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def _jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def _stages(self) -> list[dict]:
        return self._json(self._store.stageList(
            None, False, True, self._quantiles, self._jvm.java.util.ArrayList()))

    def _watermarks(self) -> tuple[int, int]:
        jobs, stages = self._jobs(), self._stages()
        return (max((j["jobId"] for j in jobs), default=-1),
                max((s["stageId"] for s in stages), default=-1))

    def begin(self) -> None:
        """Start tracing one job: wrappers in, counters and spans cleared."""
        self._last_job, self._last_stage = self._watermarks()
        self.spans.clear()
        self.counts.clear()
        self.template_ids.clear()
        self.cache_mb = 0.0
        self.install()

    def end(self, wall_s: float, cores: int) -> dict[str, float]:
        """Wrappers out; per-layer metrics of the job traced since :meth:`begin`."""
        self.uninstall()
        jobs = [j for j in self._jobs() if j["jobId"] > self._last_job]
        stages = [s for s in self._stages()
                  if s["stageId"] > self._last_stage and s["status"] == "COMPLETE"]
        self._last_job = max([self._last_job] + [j["jobId"] for j in jobs])
        self._last_stage = max([self._last_stage] + [s["stageId"] for s in stages])
        return layer_metrics(self.spans, stages, jobs, self.counts, self.template_ids,
                             self.cache_mb, wall_s, cores)


def _span_s(spans, name) -> float:
    return sum(t1 - t0 for n, t0, t1 in spans if n == name)


def _overlap(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    """Seconds of the intervals ``a`` covered by the union of ``b``."""
    union: list[list[float]] = []
    for b0, b1 in sorted(b):
        if union and b0 <= union[-1][1]:
            union[-1][1] = max(union[-1][1], b1)
        else:
            union.append([b0, b1])
    return sum(max(0.0, min(a1, u1) - max(a0, u0)) for a0, a1 in a for u0, u1 in union)


def layer_metrics(spans, stages, jobs, counts, template_ids, cache_mb, wall_s, cores):
    def of(pred):
        return [s for s in stages if pred(s.get("description") or "")]

    def cpu(ss):
        return sum(s["executorCpuTime"] for s in ss) / 1e9

    def stage_s(s):
        return (s["completionTime"] - s["submissionTime"]) / 1e3

    dict_stages = of(lambda d: d == "dictionary")
    fill = min(dict_stages, key=lambda s: s["stageId"], default=None)
    dict_jobs = [j for j in jobs if j.get("description") == "dictionary"]
    dict_job_s = sum((j["completionTime"] - j["submissionTime"]) / 1e3 for j in dict_jobs)

    route_spans = [(n, t0, t1) for n, t0, t1 in spans if n.startswith("route#")]
    route_stages = of(lambda d: d.startswith("route#"))
    route_writes = [s for s in route_stages if s["outputBytes"] > 0]
    commit_s = 0.0
    for n, _t0, t1 in route_spans:
        ends = [s["completionTime"] / 1e3 for s in route_stages if s["description"] == n]
        commit_s += t1 - max(ends) if ends else 0.0
    group_s = [t1 - t0 for _n, t0, t1 in route_spans]
    run_q = [(s.get("taskMetricsDistributions") or {}).get("executorRunTime") for s in route_writes]
    skews = [q[1] / q[0] for q in run_q if q and q[0] > 0]

    agg_spans = [(t0, t1) for n, t0, t1 in spans if n == "aggregate"]
    agg_s = sum(t1 - t0 for t0, t1 in agg_spans)
    agg_stages = of(lambda d: d == "aggregate")
    cur_stages = of(lambda d: d.startswith("curation"))
    cur_end = max((t1 for n, _t0, t1 in spans if n == "curation"), default=0.0)
    cur_write_end = max((t1 for n, _t0, t1 in spans if n == "curation.write"), default=cur_end)

    return {
        "parse.fill_s": stage_s(fill) if fill else 0.0,
        "parse.cpu_s": fill["executorCpuTime"] / 1e9 if fill else 0.0,
        "parse.gc_s": fill["jvmGcTime"] / 1e3 if fill else 0.0,
        "parse.cache_mb": cache_mb if dict_stages else 0.0,
        "dictionary.collect_s": max(0.0, dict_job_s - (stage_s(fill) if fill else 0.0)),
        "dictionary.merge_s": _span_s(spans, "dictionary.merge"),
        "dictionary.signatures": float(sum(1 for n, *_ in spans if n == "dictionary.merge")),
        "dictionary.templates": float(len(template_ids)),
        "dictionary.merge_calls": float(counts["merge_calls"]),
        "dictionary.merge_hit_ratio": counts["merge_hits"] / counts["merge_calls"]
        if counts["merge_calls"] else 0.0,
        "route.group_s": statistics.median(group_s) if group_s else 0.0,
        "route.group_max_s": max(group_s, default=0.0),
        "route.exchange_mb": sum(s["shuffleWriteBytes"] for s in route_stages) / 1e6,
        "route.write_cpu_s": cpu(route_writes),
        "route.task_skew": max(skews, default=0.0),
        "route.commit_s": commit_s,
        "route.output_mb": sum(s["outputBytes"] for s in route_stages) / 1e6,
        "route.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                              for s in route_stages) / 1e6,
        "aggregate.s": agg_s,
        "aggregate.cpu_s": cpu(agg_stages),
        "aggregate.overlap_frac": _overlap(agg_spans, [(t0, t1) for _n, t0, t1 in route_spans])
        / agg_s if agg_s else 0.0,
        "checkpoint.commit_s": _span_s(spans, "checkpoint.commit"),
        "checkpoint.fingerprint_s": _span_s(spans, "checkpoint.fingerprint"),
        "curation.jobs": float(sum(1 for j in jobs
                                   if (j.get("description") or "").startswith("curation"))),
        "curation.cc_s": _span_s(spans, "curation.cc"),
        "curation.write_s": _span_s(spans, "curation.write"),
        "curation.ledger_s": cur_end - cur_write_end,
        "curation.cpu_s": cpu(cur_stages),
        "curation.shuffle_mb": sum(s["shuffleWriteBytes"] for s in cur_stages) / 1e6,
        "executor.busy_frac": sum(s["executorRunTime"] for s in stages) / 1e3 / (cores * wall_s),
        "executor.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "executor.cpu_s": cpu(stages),
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(sum(s["numTasks"] for s in stages)),
        "unattributed.cpu_s": cpu(of(lambda d: d == "")),
    }
