"""The benchmark workloads: seeded inputs, one job, and its output check.

Each workload writes its input once per (workload, seed, size) and
computes the expected outputs at set-up, outside the timed region.
``job`` is the timed call into the program; ``check`` reads what the job
left on disk and returns a list of mismatches (empty when the output is
right).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sherlog_parser_spark.checkpoint import CheckpointManifest
from sherlog_parser_spark.data.transcripts import generate_transcripts
from sherlog_parser_spark.functions.masking import mask_template_py
from sherlog_parser_spark.oracle.matcher import TemplatePool
from sherlog_parser_spark.plans import curation, pipeline

import inputs


# bench.py's 22 HEADLINE queries, split by the tables they read: the
# traced run of each workload times its share (see ``QueryPass``)
EVENT_QUERIES = ("template_freq", "param_extract", "hourly_counts", "group_stats",
                 "numeric_outliers", "session_stats", "pricing_summary", "region_rollup",
                 "ann_topk", "semdedup_keep")
DOC_QUERIES = ("minhash_candidates", "ngram_jaccard_pairs", "simhash", "text_stats",
               "pii_redaction", "vocab_top_tokens", "crossdoc_repeated_ngrams", "unicode_nfc",
               "decontaminate", "substring_dedup_apply", "text_cleaning", "dsir_weights")


def sink_stats(out_dir: str) -> tuple[int, int]:
    """(data files, bytes) under ``out_dir``; Spark names them part-*."""
    files = size = 0
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _manifest(out_dir: str) -> tuple[int, int]:
    """(rows, XOR of the group fingerprints) committed in the manifest."""
    m = CheckpointManifest.load(os.path.join(out_dir, "_manifest.jsonl"))
    fp = 0
    for e in m.entries.values():
        fp ^= int(e["input_fingerprint"])
    return sum(e["rows"] for e in m.entries.values()), fp


def _cached(path: str, build) -> dict:
    """The JSON at ``path``, or ``build()``'s result written there.
    ``build`` writes the input first, so the JSON marks a complete one."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    expected = build()
    with open(path, "w") as f:
        json.dump(expected, f)
    return expected


class ZipfHead:
    """``generate_transcripts`` rows: 96 signatures merging into 53
    templates under a Zipf head; the row volume loads parse, route and
    aggregates.

    The generator runs once per checkout and size (seed 42, a cold Spark
    job of 10-15 s); each ``--seed`` then derives its input from that base
    with ``inputs.reseed_transcripts`` in well under a second.  The base
    also caches per row ``xxhash64(conv_id, turn_idx)`` and the
    ``mask_template_py`` shape, and per shape its signature, so the
    expected outputs of a seed need no Spark job."""

    name = "zipf_head"
    queries = EVENT_QUERIES
    base_seed = 42
    n_convs = 1500

    def __init__(self, work: str, seed: int):
        self.seed = seed
        inputs_dir = os.path.join(work, "inputs")
        self.base = os.path.join(inputs_dir, f"{self.name}-base-c{self.n_convs}")
        self.input = os.path.join(inputs_dir, f"{self.name}-s{seed}-c{self.n_convs}")

    def _base(self, spark) -> tuple[pa.Table, dict[str, int]]:
        def build():
            staged = self.base + ".spark"
            shutil.rmtree(staged, ignore_errors=True)
            cores = spark.sparkContext.defaultParallelism
            generate_transcripts(spark, n_convs=self.n_convs, seed=self.base_seed, partitions=cores) \
                .withColumn("h", F.xxhash64("conv_id", "turn_idx")).write.parquet(staged)
            table = pq.read_table(staged)
            shapes = [mask_template_py(t or "") for t in table.column("text").to_pylist()]
            pq.write_table(table.append_column("shape", pa.array(shapes, pa.string())),
                           self.base + ".parquet")
            shutil.rmtree(staged)
            frame = spark.createDataFrame([(x,) for x in sorted(set(shapes))], "shape string")
            return {r["shape"]: r["sig"]
                    for r in frame.select("shape", F.xxhash64("shape").alias("sig")).collect()}

        sigs = _cached(self.base + ".sigs.json", build)
        return pq.read_table(self.base + ".parquet"), sigs

    def prepare(self, spark) -> dict:
        def build():
            base, sigs = self._base(spark)
            table = inputs.reseed_transcripts(base, self.seed)
            os.makedirs(self.input, exist_ok=True)
            pq.write_table(table.drop_columns(["h", "shape"]),
                           os.path.join(self.input, "part-0.parquet"))
            return self._expected(table, sigs)

        self.expected = _cached(self.input + ".expected.json", build)
        return self.expected

    @staticmethod
    def _expected(table: pa.Table, sigs: dict[str, int]) -> dict:
        """Row count, route fingerprint ``bit_xor(xxhash64(conv_id,
        turn_idx))``, and the dictionary a sequential ``TemplatePool``
        replay of ``mask_template_py`` shapes builds in first-seen
        ``(ts, conv_id, turn_idx)`` order."""
        first_seen = table.sort_by([("ts", "ascending"), ("conv_id", "ascending"),
                                    ("turn_idx", "ascending")]).column("shape").to_pylist()
        pool = TemplatePool()
        for shape in dict.fromkeys(first_seen):
            pool.add(sigs[shape], shape)
        return {
            "rows": table.num_rows,
            "fp": int(np.bitwise_xor.reduce(table.column("h").to_numpy())),
            "templates": pool.templates,
            "mapping": {str(s): t for s, t in pool.mapping().items()},
        }

    def job(self, spark, out: str) -> int:
        return pipeline.run_pipeline(
            spark, spark.read.parquet(self.input), out,
            n_buckets=8, commit_groups=4, persist_parsed=True,
        ).n_rows

    def check(self, out: str) -> list[str]:
        exp, bad = self.expected, []
        rows, fp = _manifest(out)
        if rows != exp["rows"]:
            bad.append(f"manifest rows {rows} != {exp['rows']}")
        if fp != exp["fp"]:
            bad.append(f"route fingerprint {fp} != {exp['fp']}")
        with open(os.path.join(out, "_dictionary.json")) as f:
            state = json.load(f)
        if state["templates"] != exp["templates"] or state["mapping"] != exp["mapping"]:
            bad.append("dictionary differs from the sequential TemplatePool replay")
        freq = pq.read_table(os.path.join(out, "agg_template_freq"), columns=["frequency"])
        total = sum(freq.column("frequency").to_pylist())
        if total != exp["rows"]:
            bad.append(f"agg_template_freq sums to {total} != {exp['rows']}")
        return bad


class CurationDocs:
    """``run_curation_pipeline`` over seeded documents, the ``doc_id % 50``
    split as the decontamination bench set; job count, not rows, bounds it."""

    name = "curation_docs"
    queries = DOC_QUERIES
    n_docs = 1000

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.input = os.path.join(work, "inputs", f"{self.name}-s{seed}-d{self.n_docs}")
        self.reference: dict | None = None

    def prepare(self, spark) -> dict:
        def build():
            inputs.write_documents(os.path.join(self.input, "part-0.parquet"), self.seed, self.n_docs)
            return {"rows": self.n_docs - len(range(0, self.n_docs, 50))}

        self.expected = _cached(self.input + ".expected.json", build)
        return self.expected

    def job(self, spark, out: str) -> int:
        docs = spark.read.parquet(self.input)
        split = F.col("doc_id") % 50 == 0
        return curation.run_curation_pipeline(
            spark, docs.filter(~split), out, bench_docs=docs.filter(split),
            n_buckets=8, commit_groups=4,
        ).n_rows

    def check(self, out: str) -> list[str]:
        with open(os.path.join(out, "curation_metrics.json")) as f:
            fates = json.load(f)["fates"]
        got = {"fates": fates, "cleaned": list(_manifest(out))}
        bad = []
        if sum(fates.values()) != self.expected["rows"]:
            bad.append(f"fates sum to {sum(fates.values())} != {self.expected['rows']}")
        if self.reference is None:  # the first job sets what later jobs must repeat
            self.reference = got
        elif got != self.reference:
            bad.append(f"fates/cleaned sink {got} != first job {self.reference}")
        return bad


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def _canon(rows, cols) -> list[tuple]:
    """Rows as sorted tuples, columns in name order: order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class QueryPass:
    """One timed pass over ``__spark_entry__`` queries on seeded tables.

    Each query is timed from building its DataFrame to its collected
    rows, tagged with the job description ``query.<name>``, and checked
    against the query's DuckDB ``oracle_sql()`` over the same files:
    same columns, same rows in any order, as the repository's oracle
    test compares them."""

    def __init__(self, work: str, seed: int, names: tuple[str, ...]):
        self.seed, self.names = seed, names
        self.sf_dir = os.path.join(work, "inputs", f"query-tables-s{seed}")

    def prepare(self) -> None:
        _cached(self.sf_dir + ".json", lambda: inputs.write_query_tables(self.sf_dir, self.seed))

    def run(self, spark) -> tuple[dict[str, float], list[str]]:
        import __spark_entry__ as entry

        queries, oracle = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, f)}'")
        times, bad = {}, []
        for name in self.names:
            spark.sparkContext.setJobDescription(f"query.{name}")
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # a query that raises fails the pass
                bad.append(f"{name}: {e!r}")
                continue
            finally:
                times[name] = time.perf_counter() - t0
                spark.sparkContext.setJobDescription(None)
            res = con.execute(oracle[name])
            want_cols = [d[0] for d in res.description]
            if sorted(df.columns) != sorted(want_cols):
                bad.append(f"{name}: columns {df.columns} != oracle {want_cols}")
            elif _canon(rows, df.columns) != _canon(res.fetchall(), want_cols):
                bad.append(f"{name}: {len(rows)} rows differ from the DuckDB oracle")
        con.close()
        return times, bad


WORKLOADS = {w.name: w for w in (ZipfHead, CurationDocs)}
