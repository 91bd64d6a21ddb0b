"""Multi-executor evidence (north_rule: 'runs via spark-submit --py-files
on multi-executor clusters'): run the full pipeline on a local-cluster
master (separate executor JVMs, real shuffle service paths) and assert
the routed sink is bit-identical to the single-JVM local[N] run.

Usage:  python scripts/multi_executor_check.py [n_convs]
        python scripts/multi_executor_check.py --curation [n_docs]

``--curation`` runs the curation DAG instead (r4): separate executor
JVMs exercise the retry-relevant shuffle paths of the exact dedup /
CC / substring cuts, and the cleaned sink must be
bit-identical to the single-JVM run.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from sherlog_parser_spark.plans.pipeline import run_pipeline
from sherlog_parser_spark.session import get_spark


def fingerprint(spark, path, cols=("conv_id", "turn_idx", "template_id", "tool", "text")):
    df = spark.read.parquet(path)
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] if r["h"] is not None else 0)


def run(master, tag, data):
    spark = get_spark(f"mec-{tag}", master=master, shuffle_partitions=16)
    try:
        df = spark.read.parquet(data)
        out = f"/tmp/mec_{tag}"  # resume=False replaces every output of a previous run
        t0 = time.time()
        run_pipeline(spark, df, out, n_buckets=2, commit_groups=1, resume=False)
        wall = time.time() - t0
        fp = fingerprint(spark, f"{out}/routed")
        return wall, fp
    finally:
        spark.stop()


def run_curation(master, tag, data):
    from sherlog_parser_spark.plans.curation import run_curation_pipeline

    spark = get_spark(f"mec-cur-{tag}", master=master, shuffle_partitions=16)
    try:
        docs = spark.read.parquet(data)
        bench = docs.filter(F.col("doc_id") % 50 == 0)
        train = docs.filter(F.col("doc_id") % 50 != 0)
        out = f"/tmp/mec_cur_{tag}"
        t0 = time.time()
        res = run_curation_pipeline(
            spark, train, out, bench_docs=bench, commit_groups=2, resume=False
        )
        wall = time.time() - t0
        fp = fingerprint(spark, f"{out}/cleaned", cols=("doc_id", "text"))
        return wall, fp, res.fate_counts
    finally:
        spark.stop()


def main_curation():
    args = [a for a in sys.argv[1:] if a != "--curation"]
    n_docs = int(args[0]) if args else 0  # 0 = the sf0.1 documents table
    data = "/root/testdata/sf0.1/documents.parquet"
    if n_docs:
        gen = get_spark("mec-cur-gen", master="local[8]")
        data = f"/tmp/mec_cur_data_{n_docs}.parquet"
        gen.read.parquet("/root/testdata/sf0.1/documents.parquet").limit(n_docs).write.mode(
            "overwrite"
        ).parquet(data)
        gen.stop()
    w1, fp1, fates1 = run_curation("local[16]", "single_jvm_16", data)
    w2, fp2, fates2 = run_curation("local-cluster[4,4,3072]", "four_executors_4x4", data)
    print(
        json.dumps(
            {
                "local[16]": {"wall_sec": round(w1, 2), "fates": fates1},
                "local-cluster[4,4,3072]": {"wall_sec": round(w2, 2), "fates": fates2},
                "fingerprints_equal": fp1 == fp2,
                "fates_equal": fates1 == fates2,
                "fingerprint": fp1,
            }
        )
    )
    assert fp1 == fp2, (fp1, fp2)
    assert fates1 == fates2, (fates1, fates2)


def main():
    if "--curation" in sys.argv:
        return main_curation()
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 60000
    data = f"/tmp/mec_data_{n_convs}.parquet"
    gen = get_spark("mec-gen", master="local[8]")
    from sherlog_parser_spark.data.transcripts import generate_transcripts

    generate_transcripts(gen, n_convs=n_convs, seed=42, partitions=16).write.mode(
        "overwrite"
    ).parquet(data)
    rows = gen.read.parquet(data).count()
    gen.stop()

    w1, fp1 = run("local[16]", "single_jvm_16", data)
    w2, fp2 = run("local-cluster[4,4,3072]", "four_executors_4x4", data)
    print(
        json.dumps(
            {
                "rows": rows,
                "local[16]": {"wall_sec": round(w1, 2), "turns_per_sec": round(rows / w1)},
                "local-cluster[4,4,3072]": {"wall_sec": round(w2, 2), "turns_per_sec": round(rows / w2)},
                "fingerprints_equal": fp1 == fp2,
                "fingerprint": fp1,
            }
        )
    )
    assert fp1 == fp2, (fp1, fp2)


if __name__ == "__main__":
    main()
