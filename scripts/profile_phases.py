"""Phase-level scaling profile of the pipeline (r2 VERDICT item #9).

Runs scan+parse+dictionary / route-write / aggregates separately at a
given core count inside this process; intended to be launched via
taskset-pinned subprocesses, e.g.:

    taskset -c 0-0 python scripts/profile_phases.py 1
    taskset -c 0-3 python scripts/profile_phases.py 4

Prints one JSON line with per-phase seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1])
    data_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sherlog_bench_data/transcripts_300000.parquet"
    out = f"/tmp/sherlog_profile_out_{cores}"
    shutil.rmtree(out, ignore_errors=True)

    from sherlog_parser_spark.data.dims import role_tool_dim
    from sherlog_parser_spark.plans.aggregate import (
        sink_rollup,
        template_frequency_from_rollup,
        tool_usage_from_rollup,
    )
    from sherlog_parser_spark.plans.dictionary import build_template_dictionary
    from sherlog_parser_spark.plans.enrich import enrich_stage
    from sherlog_parser_spark.plans.parse import parse_stage
    from sherlog_parser_spark.plans.route import conv_bucket_expr, route_cols, route_exchange
    from sherlog_parser_spark.session import get_spark

    spark = get_spark("profile", master=f"local[{cores}]")
    t: dict[str, float] = {}

    t0 = time.time()
    df = spark.read.parquet(data_path)
    parsed = parse_stage(df)
    tdict = build_template_dictionary(parsed)
    t["scan_parse_dict"] = time.time() - t0

    t0 = time.time()
    enriched = enrich_stage(parsed, tdict.df, role_tool_dim(spark))
    routed = enriched.select(*route_cols(enriched)).withColumn(
        "conv_bucket", conv_bucket_expr("conv_id", 2)
    )
    (
        route_exchange(routed)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .partitionBy("template_id", "tool", "conv_bucket")
        .parquet(os.path.join(out, "routed"))
    )
    t["route_write"] = time.time() - t0

    t0 = time.time()
    rollup = sink_rollup(routed).persist()
    template_frequency_from_rollup(rollup).write.mode("overwrite").parquet(os.path.join(out, "freq"))
    tool_usage_from_rollup(rollup).write.mode("overwrite").parquet(os.path.join(out, "usage"))
    rollup.unpersist()
    t["aggregates"] = time.time() - t0

    nfiles = sum(len(fs) for _, _, fs in os.walk(os.path.join(out, "routed")))
    print(json.dumps({"cores": cores, "files": nfiles, **{k: round(v, 2) for k, v in t.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
