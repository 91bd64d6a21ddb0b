"""Dump .explain("formatted") for every headline bench query (and the
pipeline's route/enrich frames) to <outdir>/<name>.txt — judge evidence
for plan-shape claims in OPTIMIZATION_r06.md.

Usage: python scripts/collect_plans.py <outdir> [suffix]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_str(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else ""
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from sherlog_parser_spark.session import get_spark

    spark = get_spark("collect-plans", master="local[4]")
    qs = entrymod.queries()
    try:
        for name in HEADLINE:
            try:
                txt = explain_str(qs[name](spark, SF_DIR))
            except Exception as e:  # pragma: no cover
                txt = f"EXPLAIN FAILED: {e}"
            with open(os.path.join(outdir, f"{name}{suffix}.txt"), "w") as f:
                f.write(txt)

        # the e2e pipeline's route-write frame (the headline shuffle)
        from pyspark.sql import functions as F

        from sherlog_parser_spark.data.transcripts import generate_transcripts
        from sherlog_parser_spark.plans.dictionary import (
            build_template_dictionary,
            plain_frame,
            template_frame,
        )
        from sherlog_parser_spark.plans.parse import parse_stage
        from sherlog_parser_spark.plans.route import conv_bucket_expr, route_exchange

        df = generate_transcripts(spark, n_convs=2000, seed=42)
        parsed = parse_stage(df)
        tdict = build_template_dictionary(parsed)
        # light pre-shuffle frame, the production route exchange, then
        # the post-exchange attach
        from sherlog_parser_spark.functions.masking import (
            apply_params_expr,
            event_type_expr,
            template_param_meta,
            tokens_fast_expr,
        )
        from sherlog_parser_spark.plans.route import ROUTE_COLS, route_cols

        pre = (
            parsed.select(*route_cols(parsed), "sig")
            .join(F.broadcast(tdict.df.select("sig", "template_id")), "sig", "left")
            .drop("sig")
            .withColumn("conv_bucket", conv_bucket_expr("conv_id", 2))
        )
        tpl_meta = plain_frame(
            template_frame(spark, tdict.templates)
            .withColumn("__event_type", event_type_expr("template"))
            .withColumn("__pmeta", template_param_meta("template"))
        )
        routed = (
            route_exchange(pre)
            .join(F.broadcast(tpl_meta), "template_id", "left")
            .withColumn("event_type", F.coalesce(F.col("__event_type"), F.lit("UNKNOWN")))
            .withColumn("__lt", tokens_fast_expr("text"))
            .withColumn("parameters", apply_params_expr(F.col("__lt"), F.col("__pmeta")))
            .select(*ROUTE_COLS, "conv_bucket")
        )
        with open(os.path.join(outdir, f"pipeline_route{suffix}.txt"), "w") as f:
            f.write(explain_str(routed))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
