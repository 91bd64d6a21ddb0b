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

        # the e2e pipeline's route-write frame (the headline shuffle):
        # the production pre-shuffle frame, route exchange and attach
        from sherlog_parser_spark.data.transcripts import generate_transcripts
        from sherlog_parser_spark.plans.dictionary import build_template_dictionary, template_frame
        from sherlog_parser_spark.plans.enrich import attach_templates, template_side_frame
        from sherlog_parser_spark.plans.parse import parse_stage
        from sherlog_parser_spark.plans.route import ROUTE_COLS, pre_shuffle_frame, route_exchange

        df = generate_transcripts(spark, n_convs=2000, seed=42)
        parsed = parse_stage(df)
        tdict = build_template_dictionary(parsed)
        side = template_side_frame(template_frame(spark, tdict.templates))
        routed = attach_templates(
            route_exchange(pre_shuffle_frame(parsed, tdict.df, 2)), side, "template_id"
        ).select(*ROUTE_COLS, "conv_bucket")
        with open(os.path.join(outdir, f"pipeline_route{suffix}.txt"), "w") as f:
            f.write(explain_str(routed))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
