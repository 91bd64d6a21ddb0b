"""spark-submit entry point for the transcript pipeline.

Usage (sandbox / local):
    spark-submit --master local[32] --py-files sherlog_spark.zip \
        sherlog_parser_spark/run.py --n-convs 100000 --out /tmp/out

On a real cluster the same file is submitted with ``--py-files`` of the
zipped package; input comes from ``--input <path/table>`` instead of the
synthetic generator.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="sherlog-parser-spark pipeline")
    ap.add_argument("--input", default=None, help="parquet path of transcripts; default: synthetic")
    ap.add_argument("--n-convs", type=int, default=10_000, help="synthetic conversations")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True, help="output root directory")
    ap.add_argument("--master", default=None)
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--commit-groups", type=int, default=4)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--explain", action="store_true", help="print the enrich plan and exit")
    args = ap.parse_args(argv)

    from sherlog_parser_spark.session import get_spark

    spark = get_spark("sherlog-pipeline", master=args.master)
    try:
        if args.input:
            transcripts = spark.read.parquet(args.input)
        else:
            from sherlog_parser_spark.data.transcripts import generate_transcripts

            transcripts = generate_transcripts(spark, n_convs=args.n_convs, seed=args.seed)

        if args.explain:
            from sherlog_parser_spark.data.dims import role_tool_dim
            from sherlog_parser_spark.plans.dictionary import build_template_dictionary
            from sherlog_parser_spark.plans.enrich import enrich_stage
            from sherlog_parser_spark.plans.parse import parse_stage

            parsed = parse_stage(transcripts)
            tdict = build_template_dictionary(parsed)
            enrich_stage(parsed, tdict.df, role_tool_dim(spark)).explain("formatted")
            return 0

        from sherlog_parser_spark.plans.pipeline import run_pipeline

        res = run_pipeline(
            spark,
            transcripts,
            args.out,
            n_buckets=args.n_buckets,
            commit_groups=args.commit_groups,
            resume=not args.no_resume,
        )
        print(
            json.dumps(
                {
                    "rows": res.n_rows,
                    "templates": len(res.dictionary.templates),
                    "distinct_signatures": res.dictionary.n_sigs,
                    "wall_sec": round(res.wall_sec, 3),
                    "turns_per_sec": round(res.n_rows / res.wall_sec, 1),
                    "routed_dir": res.routed_dir,
                }
            )
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
