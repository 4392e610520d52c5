"""spark-submit entry point for the extraction job (north_rule packaging).

Cluster usage::

    python scripts/package.py                      # → dist/paperslicer_spark.zip
    spark-submit --py-files dist/paperslicer_spark.zip \\
        scripts/run_extract.py \\
        --input  s3://bucket/transcripts \\
        --output s3://bucket/extracted \\
        --buckets 4096

Local smoke::

    python scripts/run_extract.py --generate 200 --output /tmp/out

Outputs under ``--output``:
  data/bucket=*/      exploded sections (long form), resumable by bucket
  _manifest/          completed-bucket manifest (resume state)
  lineage/            per-partition lineage/metrics table
  quality/            corpus-quality gates (single row)
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet/iceberg path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic conversations instead of --input")
    ap.add_argument("--buckets", type=int, default=16,
                    help="resume granularity (conv_id hash buckets)")
    ap.add_argument("--review-mode", choices=["auto", "on", "off"],
                    default="auto")
    args = ap.parse_args()

    from paperslicer_spark.session import get_spark
    from paperslicer_spark.operators.extract import (
        parse_turns_fused, sections_long)
    from paperslicer_spark.operators.metrics import (
        corpus_quality, partition_lineage, per_document_metrics)
    from paperslicer_spark.operators.sinks import write_per_document_csv
    from paperslicer_spark.operators.spans import extract_turn_spans
    from paperslicer_spark.plans.checkpoint import run_with_resume
    from paperslicer_spark.sources.transcripts import transcripts_df

    spark = get_spark(app_name="paperslicer-extract")
    if args.generate:
        turns = transcripts_df(spark, args.generate, seed=42)
    else:
        turns = spark.read.parquet(args.input)

    review = {"auto": None, "on": True, "off": False}[args.review_mode]

    def transform(part):
        return sections_long(parse_turns_fused(part, review_mode=review))

    summary = run_with_resume(spark, turns, args.output, transform,
                              n_buckets=args.buckets)
    print(f"extraction: {summary}")

    spans = extract_turn_spans(turns)
    partition_lineage(spans).write.mode("overwrite").parquet(
        os.path.join(args.output, "lineage"))
    records = parse_turns_fused(turns, review_mode=review)
    corpus_quality(records).write.mode(
        "overwrite").parquet(os.path.join(args.output, "quality"))
    write_per_document_csv(per_document_metrics(records),
                           os.path.join(args.output, "quality_csv"))
    print("lineage + quality written")
    spark.stop()


if __name__ == "__main__":
    main()
