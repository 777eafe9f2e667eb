#!/usr/bin/env python
"""Production extraction job — the spark-submit entry point.

    zip -qr eynollah_spark.zip eynollah_spark
    spark-submit --master <cluster> --py-files eynollah_spark.zip \
        jobs/extract_job.py --input /path/transcripts \
        --output /path/spans --buckets 64 [--salted] [--resume]

Flow (north rule): scan transcripts -> Arrow layout kernel (narrow) ->
conv_id ordering windows (one exchange) -> bucketed resumable sink,
with job-level counters in the printed JSON. With --resume, buckets
already committed by a previous run are skipped (anti-join on the
manifest) and only pending work executes — restart-safe, no
duplicates.
"""

from __future__ import annotations

import argparse
import json


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """The job's options; ``argv=None`` reads ``sys.argv``."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet/iceberg path")
    ap.add_argument("--output", required=True, help="span sink root")
    ap.add_argument(
        "--buckets", type=int, default=64,
        help="sink buckets (commit units, one file each); also the shuffle "
        "partitions of the window and write stage, so use at least the "
        "executor core count. --resume needs the value the output was "
        "written with",
    )
    ap.add_argument("--salted", action="store_true", help="skew-hardened kernel path")
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument("--resume", action="store_true", help="skip committed buckets")
    ap.add_argument("--tables", action="store_true", help="enable table detection (-tab)")
    ap.add_argument(
        "--line-split", action="store_true",
        help="enable curved-line splitting (-cl): long spans subdivide at wide gaps",
    )
    ap.add_argument(
        "--blank-bridge", action="store_true",
        help="enable 1-D closing: a single interior blank line bridges "
        "two same-class runs into one region",
    )
    ap.add_argument(
        "--no-full-layout", action="store_true",
        help="skip header/drop-capital detection (the reference's "
        "--no-full-layout mode)",
    )
    ap.add_argument("--run-id", default="run0")
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace) -> dict:
    """One extraction pass on ``spark``: scan -> kernel -> windows ->
    sink. Returns the dict the job prints."""
    from eynollah_spark.config import ExtractConfig
    from eynollah_spark.io.sinks import BucketedSpanSink, filter_pending_turns
    from eynollah_spark.metrics import ExtractMetrics
    from eynollah_spark.operators.extract import extract_spans, extract_spans_salted

    cfg = ExtractConfig(
        enable_tables=args.tables,
        enable_line_split=args.line_split,
        region_blank_bridge=args.blank_bridge,
        full_layout=not args.no_full_layout,
    )
    metrics = ExtractMetrics.create(spark)

    turns = spark.read.parquet(args.input)
    sink = BucketedSpanSink(args.output, n_buckets=args.buckets, run_tag=args.run_id)
    if args.resume:
        turns = filter_pending_turns(turns, sink)

    if args.salted:
        spans = extract_spans_salted(
            turns, cfg, salt_buckets=args.salt_buckets, metrics=metrics
        )
    else:
        spans = extract_spans(turns, cfg, metrics=metrics)

    committed = sink.write(spans)
    return {
        "run_id": args.run_id,
        "buckets_committed": committed,
        "counters": metrics.snapshot(),
    }


def main(argv: list[str] | None = None) -> None:
    from eynollah_spark.session import get_spark

    args = parse_args(argv)
    spark = get_spark(app_name=f"eynollah-extract-{args.run_id}")
    print(json.dumps(run(spark, args)))
    spark.stop()


if __name__ == "__main__":
    main()
