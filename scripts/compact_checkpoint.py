#!/usr/bin/env python
"""spark-submit maintenance entry point: compact a crawl checkpoint.

Folds all committed frontier deltas into a snapshot at the last complete
round and prunes the folded delta partitions (Iceberg's
``rewrite_data_files`` + ``expire_snapshots`` analog).  Safe to run between
crawls or from a maintenance cron; crash-safe and idempotent (see
``crawl.scheduler.compact_checkpoint``).

Usage:
    spark-submit --py-files pkg.zip scripts/compact_checkpoint.py \
        --checkpoint /path/to/ckpt [--buckets N] [--master ...]

The checkpoint keeps the layout it was written with (``detect_format``; a
bucketed checkpoint still grows its bucket count by ``rows_per_bucket``).
With ``--buckets N`` the frontier snapshots this run writes are url-bucketed
with at least N buckets.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--buckets", type=int, default=None,
                    help="write frontier snapshots CLUSTERED BY (url) into "
                         "at least N buckets; default: keep the "
                         "checkpoint's layout")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from logtemplatecrawler_spark.crawl.scheduler import (
        CrawlConfig,
        compact_checkpoint,
    )
    from logtemplatecrawler_spark.session import build_session
    from logtemplatecrawler_spark.sources.table_format import (
        BucketedParquetFormat,
        detect_format,
    )

    fmt = detect_format(args.checkpoint)
    if fmt is None:
        ap.error(f"no checkpoint under {args.checkpoint} (nothing to compact)")
    if args.buckets is not None:
        fmt = BucketedParquetFormat(n_buckets=args.buckets)
    spark = build_session("compact_checkpoint", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cfg = CrawlConfig(checkpoint_dir=args.checkpoint, table_format=fmt)
        print(json.dumps(compact_checkpoint(spark, cfg)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
