#!/usr/bin/env python
"""spark-submit entry point: run (or resume) a crawl against a pages table.

Usage:
    spark-submit --py-files pkg.zip scripts/run_crawl.py \
        --pages /path/to/pages.parquet --checkpoint /path/to/ckpt \
        [--seeds /path/to/seeds.parquet] [--robots /path/to/robots.parquet] \
        [--budget 2] [--rounds 100] [--fixture-pages 400] [--buckets N]

Without --pages, deterministic fixture pages/seeds/robots (seed=42) are
generated in-session — handy for smoke runs and benchmarks.

Checkpoint layout: a fresh checkpoint is plain parquet; an existing one
keeps the layout it was written with (``detect_format``).  ``--buckets N``
writes frontier snapshots as url-bucketed tables with N buckets — the
opt-in layout for very large frontiers, where it makes MERGE-on-read
exchange-free on the snapshot side (keep N >= spark.sql.shuffle.partitions).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages")
    ap.add_argument("--seeds")
    ap.add_argument("--robots")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--budget", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=100)
    ap.add_argument("--fixture-pages", type=int, default=400)
    ap.add_argument("--master", default=None)
    ap.add_argument("--buckets", type=int, default=None,
                    help="write frontier snapshots CLUSTERED BY (url) into N "
                         "buckets (exchange-free MERGE-on-read); default: "
                         "keep the checkpoint's layout, parquet when fresh")
    args = ap.parse_args()

    from logtemplatecrawler_spark.session import build_session
    from logtemplatecrawler_spark.crawl.scheduler import CrawlConfig, run_crawl
    from logtemplatecrawler_spark.sources import fixtures
    from logtemplatecrawler_spark.sources.table_format import (
        BucketedParquetFormat,
        ParquetManifestFormat,
        detect_format,
    )

    spark = build_session("crawl", master=args.master)
    if args.pages:
        if not args.seeds:
            ap.error("--seeds is required when --pages is given "
                     "(a crawl over an external pages table needs its seed list)")
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)
        robots = (
            spark.read.parquet(args.robots)
            if args.robots
            else spark.createDataFrame([], schema=fixtures.ROBOTS_DDL)
        )
    else:
        rows = fixtures.generate_pages(args.fixture_pages, seed=42)
        pages = fixtures.pages_df(spark, args.fixture_pages, seed=42)
        seeds = fixtures.seeds_df(spark, rows, seed=42)
        robots = fixtures.robots_df(spark, rows, seed=42)

    # detect_format raises on a non-empty directory that is not a
    # checkpoint (ADVICE r03), with or without --buckets
    fmt = detect_format(args.checkpoint) or ParquetManifestFormat()
    if args.buckets is not None:
        fmt = BucketedParquetFormat(n_buckets=args.buckets)
    cfg = CrawlConfig(
        checkpoint_dir=args.checkpoint,
        host_budget=args.budget,
        max_rounds=args.rounds,
        table_format=fmt,
    )
    metrics = run_crawl(spark, pages, seeds, robots, cfg)
    for m in metrics:
        print(json.dumps(m))
    total_popped = sum(m["popped"] for m in metrics)
    total_templates = sum(m["templates"] for m in metrics)
    total_elapsed = sum(m["elapsed_sec"] for m in metrics)
    print(json.dumps({
        "rounds": len(metrics),
        "total_popped": total_popped,
        "total_templates": total_templates,
        "total_elapsed_sec": round(total_elapsed, 3),
        "frontier_urls_per_sec": round(total_popped / total_elapsed, 2) if total_elapsed else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
