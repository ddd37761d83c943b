#!/usr/bin/env python
"""spark-submit entry point for the CDC pipeline.

≙ the reference's CLI (run/run.go:10-23: load configs → Oplog.Run),
re-expressed as a spark-submit job. The master/executor topology comes
from spark-submit (the north_rule's "multi-executor cluster at N and
4N executors"); this script never hardcodes a master.

Usage (cluster):

    zip -r go_cdc_spark.zip go_cdc_spark
    spark-submit --py-files go_cdc_spark.zip scripts/run_replay.py \
        --config pipeline.json --mode run

    # or flags instead of a config file:
    spark-submit --py-files go_cdc_spark.zip scripts/run_replay.py \
        --pipeline-id prod --log s3a://bucket/oplog \
        --table s3a://bucket/lake/repos --bookmarks s3a://bucket/bm \
        --n-buckets 8192 --chunk-segments 16 --mode run

Modes:
    init      create the lake table if absent
    snapshot  dump a source table into the lake, stamp the bookmark
              (--source-table = parquet path of the source collection)
    replay    chunked-batch tail from the bookmark (resumable)
    stream    Structured Streaming tail (availableNow or continuous)
    run       full stage machine: init → [snapshot] → replay
    status    print bookmark HWM, lag, and throughput summary

Local smoke (no cluster): spark-submit --master 'local[8]' ... works
identically; ``python bench.py scaling`` uses exactly that to evidence
the N→4N scaling rule in this sandbox.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", help="PipelineConfig JSON file")
    ap.add_argument("--mode", default="run",
                    choices=["init", "snapshot", "replay", "stream", "run", "status"])
    ap.add_argument("--pipeline-id")
    ap.add_argument("--log", help="oplog segment directory")
    ap.add_argument("--table", help="lake table root")
    ap.add_argument("--bookmarks", help="bookmark store root")
    ap.add_argument("--key-cols", default=None, help="comma-separated")
    ap.add_argument("--n-buckets", type=int, default=None)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--vacuum-every", type=int, default=None,
                    help="vacuum superseded bucket copies every N epochs")
    ap.add_argument("--lake-mode", default="cow", choices=["cow", "mor"],
                    help="sink write mode when creating the table")
    ap.add_argument("--chunk-segments", type=int, default=4)
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument("--trigger-interval", default=None,
                    help="e.g. '1 second'; omit for Trigger.AvailableNow")
    ap.add_argument("--source-table", help="parquet path for snapshot mode")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from go_cdc_spark import metrics, schemas
    from go_cdc_spark.bookmark import BookmarkStore
    from go_cdc_spark.config import PipelineConfig
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.sources.snapshot import run_snapshot
    from go_cdc_spark.streaming.replay import (
        replay_chunked,
        replay_streaming,
        run_pipeline,
    )

    if args.config:
        with open(args.config) as fh:
            cfg = PipelineConfig.from_json(fh.read())
    else:
        missing = [k for k in ("pipeline_id", "log", "table", "bookmarks")
                   if not getattr(args, k.replace("-", "_"), None)]
        if missing:
            ap.error(f"--config or all of --pipeline-id/--log/--table/--bookmarks; missing {missing}")
        cfg = PipelineConfig(
            pipeline_id=args.pipeline_id,
            source_log_path=args.log,
            table_root=args.table,
            bookmark_root=args.bookmarks,
        )
    if args.key_cols:
        cfg.key_cols = args.key_cols.split(",")
    if args.n_buckets:
        cfg.n_buckets = args.n_buckets
    if args.salt_partitions:
        cfg.salt_partitions = args.salt_partitions
    if args.trigger_interval:
        cfg.trigger_interval = args.trigger_interval
    if args.vacuum_every:
        cfg.vacuum_every = args.vacuum_every

    spark = SparkSession.builder.appName(f"go_cdc_spark-{cfg.pipeline_id}").getOrCreate()

    def ensure_table() -> ParquetLakeTable:
        try:
            return ParquetLakeTable.load(spark, cfg.table_root)
        except FileNotFoundError:
            return ParquetLakeTable.create(
                spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols,
                cfg.n_buckets, mode=args.lake_mode,
            )

    bookmarks = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)

    if args.mode == "init":
        t = ensure_table()
        print(json.dumps({"table": cfg.table_root, "version": t.latest_version()}))
    elif args.mode == "snapshot":
        if not args.source_table:
            ap.error("snapshot mode needs --source-table")
        stats = run_snapshot(spark.read.parquet(args.source_table), ensure_table(), bookmarks)
        print(json.dumps({"rows": stats.rows_written, "version": stats.version}))
    elif args.mode == "replay":
        ensure_table()
        results = replay_chunked(spark, cfg, chunk_segments=args.chunk_segments)
        print(json.dumps({
            "epochs": len(results),
            "events": sum(r.events for r in results),
            "seconds": round(sum(r.seconds for r in results), 3),
        }))
    elif args.mode == "stream":
        ensure_table()
        q = replay_streaming(
            spark, cfg,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=args.trigger_interval is None,
        )
        q.awaitTermination()
    elif args.mode == "run":
        src = spark.read.parquet(args.source_table) if args.source_table else None
        results = run_pipeline(spark, cfg, source_df=src, chunk_segments=args.chunk_segments)
        print(json.dumps({
            "epochs": len(results),
            "events": sum(r.events for r in results),
        }))
    elif args.mode == "status":
        print(json.dumps({
            "lag": metrics.replication_lag(spark, cfg.source_log_path, bookmarks),
            "throughput": metrics.throughput_summary(bookmarks),
        }, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
