"""Incremental (chunked) snapshot interleaved with log tailing.

The reference's Dumper (mongoreplay/dumper.go:57-163) copies the whole
source collection in one stop-the-world pass before tailing starts; at
10^10-row scale that is a multi-hour stage whose failure restarts from
zero, during which replication lag grows unboundedly. This module
implements the watermark-based chunked snapshot of DBLog (Andreadis &
Gruener, "DBLog: A Watermark Based Change-Data-Capture Framework",
arXiv:2010.12597) — the public algorithm behind Debezium incremental
snapshots:

- the key space is split into **hash-range chunks** (balanced even
  under key skew; boundaries come from one ``approxQuantile`` over the
  key hash — O(n_chunks) driver rows, never the keys themselves);
- chunks are selected from the live source one at a time, interleaved
  with normal tail epochs, so replication lag stays bounded for the
  whole duration of the snapshot;
- each chunk select is bracketed by a LOW and HIGH watermark (the
  applied log token before/after the select). Chunk rows whose key saw
  a log event inside the (low, high] window are DROPPED — the log is
  the newer truth for them — and the survivors are merged stamped *at*
  the LOW watermark, so any later log event beats them under LWW. This
  is the paper's chunk-buffer dedup expressed as one key anti-join +
  the sink's existing max-struct merge; no new conflict logic.
- every chunk is its own idempotent lake epoch: kill -9 anywhere
  mid-snapshot and a re-run skips committed chunks and committed tail
  epochs, re-selecting only the remainder (exactly-once end to end).

Scale: the source is only ever scanned one chunk at a time (the select
pushes the hash-range predicate down), the window key scan is a
column-pruned token-range read of the log (parquet row-group stats
prune everything outside the window), and nothing key-shaped ever
reaches the driver.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_cdc_spark.bookmark import BookmarkRow, BookmarkStore
from go_cdc_spark.config import PipelineConfig
from go_cdc_spark.operators.resolve import apply_filters
from go_cdc_spark.sinks.lake import ParquetLakeTable
from go_cdc_spark.streaming.replay import EpochResult, replay_chunked


@dataclass
class ChunkPlan:
    """Half-open hash range [lo, hi) over xxhash64(key_cols); the first
    chunk's lo and the last chunk's hi are None (unbounded)."""

    index: int
    lo: int | None
    hi: int | None


def plan_key_chunks(
    source: DataFrame, key_cols: list[str], n_chunks: int
) -> list[ChunkPlan]:
    """Chunk boundaries from approximate quantiles of the key hash.

    One pass over the key columns only (column-pruned), returning
    ``n_chunks - 1`` longs to the driver. Hash-range chunking keeps
    chunks balanced regardless of how skewed the natural key order is
    (a monorepo with 10^8 paths lands in many chunks, not one).
    """
    if n_chunks <= 1:
        return [ChunkPlan(0, None, None)]
    h = source.select(F.xxhash64(*key_cols).alias("_h"))
    probs = [i / n_chunks for i in range(1, n_chunks)]
    qs = h.approxQuantile("_h", probs, 0.001)
    # de-dup degenerate boundaries (tiny sources); keep plan monotone
    bounds: list[int] = []
    for q in qs:
        b = int(q)
        if not bounds or b > bounds[-1]:
            bounds.append(b)
    edges: list[int | None] = [None, *bounds, None]
    return [
        ChunkPlan(i, edges[i], edges[i + 1]) for i in range(len(edges) - 1)
    ]


def _chunk_filter(df: DataFrame, key_cols: list[str], plan: ChunkPlan) -> DataFrame:
    h = F.xxhash64(*[F.col(c) for c in key_cols])
    if plan.lo is not None:
        df = df.filter(h >= F.lit(plan.lo).cast("long"))
    if plan.hi is not None:
        df = df.filter(h < F.lit(plan.hi).cast("long"))
    return df


def _log_keys_between(
    spark: SparkSession,
    cfg: PipelineConfig,
    lake: ParquetLakeTable,
    lo: tuple[int, int, int],
    hi: tuple[int, int, int],
) -> DataFrame:
    """Distinct keys of log events with token in (lo, hi] — the
    watermark window. Column-pruned scan through the same format-aware
    reader the tail uses (parquet/json/csv), with the token lower bound
    applied by ``read_chunk``; the coarse ``ts_t`` bounds push into
    parquet row-group stats so only the window's segments are actually
    read (≙ the paper's in-memory window buffer, which cannot exist at
    10^10 events)."""
    from go_cdc_spark.sources.oplog import Chunk, list_segments, read_chunk
    from go_cdc_spark.streaming.replay import _source_schema

    segs = list_segments(cfg.source_log_path)
    log = read_chunk(
        spark, cfg.source_log_path, Chunk(epoch=0, segments=segs), token=lo,
        fmt=cfg.source_format, schema=_source_schema(cfg, lake),
    )
    t, i, s = hi
    upper = F.struct(F.col("ts_t"), F.col("ts_i"), F.col("seq")) <= F.struct(
        F.lit(t).cast("long"), F.lit(i).cast("long"), F.lit(s).cast("long")
    )
    coarse = F.col("ts_t") <= F.lit(t).cast("long")
    return log.filter(coarse & upper).select(*cfg.key_cols).distinct()


def _durable_plan(
    bookmarks: BookmarkStore, select_source, key_cols: list[str], n_chunks: int
) -> list[ChunkPlan]:
    """Chunk boundaries are computed ONCE and persisted next to the
    bookmarks (atomic write). A resumed run MUST reuse the original
    boundaries: approxQuantile is sampled and the source has moved, so
    recomputing would hand the resume different chunk edges than the
    already-committed chunks were cut with — the union would leave
    key-space gaps. Same reason Debezium stores the incremental-
    snapshot window in its offsets."""
    import json
    import tempfile

    path = os.path.join(bookmarks.dir, "snapshot-plan.json")
    if os.path.exists(path):
        with open(path) as fh:
            saved = json.load(fh)
        plans = [ChunkPlan(**p) for p in saved["chunks"]]
        if len(plans) != n_chunks:
            # resume MUST keep the old edges; tell the caller their new
            # n_chunks was ignored instead of silently honoring neither
            import warnings

            warnings.warn(
                f"incremental snapshot resume: reusing the durable plan's "
                f"{len(plans)} chunk boundaries; n_chunks={n_chunks} is "
                "only honored when the plan is first computed",
                stacklevel=3,
            )
        return plans
    plans = plan_key_chunks(select_source(), key_cols, n_chunks)
    fd, tmp = tempfile.mkstemp(dir=bookmarks.dir, suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(
            {"chunks": [{"index": p.index, "lo": p.lo, "hi": p.hi} for p in plans]},
            fh,
        )
    os.replace(tmp, path)
    return plans


def incremental_snapshot_with_tail(
    spark: SparkSession,
    cfg: PipelineConfig,
    select_source,
    n_chunks: int = 8,
    chunk_segments: int = 1,
    tail_epochs_per_chunk: int = 1,
) -> list[EpochResult]:
    """Snapshot the source in ``n_chunks`` hash-range chunks while
    tailing the log, DBLog-style (module docstring).

    ``select_source`` is a zero-arg callable returning the CURRENT
    source rows (key columns + payload columns; no order stamps — a
    database SELECT has none). It is invoked once per chunk, after that
    chunk's interleaved tail step, and the hash-range predicate is
    applied on top of whatever it returns, so implementations should
    return an unmaterialized DataFrame for the predicate to push into.

    Returns the tail EpochResults interleaved with one EpochResult per
    applied chunk (stage recorded as ``snapshot-chunk`` in bookmarks).
    After the final chunk the remaining log is drained, so the returned
    state is fully caught up.

    ``cfg.filters`` hold on the chunk rows as on the tail. A filter on a
    column the source rows lack (``op``, the order stamps, …) has no
    meaning for a SELECT and raises ``ValueError`` before anything is
    copied.
    """
    import time

    if cfg.filters:
        missing = sorted({c for c, _, _ in cfg.filters} - set(select_source().columns))
        if missing:
            raise ValueError(
                f"cfg.filters name columns the snapshot source lacks: {missing}"
            )
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    bookmarks = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    plans = _durable_plan(bookmarks, select_source, cfg.key_cols, n_chunks)
    done = lake.committed_epochs()
    if all(f"snapchunk-{cfg.pipeline_id}-{p.index}" in done for p in plans):
        # every chunk is already committed: this call is a pure tail.
        # Correct for a resume, but an operator expecting a FRESH
        # re-snapshot (source repaired/backfilled) would get a
        # success-shaped result with zero rows copied — say so. A
        # re-snapshot needs a new pipeline_id (chunk epoch keys and the
        # durable plan are scoped to it).
        import warnings

        warnings.warn(
            f"incremental snapshot for pipeline {cfg.pipeline_id!r} is "
            "already complete; no rows will be copied (tail only). "
            "Use a new pipeline_id to re-snapshot.",
            stacklevel=2,
        )
    results: list[EpochResult] = []

    for plan in plans:
        epoch_key = f"snapchunk-{cfg.pipeline_id}-{plan.index}"
        # LOW watermark: the applied position before this chunk's select
        lo = bookmarks.latest_token()
        # interleaved tail step — events "arriving during the select"
        results.extend(
            replay_chunked(
                spark, cfg, chunk_segments=chunk_segments,
                max_epochs=tail_epochs_per_chunk,
            )
        )
        if epoch_key in done:  # resumed run: chunk already committed
            continue
        hi = bookmarks.latest_token()

        t0 = time.time()
        rows = _chunk_filter(
            apply_filters(select_source(), cfg.filters), cfg.key_cols, plan
        )
        if hi > lo:
            # window dedup: the log already carries these keys' truth
            touched = _log_keys_between(spark, cfg, lake, lo, hi)
            rows = rows.join(touched, on=cfg.key_cols, how="left_anti")
        payload = [
            f.name for f in lake.schema.fields if f.name not in set(cfg.key_cols)
        ]
        have = set(rows.columns)
        stamped = rows.select(
            *cfg.key_cols,
            *[c for c in payload if c in have],
            F.lit("i").alias("op"),
            F.lit(lo[0]).cast("long").alias(cfg.order_cols[0]),
            F.lit(lo[1]).cast("long").alias(cfg.order_cols[1]),
            F.lit(lo[2]).cast("long").alias(cfg.order_cols[2]),
        )
        stats = lake.apply_batch(stamped, epoch_key, order_cols=cfg.order_cols)
        dt = time.time() - t0
        bookmarks.record(
            BookmarkRow(
                pipeline_id=cfg.pipeline_id,
                epoch=-100 - plan.index,  # snapshot chunks below tail epochs
                ts_t=lo[0],
                ts_i=lo[1],
                seq=lo[2],
                stage="snapshot-chunk",
                status="success",
                event_count=stats.rows_written,
                partition_counts={
                    str(b): n for b, n in stats.bucket_counts.items()
                },
                metrics={"seconds": dt, "chunk": float(plan.index)},
            )
        )
        results.append(
            EpochResult(
                epoch=-100 - plan.index,
                applied=stats.applied,
                events=stats.rows_written,
                rows_written=stats.rows_written,
                seconds=dt,
                hwm=lo,
                bucket_counts=stats.bucket_counts,
            )
        )

    # drain whatever tail remains — return fully caught up
    results.extend(replay_chunked(spark, cfg, chunk_segments=chunk_segments))
    return results
