"""Pipeline metrics: throughput, lag, lineage summaries.

≙ the reference's Stage heartbeat/metadata (stage_tracker.go:23-32),
extended with the event-count/lag metrics the north_rule requires.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from go_cdc_spark import schemas
from go_cdc_spark.bookmark import BookmarkStore
from go_cdc_spark.sources.oplog import list_segments


def replication_lag(
    spark: SparkSession, log_dir: str, bookmarks: BookmarkStore
) -> dict:
    """Lag = max source position − max applied position (in events and
    in log seconds).

    Segment numbering is monotone with the order tuple
    (``sources/oplog.py``), so the source high-water mark is the max
    tuple of the NEWEST segment alone: its three order columns are read
    on the driver with pyarrow — O(segment), not O(log), and no Spark
    job. ``spark`` is unused and kept for API compatibility."""
    import pyarrow.dataset as ds

    segments = list_segments(log_dir)
    src_pos = schemas.ZERO_TOKEN
    if segments:
        seg = ds.dataset(
            os.path.join(log_dir, f"segment={segments[-1]}"), format="parquet"
        ).to_table(columns=schemas.ORDER_COLS)
        if seg.num_rows:
            src_pos = max(
                zip(*(seg.column(c).to_pylist() for c in schemas.ORDER_COLS))
            )
    applied = bookmarks.latest_token()
    return {
        "source_hwm": src_pos,
        "applied_hwm": applied,
        "lag_seconds": max(src_pos[0] - applied[0], 0),
        "lag_events": max(src_pos[2] - applied[2], 0),
        "caught_up": applied >= src_pos,
    }


def throughput_summary(bookmarks: BookmarkStore) -> dict:
    rows = [r for r in bookmarks.rows() if r.stage == "tail" and r.status == "success"]
    total_events = sum(r.event_count for r in rows)
    total_secs = sum(r.metrics.get("seconds", 0.0) for r in rows)
    return {
        "epochs": len(rows),
        "events": total_events,
        "seconds": round(total_secs, 3),
        "events_per_sec": round(total_events / total_secs, 1) if total_secs else 0.0,
    }
