"""Pipeline metrics: throughput, lag, lineage summaries.

≙ the reference's Stage heartbeat/metadata (stage_tracker.go:23-32),
extended with the event-count/lag metrics the north_rule requires.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from go_cdc_spark.bookmark import BookmarkStore
from go_cdc_spark.sources.oplog import list_segments


def replication_lag(
    spark: SparkSession, log_dir: str, bookmarks: BookmarkStore
) -> dict:
    """Lag = max source position − max applied position (in events and
    in log seconds).

    Segment numbering is monotone in (ts_t, ts_i, seq), so the newest
    ``segment=K`` dir holds the source high-water mark: only that
    segment's three position columns are scanned, whatever the log's
    length. An empty log reports (0, 0, -1)."""
    segments = list_segments(log_dir)
    src_pos = (0, 0, -1)
    if segments:
        newest = os.path.join(log_dir, f"segment={segments[-1]}")
        m = (
            spark.read.parquet(newest)
            .agg(F.max(F.struct("ts_t", "ts_i", "seq")).alias("m"))
            .collect()[0]["m"]
        )
        if m:
            src_pos = (m["ts_t"], m["ts_i"], m["seq"])
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
