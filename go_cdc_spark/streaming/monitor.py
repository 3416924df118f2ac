"""Event-time windowed rate monitoring — batch and streaming.

The reference has no event-time windowing at all (SURVEY §2.3: events
are processed regardless of lateness; its only "rates" are the fixed
1 s poll/flush tickers, tailer.go:100). A production ingest pipeline
needs per-op event-rate telemetry that tolerates the out-of-order /
re-delivered events the oplog contract allows, so this module adds it
Spark-first:

- :func:`windowed_rates` — tumbling event-time windows over a batch
  DataFrame via ``F.window`` (codegen'd; one map-side-combined
  aggregate, shuffle carries one row per (window, op) — independent of
  event volume).
- :func:`stream_windowed_rates` — the same aggregation as a Structured
  Streaming query with a WATERMARK: late events inside the tolerance
  still count into their (event-time) window; events later than the
  watermark are dropped and the closed window emits exactly once
  (append mode). State is bounded by the watermark horizon — without
  it, windowed streaming state grows forever at 10^10-event scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_cdc_spark import schemas
from go_cdc_spark.config import PipelineConfig


def _read_source(reader, cfg: PipelineConfig) -> DataFrame:
    """Bind a schema'd readStream to the oplog segment glob — the one
    format dispatch shared with replay_streaming (an unknown
    ``source_format`` raises instead of silently reading the segments
    as parquet)."""
    glob = f"{cfg.source_log_path}/segment=*"
    if cfg.source_format == "json":
        return reader.json(glob)
    if cfg.source_format == "csv":
        return reader.option("header", "false").csv(glob)
    if cfg.source_format == "parquet":
        return reader.parquet(glob)
    raise ValueError(
        f"unknown source_format {cfg.source_format!r}; "
        "expected 'parquet', 'json', or 'csv'"
    )


def _with_event_time(df: DataFrame, ts_col: str = "ts_t") -> DataFrame:
    # ts_t is unix seconds (Mongo primitive.Timestamp.T, schemas.py);
    # session tz is pinned to UTC so the window bounds are deterministic
    return df.withColumn("_etime", F.col(ts_col).cast("timestamp"))


def windowed_rates(
    df: DataFrame, window: str = "10 minutes", ts_col: str = "ts_t"
) -> DataFrame:
    """Per-op event counts in tumbling event-time windows.

    Returns (window_start unix-seconds, op, n_events, events_per_sec)
    — the long window key (not a timestamp) keeps the result exactly
    reproducible in any ANSI-SQL oracle regardless of tz rendering.
    """
    win_secs = F.unix_timestamp(F.col("_w.end")) - F.unix_timestamp(F.col("_w.start"))
    return (
        _with_event_time(df, ts_col)
        .groupBy(F.window("_etime", window).alias("_w"), "op")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("_w.start")).alias("window_start"),
            "op",
            "n_events",
            F.round(F.col("n_events") / win_secs, 6).alias("events_per_sec"),
        )
    )


def stream_windowed_rates(
    spark: SparkSession,
    cfg: PipelineConfig,
    out_table: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Streaming per-op windowed rates over the oplog segment dir.

    Append output mode: a window row emits exactly once, after the
    watermark passes its end — so downstream consumers (alerting, lag
    dashboards) never see a count twice. Events arriving later than
    ``watermark`` past the max seen event time are DROPPED from the
    aggregation (bounded state); pick the tolerance from the source's
    real out-of-orderness (the oplog's duplicate-boundary re-reads are
    seconds, not hours). Returns the StreamingQuery; results land in
    the in-memory table ``out_table``.
    """
    from go_cdc_spark.evolve import union_schema
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.replay import _start

    try:
        table_schema = ParquetLakeTable.load(spark, cfg.table_root).schema
        stream_schema = cfg.source_schema() or union_schema(
            schemas.EVENT_SCHEMA, table_schema
        )
    except FileNotFoundError:  # monitoring does not require a lake table
        stream_schema = cfg.source_schema() or schemas.EVENT_SCHEMA
    reader = spark.readStream.schema(stream_schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    src = _read_source(reader, cfg)
    agg = (
        _with_event_time(src)
        .withWatermark("_etime", watermark)
        .groupBy(F.window("_etime", window).alias("_w"), "op")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("_w.start")).alias("window_start"),
            "op",
            "n_events",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table)
        .option(
            "checkpointLocation",
            f"{cfg.bookmark_root}/{cfg.pipeline_id}/_monitor_checkpoint",
        )
    )
    return _start(writer, cfg, available_now)


def stream_dedup_events(
    spark: SparkSession,
    cfg: PipelineConfig,
    out_table: str,
    watermark: str = "30 minutes",
    max_files_per_trigger: int = 1,
    dedup_cols: tuple[str, ...] = ("seq",),
):
    """Streaming-native exact event dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's dedup state only
    until the watermark passes it, so re-delivered events (the oplog's
    duplicate-boundary re-reads, SURVEY §2.2-1 — seconds apart, not
    hours) are dropped without the state ever growing with the stream.

    This is the Spark-first alternative to handling duplicates in the
    merge: the batch engine dedups via LWW idempotence (max-struct is
    duplicate-immune), but a pipeline shipping raw events to some other
    consumer wants them deduped in flight. Plain ``dropDuplicates`` on
    a stream would keep EVERY key forever — a 10^10-event replay would
    OOM; the watermark bound is what makes this operator shippable.
    Emits deduped events to the in-memory table ``out_table``.
    """
    stream_schema = cfg.source_schema() or schemas.EVENT_SCHEMA
    reader = spark.readStream.schema(stream_schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    src = _read_source(reader, cfg)
    deduped = (
        _with_event_time(src)
        .withWatermark("_etime", watermark)
        .dropDuplicatesWithinWatermark(list(dedup_cols))
        .drop("_etime")
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table)
        .option(
            "checkpointLocation",
            f"{cfg.bookmark_root}/{cfg.pipeline_id}/_dedup_checkpoint",
        )
        .trigger(availableNow=True)
        .start()
    )


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts_t",
    gap_seconds: int = 1800,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: consecutive events of a key belong to
    the same session while inter-event gaps stay ≤ ``gap_seconds``; a
    longer silence starts a new one. Returns one row per session:
    key…, session_seq (1-based per key), session_start/end (unix
    seconds), n_events.

    Classic lag + cumulative-flag formulation, fully deterministic via
    ``order_cols`` tie-break: one key-partitioned window computes the
    new-session flags and their running sum, then a groupBy rolls
    sessions up. Two shuffles total (window by key, rollup by
    key+session) — never a per-session driver loop, state independent
    of event volume. ≙ the SQL-expressible batch twin of Spark's
    streaming ``F.session_window``.
    """
    from pyspark.sql import Window

    order_cols = order_cols or []
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    new_session = F.when(
        prev.isNull() | ((F.col(ts_col) - prev) > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy(*key_cols).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        df.withColumn("_ns", new_session)
        .withColumn("session_seq", F.sum("_ns").over(run))
        .groupBy(*key_cols, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
