"""Replay drivers: chunked-batch and Structured Streaming tailing.

≙ StageTracker + TailerManager (reference mongoreplay/stage_tracker.go:
64-140, tailer_manager.go:59-134): resume from the bookmark, consume
the log in capped batches, apply, advance the durable token only after
apply. Two modes, identical per-epoch body (resolve → MERGE →
bookmark):

- ``replay_chunked``: deterministic segment-group epochs; resumable —
  epochs already in the lake's committed set are skipped (exactly-once
  even across kill -9 between table commit and bookmark write).
- ``replay_streaming``: ``readStream`` over the segment directory with
  ``maxFilesPerTrigger`` (≙ FetchCountThreshold, tailer.go:35) and
  ``Trigger.AvailableNow`` / processingTime (≙ the 1 s tickers,
  tailer.go:100); ``foreachBatch`` bodies are idempotent on the
  streaming epoch id, so checkpoint replays after a crash no-op. The
  stateless lake materializer (``stateful.materialize_stream_to_lake``)
  is this path under its own checkpoint and epoch-key prefix.

Where the reference drops events when its ring buffer is full
(tailer_manager.go:106-109 — a data-loss bug, SURVEY §2.2-5), Spark's
backpressure + spill makes the failure mode "slower", never "lossy".
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_cdc_spark import schemas
from go_cdc_spark.bookmark import BookmarkRow, BookmarkStore
from go_cdc_spark.config import PipelineConfig
from go_cdc_spark.sinks.lake import ParquetLakeTable
from go_cdc_spark.sources.oplog import list_segments, plan_chunks, read_chunk


@dataclass
class EpochResult:
    epoch: int
    applied: bool
    events: int = 0
    rows_written: int = 0
    seconds: float = 0.0
    hwm: tuple[int, int, int] = schemas.ZERO_TOKEN
    bucket_counts: dict[int, int] = field(default_factory=dict)


def apply_epoch(
    events: DataFrame,
    lake: ParquetLakeTable,
    bookmarks: BookmarkStore,
    cfg: PipelineConfig,
    epoch: int,
    epoch_key: str,
    stage: str = "tail",
) -> EpochResult:
    """The per-micro-batch body shared by both modes: validate the
    events, MERGE into the lake (idempotent on epoch_key), then record
    the bookmark. ≙ TailerManager.flushAll (tailer_manager.go:71-91)
    with the token advanced only after a durable apply.

    One wide shuffle per epoch: the batch goes to the sink RAW — the
    sink's merge is union(current, batch) → LWW reduce, and max-struct
    associativity makes pre-reducing the batch redundant (it was a
    second full shuffle of the same data). The lineage pass (affected
    buckets, epoch HWM, per-bucket raw-event counts) is a map-side
    partial aggregate over ≤ n_buckets groups — a driver round-trip of
    ≤ n_buckets rows, no wide shuffle, no persist.

    The epoch acts on ONE manifest snapshot: the bucket column is
    derived from its ``n_buckets`` and the MERGE commits on top of it,
    so a ``rebucket`` that lands mid-epoch fails this epoch's commit
    loudly (re-run to apply it under the new layout) instead of letting
    it merge rows under the old modulus."""
    from go_cdc_spark.operators.resolve import checked_op
    from go_cdc_spark.sinks.lake import bucket_expr

    t0 = time.time()
    events = events.drop("segment") if "segment" in events.columns else events
    m = lake.manifest()
    bucketed = events.withColumn("bucket", bucket_expr(cfg.key_cols, m["n_buckets"]))
    per_bucket = bucketed.groupBy("bucket").agg(
        F.max(F.struct(*cfg.order_cols)).alias("m"),
        F.count("*").alias("n"),
    ).collect()
    if per_bucket:
        hwm = max(tuple(r["m"][c] for c in cfg.order_cols) for r in per_bucket)
        n_events = sum(r["n"] for r in per_bucket)
        affected = [r["bucket"] for r in per_bucket]
    else:
        hwm, n_events, affected = schemas.ZERO_TOKEN, 0, []
    # op ∈ {i,u,d} enforced on the value the merge consumes
    # (≙ query_generator.go:39-48 routing error on unknown ops)
    stats = lake.apply_batch(
        bucketed.withColumn("op", checked_op("op")),
        epoch_key=epoch_key,
        order_cols=cfg.order_cols,
        affected=affected,
        salt_partitions=cfg.salt_partitions,
        manifest=m,
    )
    dt = time.time() - t0
    bookmarks.record(
        BookmarkRow(
            pipeline_id=cfg.pipeline_id,
            epoch=epoch,
            ts_t=hwm[0],
            ts_i=hwm[1],
            seq=hwm[2],
            stage=stage,
            status="success",
            event_count=n_events,
            partition_counts={str(b): c for b, c in stats.bucket_counts.items()},
            metrics={
                "seconds": dt,
                "events_per_sec": (n_events / dt) if dt > 0 else 0.0,
                "applied": float(stats.applied),
            },
        )
    )
    return EpochResult(
        epoch, stats.applied, n_events, stats.rows_written, dt, hwm, stats.bucket_counts
    )


def replay_chunked(
    spark: SparkSession,
    cfg: PipelineConfig,
    chunk_segments: int = 1,
    max_epochs: int | None = None,
) -> list[EpochResult]:
    """Resumable chunked-batch replay of the whole log directory."""
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    bookmarks = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    token = bookmarks.latest_token()
    done = lake.committed_epochs()

    results = []
    chunks = plan_chunks(list_segments(cfg.source_log_path), chunk_segments)
    for chunk in chunks:
        if max_epochs is not None and len(results) >= max_epochs:
            break
        epoch_key = f"tail-{cfg.pipeline_id}-{chunk.epoch}"
        if epoch_key in done:
            # already applied in a previous run (maybe before a crash —
            # the bookmark row may be missing; re-record nothing, the
            # lake is the source of truth). Skip = exactly-once.
            continue
        events = read_chunk(
            spark, cfg.source_log_path, chunk, token=token, filters=cfg.filters,
            fmt=cfg.source_format, schema=_source_schema(cfg, lake),
        )
        results.append(
            apply_epoch(events, lake, bookmarks, cfg, chunk.epoch, epoch_key)
        )
        if cfg.vacuum_every and len(results) % cfg.vacuum_every == 0:
            lake.vacuum()
    return results


def _source_schema(cfg: PipelineConfig, lake: ParquetLakeTable):
    """Fixed read schema for non-self-describing formats (json): the
    configured schema, else EVENT_SCHEMA widened by the table's evolved
    payload (absent columns parse as null). Parquet keeps None: its
    footer schema + mergeSchema is strictly better. NOTE: a column that
    first appears MID-LOG must be declared via cfg.source_schema_json
    (≙ a schema-registry contract) — the fallback only knows columns
    the table has already seen, so an undeclared new JSON field is
    silently dropped until the table evolves."""
    if cfg.source_format == "parquet":
        return None
    from go_cdc_spark.evolve import union_schema

    return cfg.source_schema() or union_schema(schemas.EVENT_SCHEMA, lake.schema)


def check_stream_schema(schema, cfg: PipelineConfig) -> None:
    """Fail at start, not inside the first micro-batch, when the stream
    schema lacks a key, order or ``op`` column."""
    names = set(schema.fieldNames())
    missing = [c for c in (*cfg.key_cols, *cfg.order_cols, "op") if c not in names]
    if missing:
        raise ValueError(f"stream schema lacks required columns {missing}")


def _start(writer, cfg: PipelineConfig, available_now: bool):
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=cfg.trigger_interval or "1 second").start()


def replay_streaming(
    spark: SparkSession,
    cfg: PipelineConfig,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    stream_schema=None,
    epoch_prefix: str = "stream",
    checkpoint_name: str = "_checkpoint",
    _fault_injector=None,
):
    """Structured Streaming tail over the segment directory.

    Returns the StreamingQuery (caller awaits/stops). Each micro-batch
    runs :func:`apply_epoch` under ``epoch_key=f"{epoch_prefix}-
    {pipeline}-{batch_id}"``: the source checkpoint replays a batch
    whose apply did not reach the commit log, and the epoch key makes
    the re-apply of an already-committed batch a no-op — exactly-once
    across kills. Rows with a NULL order value are dropped before the
    MERGE (they cannot take part in the order-tuple compare).

    ``_fault_injector`` (tests only): callable(batch_id) invoked after
    each batch's apply — raise from it to simulate a crash between the
    lake commit and the streaming commit log.
    """
    from go_cdc_spark.evolve import union_schema
    from go_cdc_spark.streaming.monitor import _read_source

    lake = ParquetLakeTable.load(spark, cfg.table_root)
    bookmarks = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)

    # Streaming needs a fixed schema: the union of event schema and the
    # table's payload (covers already-evolved columns; parquet fills
    # missing columns with null).
    schema = (
        stream_schema
        or cfg.source_schema()
        or union_schema(schemas.EVENT_SCHEMA, lake.schema)
    )
    check_stream_schema(schema, cfg)
    reader = _read_source(
        spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", max_files_per_trigger
        ),
        cfg,
    ).dropna(subset=list(cfg.order_cols))

    def body(batch_df: DataFrame, epoch_id: int):
        # persist: apply_epoch runs two actions over the batch (lineage
        # pass, then the MERGE); uncached, each re-scans the batch's
        # files and the query progress counts both scans in numInputRows
        batch_df.persist()
        try:
            apply_epoch(
                batch_df,
                lake,
                bookmarks,
                cfg,
                epoch=int(epoch_id),
                epoch_key=f"{epoch_prefix}-{cfg.pipeline_id}-{epoch_id}",
            )
        finally:
            batch_df.unpersist()
        if _fault_injector is not None:
            _fault_injector(epoch_id)

    writer = reader.writeStream.foreachBatch(body).option(
        "checkpointLocation",
        f"{cfg.bookmark_root}/{cfg.pipeline_id}/{checkpoint_name}",
    )
    return _start(writer, cfg, available_now)


def run_many(
    spark: SparkSession,
    cfgs: list[PipelineConfig],
    chunk_segments: int = 1,
) -> dict[str, list[EpochResult]]:
    """Per-table parallel controllers, ≙ one goroutine + Controller per
    configured collection (reference mongoreplay/oplog.go:176-198,
    controller.go:20-38). Each table's replay is submitted from its own
    driver thread; Spark's scheduler interleaves their jobs across the
    executors, so a small table never waits behind a large one's full
    replay (enable fair pools to also prevent job-level starvation).
    State is disjoint per pipeline (own lake root, bookmark dir), so
    thread-parallel replays never contend on a manifest.
    """
    from concurrent.futures import ThreadPoolExecutor

    if len({c.pipeline_id for c in cfgs}) != len(cfgs):
        raise ValueError("pipeline_ids must be unique")
    if len({c.table_root for c in cfgs}) != len(cfgs):
        raise ValueError("table_roots must be unique (disjoint state)")
    with ThreadPoolExecutor(max_workers=len(cfgs)) as ex:
        futures = {
            c.pipeline_id: ex.submit(replay_chunked, spark, c, chunk_segments)
            for c in cfgs
        }
        return {pid: f.result() for pid, f in futures.items()}


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    source_df: DataFrame | None = None,
    chunk_segments: int = 1,
) -> list[EpochResult]:
    """Full stage machine: Init → [Snapshot] → Tail (chunked).

    ≙ StageTracker stage map Init→Prepare→Dump→Tail
    (stage_tracker.go:78-84), minus its double-recursion re-run bug
    (stage_tracker.go:106-111, SURVEY §2.2-5)."""
    from go_cdc_spark.sources.snapshot import run_snapshot

    try:
        lake = ParquetLakeTable.load(spark, cfg.table_root)
    except FileNotFoundError:
        lake = ParquetLakeTable.create(
            spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets
        )
    bookmarks = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    bookmarks.record(
        BookmarkRow(cfg.pipeline_id, -2, *schemas.ZERO_TOKEN, stage="init", status="success")
    )
    if source_df is not None:
        run_snapshot(source_df, lake, bookmarks)
    return replay_chunked(spark, cfg, chunk_segments=chunk_segments)
