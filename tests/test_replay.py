"""End-to-end replay: snapshot→tail, kill/resume, skew, evolution,
streaming — the sha256 final-state contract (BASELINE.json)."""

from __future__ import annotations

import os

from go_cdc_spark import schemas
from go_cdc_spark.bookmark import BookmarkStore
from go_cdc_spark.config import PipelineConfig
from go_cdc_spark.genlog import LogSpec, write_segments
from go_cdc_spark.metrics import replication_lag, throughput_summary
from go_cdc_spark.oracle import replay_oracle, table_fingerprint
from go_cdc_spark.sinks.lake import ParquetLakeTable
from go_cdc_spark.streaming.replay import replay_chunked, replay_streaming, run_pipeline


def _cfg(tmpdir_path, **kw):
    return PipelineConfig(
        pipeline_id=kw.pop("pipeline_id", "t1"),
        source_log_path=os.path.join(tmpdir_path, "log"),
        table_root=os.path.join(tmpdir_path, "table"),
        bookmark_root=os.path.join(tmpdir_path, "bookmarks"),
        n_buckets=8,
        **kw,
    )


def _fingerprint(lake):
    return table_fingerprint(lake.read().toPandas())


def _oracle_fp(spark, log_dir):
    log = spark.read.option("mergeSchema", "true").parquet(log_dir).drop("segment")
    return table_fingerprint(replay_oracle(log.toPandas()))


def test_full_replay_matches_oracle(spark, tmpdir_path):
    cfg = _cfg(tmpdir_path)
    spec = LogSpec(n_events=6_000, segment_events=1_500, dup_every=53, seed=21)
    write_segments(spark, spec, cfg.source_log_path)
    results = run_pipeline(spark, cfg)
    assert [r.epoch for r in results] == [0, 1, 2, 3]
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)
    bm = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    assert replication_lag(spark, cfg.source_log_path, bm)["caught_up"]
    assert throughput_summary(bm)["events"] > 6_000  # includes duplicates


def test_replication_lag_reads_only_the_newest_segment(spark, tmpdir_path, monkeypatch):
    """The source high-water mark comes from the newest segment alone:
    on a multi-segment log it equals the whole-log max, and the only
    parquet path read is the last segment's. An empty log reports the
    zero token."""
    from pyspark.sql import DataFrameReader, functions as F

    cfg = _cfg(tmpdir_path)
    bm = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    assert replication_lag(spark, cfg.source_log_path, bm)["source_hwm"] == (0, 0, -1)
    spec = LogSpec(n_events=6_000, segment_events=1_500, dup_every=53, seed=21)
    write_segments(spark, spec, cfg.source_log_path)
    whole = (
        spark.read.option("mergeSchema", "true").parquet(cfg.source_log_path)
        .agg(F.max(F.struct("ts_t", "ts_i", "seq")).alias("m")).collect()[0]["m"]
    )
    read_paths = []
    real_parquet = DataFrameReader.parquet

    def recording(self, *paths, **kw):
        read_paths.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    lag = replication_lag(spark, cfg.source_log_path, bm)
    assert lag["source_hwm"] == (whole["ts_t"], whole["ts_i"], whole["seq"])
    assert not lag["caught_up"]
    assert read_paths == [os.path.join(cfg.source_log_path, "segment=3")]


def test_run_many_parallel_tables(spark, tmpdir_path):
    """≙ per-collection goroutines (oplog.go:176-198): two tables
    replayed concurrently from driver threads, disjoint state."""
    from go_cdc_spark.streaming.replay import run_many

    cfgs = []
    for i, seed in enumerate((41, 97)):
        cfg = PipelineConfig(
            pipeline_id=f"tbl{i}",
            source_log_path=os.path.join(tmpdir_path, f"log{i}"),
            table_root=os.path.join(tmpdir_path, f"table{i}"),
            bookmark_root=os.path.join(tmpdir_path, "bookmarks"),
            n_buckets=4,
        )
        write_segments(spark, LogSpec(n_events=2_000, segment_events=1_000, seed=seed),
                       cfg.source_log_path)
        ParquetLakeTable.create(spark, cfg.table_root, schemas.TABLE_SCHEMA,
                                cfg.key_cols, cfg.n_buckets)
        cfgs.append(cfg)
    out = run_many(spark, cfgs, chunk_segments=1)
    assert set(out) == {"tbl0", "tbl1"}
    for i, cfg in enumerate(cfgs):
        lake = ParquetLakeTable.load(spark, cfg.table_root)
        assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)


def test_full_replay_mor_lake_matches_oracle(spark, tmpdir_path):
    """Same e2e contract through the merge-on-read sink: skewed, with
    duplicates and mid-log schema evolution, plus a kill/resume."""
    cfg = _cfg(tmpdir_path)
    spec = LogSpec(n_events=6_000, segment_events=1_000, hot_pct=35,
                   dup_every=71, evolve_from_segment=4, seed=27)
    write_segments(spark, spec, cfg.source_log_path)
    ParquetLakeTable.create(spark, cfg.table_root, schemas.TABLE_SCHEMA,
                            cfg.key_cols, cfg.n_buckets,
                            mode="mor", compact_every=3)
    part1 = replay_chunked(spark, cfg, max_epochs=3)
    part2 = replay_chunked(spark, cfg)  # resume
    assert len(part1) + len(part2) == 6
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)
    # compaction really interleaved with delta appends
    assert lake.manifest()["mode"] == "mor"


def test_kill_mid_replay_then_resume(spark, tmpdir_path):
    cfg = _cfg(tmpdir_path)
    spec = LogSpec(n_events=4_000, segment_events=1_000, seed=33)
    write_segments(spark, spec, cfg.source_log_path)
    ParquetLakeTable.create(spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets)
    part1 = replay_chunked(spark, cfg, max_epochs=2)
    assert len(part1) == 2
    # resume: must apply ONLY the remaining epochs, no re-apply
    part2 = replay_chunked(spark, cfg)
    assert [r.epoch for r in part2] == [2, 3]
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)
    # a third run is a complete no-op
    assert replay_chunked(spark, cfg) == []


def test_rebucket_racing_an_epoch_fails_its_commit(spark, tmpdir_path):
    """A rebucket that commits after an epoch assigned its buckets but
    before the epoch's MERGE commits must make the epoch lose the CAS —
    never commit it with rows bucketed under the old modulus. A plain
    re-run applies the epoch under the new layout: the final state
    equals the oracle, with that epoch recorded exactly once."""
    import pytest

    cfg = _cfg(tmpdir_path)
    spec = LogSpec(n_events=800, segment_events=400, seed=17)
    write_segments(spark, spec, cfg.source_log_path)
    ParquetLakeTable.create(
        spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets
    )
    victim = f"tail-{cfg.pipeline_id}-1"
    real = ParquetLakeTable.apply_batch
    fired = []

    def rebucket_first(self, *args, **kwargs):
        if kwargs.get("epoch_key") == victim and not fired:
            fired.append(1)
            ParquetLakeTable.load(spark, cfg.table_root).rebucket(2 * cfg.n_buckets)
        return real(self, *args, **kwargs)

    ParquetLakeTable.apply_batch = rebucket_first
    try:
        with pytest.raises(RuntimeError, match="commit conflict"):
            replay_chunked(spark, cfg)
    finally:
        ParquetLakeTable.apply_batch = real
    assert fired
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    mid = lake.manifest()
    assert mid["n_buckets"] == 2 * cfg.n_buckets
    assert victim not in mid["epochs"]

    assert [r.epoch for r in replay_chunked(spark, cfg)] == [1]
    assert lake.manifest()["epochs"].count(victim) == 1
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)


def test_snapshot_then_tail_overlap(spark, tmpdir_path):
    from go_cdc_spark.operators.resolve import lww_resolve

    cfg = _cfg(tmpdir_path)
    spec = LogSpec(n_events=3_000, segment_events=1_000, seed=8)
    write_segments(spark, spec, cfg.source_log_path)
    # the "source collection at dump time" = LWW state of the log prefix;
    # its creation timestamps are the winning events' ts (≙ createdAt,
    # dumper.go:85) so the stamped token is max-createdAt of dumped docs
    log = spark.read.parquet(cfg.source_log_path)
    prefix = log.filter("seq < 1000").drop("segment")
    src = lww_resolve(prefix, schemas.KEY_COLS, schemas.ORDER_COLS,
                      schemas.PAYLOAD_COLS).filter("op != 'd'").drop("op")
    run_pipeline(spark, cfg, source_df=src)
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    # tail replays the full log over the snapshot; LWW makes the overlap
    # idempotent, so final state == oracle over the full log
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)


def test_skewed_hot_repo_matches_oracle(spark, tmpdir_path):
    cfg = _cfg(tmpdir_path, salt_partitions=8)
    spec = LogSpec(n_events=8_000, segment_events=4_000, hot_pct=50, n_repos=10, seed=13)
    write_segments(spark, spec, cfg.source_log_path)
    run_pipeline(spark, cfg)
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)


def test_schema_evolution_mid_log(spark, tmpdir_path):
    cfg = _cfg(tmpdir_path)
    spec = LogSpec(n_events=4_000, segment_events=1_000, evolve_from_segment=2, seed=17)
    write_segments(spark, spec, cfg.source_log_path)
    run_pipeline(spark, cfg)
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    cols = [f.name for f in lake.schema.fields]
    assert "content_sha" in cols
    out = lake.read().toPandas()
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)
    # rows last touched before evolution have null content_sha
    assert out["content_sha"].isna().any() and out["content_sha"].notna().any()


def test_streaming_replay_matches_oracle(spark, tmpdir_path):
    cfg = _cfg(tmpdir_path, pipeline_id="stream1")
    spec = LogSpec(n_events=3_000, segment_events=1_000, dup_every=71, seed=29)
    write_segments(spark, spec, cfg.source_log_path)
    ParquetLakeTable.create(spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets)
    q = replay_streaming(spark, cfg, max_files_per_trigger=2, available_now=True)
    q.awaitTermination(120)
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)
    # every source row is read (and counted) once per micro-batch
    n_rows = spark.read.parquet(cfg.source_log_path).count()
    assert sum(p["numInputRows"] for p in q.recentProgress) == n_rows


def test_streaming_kill_then_resume_from_checkpoint(spark, tmpdir_path):
    """Stop the stream mid-log, restart from the same checkpoint: the
    WAL replays nothing twice (epoch-idempotent commits) and the final
    state still matches the oracle."""
    import time

    cfg = _cfg(tmpdir_path, pipeline_id="stream2")
    spec = LogSpec(n_events=4_000, segment_events=500, seed=31)
    write_segments(spark, spec, cfg.source_log_path)
    ParquetLakeTable.create(spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets)
    q = replay_streaming(spark, cfg, max_files_per_trigger=4, available_now=True)
    deadline = time.time() + 120
    while time.time() < deadline:  # kill after the first batch commits
        lake = ParquetLakeTable.load(spark, cfg.table_root)
        if any(k.startswith("stream-") for k in lake.committed_epochs()):
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    mid_epochs = ParquetLakeTable.load(spark, cfg.table_root).committed_epochs()
    assert any(k.startswith("stream-") for k in mid_epochs)
    q2 = replay_streaming(spark, cfg, max_files_per_trigger=4, available_now=True)
    q2.awaitTermination(120)
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)


def test_json_source_replay_matches_parquet(spark, tmpdir_path):
    """JSON-lines oplog segments (≙ a Mongo change-stream export)
    replay to the identical final state as the parquet log — including
    mid-log additive schema evolution (absent JSON fields parse null
    under the widened fixed schema, same contract as mergeSchema)."""
    import pyspark.sql.functions as F

    pq_cfg = _cfg(tmpdir_path, pipeline_id="pq")
    spec = LogSpec(n_events=4_000, segment_events=1_000, dup_every=101,
                   seed=77, evolve_from_segment=2)
    write_segments(spark, spec, pq_cfg.source_log_path)
    # transcode the parquet segments to JSON-lines segment dirs
    js_log = os.path.join(tmpdir_path, "jslog")
    raw = spark.read.option("mergeSchema", "true").parquet(pq_cfg.source_log_path)
    raw.repartition("segment").sortWithinPartitions("segment").write.partitionBy(
        "segment"
    ).mode("overwrite").json(js_log)
    # JSON is not self-describing: mid-log additive evolution must be
    # declared up front (≙ a Debezium/schema-registry contract) — the
    # fallback schema only covers columns the TABLE already has.
    from pyspark.sql import types as T

    evolved = T.StructType(
        list(schemas.EVENT_SCHEMA.fields)
        + [T.StructField("content_sha", T.StringType(), True)]
    )
    js_cfg = _cfg(
        tmpdir_path, pipeline_id="js", source_format="json",
        source_schema_json=evolved.json(),
    )
    js_cfg.source_log_path = js_log
    js_cfg.table_root = os.path.join(tmpdir_path, "jstable")
    for cfg in (pq_cfg, js_cfg):
        ParquetLakeTable.create(
            spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets
        )
        replay_chunked(spark, cfg, chunk_segments=2)
    fp_pq = _fingerprint(ParquetLakeTable.load(spark, pq_cfg.table_root))
    fp_js = _fingerprint(ParquetLakeTable.load(spark, js_cfg.table_root))
    assert fp_pq == fp_js == _oracle_fp(spark, pq_cfg.source_log_path)
    # evolved column must round-trip through JSON too (not just be null)
    js_lake = ParquetLakeTable.load(spark, js_cfg.table_root)
    assert js_lake.read().filter(F.col("content_sha").isNotNull()).count() > 0


def test_json_source_requires_schema(spark, tmpdir_path):
    """No schema inference at scale: a JSON read without an explicit
    schema must raise, not silently trigger an inference pass."""
    import pytest

    from go_cdc_spark.sources.oplog import Chunk, read_chunk

    with pytest.raises(ValueError, match="schema"):
        read_chunk(spark, tmpdir_path, Chunk(0, [0]), fmt="json")


def test_streaming_json_source_matches_oracle(spark, tmpdir_path):
    """Structured Streaming over JSON-lines segments: same exactly-once
    replay, same final fingerprint as the oracle."""
    cfg = _cfg(tmpdir_path, pipeline_id="sjson", source_format="json")
    pq_log = os.path.join(tmpdir_path, "pqlog")
    spec = LogSpec(n_events=3_000, segment_events=1_000, dup_every=83, seed=37)
    write_segments(spark, spec, pq_log)
    raw = spark.read.parquet(pq_log)
    raw.repartition("segment").sortWithinPartitions("segment").write.partitionBy(
        "segment"
    ).mode("overwrite").json(cfg.source_log_path)
    ParquetLakeTable.create(
        spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets
    )
    q = replay_streaming(spark, cfg, max_files_per_trigger=3, available_now=True)
    q.awaitTermination(120)
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert _fingerprint(lake) == _oracle_fp(spark, pq_log)


def test_csv_source_matches_parquet_replay(spark, tmpdir_path):
    """CSV oplog segments (explicit schema, header-less) replay to the
    same final state as the parquet log — format-agnostic pipeline."""
    pq_cfg = _cfg(tmpdir_path, pipeline_id="pqc")
    spec = LogSpec(n_events=3_000, segment_events=1_000, dup_every=101, seed=5)
    write_segments(spark, spec, pq_cfg.source_log_path)
    csv_log = os.path.join(tmpdir_path, "csvlog")
    raw = spark.read.parquet(pq_cfg.source_log_path)
    cols = [f.name for f in schemas.EVENT_SCHEMA.fields]
    # column order is the read contract for header-less CSV
    raw.select(*cols, "segment").repartition("segment").write.partitionBy(
        "segment"
    ).mode("overwrite").csv(csv_log)
    csv_cfg = _cfg(tmpdir_path, pipeline_id="csv", source_format="csv")
    csv_cfg.source_log_path = csv_log
    csv_cfg.table_root = os.path.join(tmpdir_path, "csvtable")
    for cfg in (pq_cfg, csv_cfg):
        ParquetLakeTable.create(
            spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets
        )
        replay_chunked(spark, cfg, chunk_segments=2)
    fp_pq = _fingerprint(ParquetLakeTable.load(spark, pq_cfg.table_root))
    fp_csv = _fingerprint(ParquetLakeTable.load(spark, csv_cfg.table_root))
    assert fp_pq == fp_csv == _oracle_fp(spark, pq_cfg.source_log_path)


def test_locality_feed_replay_prunes_buckets_and_matches_oracle(spark, tmpdir_path):
    """Shard-ordered feed (LogSpec.locality_n_buckets): segments carry
    disjoint key-bucket windows, so each copy-on-write epoch rewrites
    only its window's buckets — never the whole table — and the arrival
    reorder is invisible to LWW (final state equals the sequential
    oracle over the same events)."""
    from pyspark.sql import functions as F

    from go_cdc_spark.sinks.lake import bucket_expr

    cfg = _cfg(tmpdir_path)
    spec = LogSpec(
        n_events=6_000,
        segment_events=750,  # 8 segments = 2 rounds x 4 windows
        dup_every=53,
        seed=29,
        evolve_from_segment=4,  # round 2 carries content_sha
        locality_n_buckets=cfg.n_buckets,
        locality_rounds=2,
    )
    write_segments(spark, spec, cfg.source_log_path)
    # each segment's keys occupy ONE contiguous 2-bucket window, and
    # round r's segment w covers the same window as round r+1's
    log = spark.read.option("mergeSchema", "true").parquet(cfg.source_log_path)
    seg_buckets = {
        r["segment"]: (r["lo"], r["hi"])
        for r in log.withColumn("b", bucket_expr(list(cfg.key_cols), cfg.n_buckets))
        .groupBy("segment")
        .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        .collect()
    }
    for seg, (lo, hi) in seg_buckets.items():
        w = seg % 4
        assert (lo, hi) == (2 * w, 2 * w + 1), f"segment {seg}: {(lo, hi)}"

    results = run_pipeline(spark, cfg)
    applied = [r for r in results if r.events]
    assert len(applied) == 8
    # the pruning claim: every epoch wrote exactly its 2-bucket window
    assert all(len(r.bucket_counts) <= 2 for r in applied)
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert "content_sha" in lake.read().columns  # evolution under reorder
    assert _fingerprint(lake) == _oracle_fp(spark, cfg.source_log_path)
