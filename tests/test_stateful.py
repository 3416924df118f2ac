"""Streaming materializers: the state-store path
(applyInPandasWithState) and the stateless lake sink — cross-micro-batch
state correctness vs the sequential pandas oracle and vs each other,
and tombstone retention against stale re-delivered updates."""

from __future__ import annotations

import glob
import os
import time

import pytest

from go_cdc_spark import schemas
from go_cdc_spark.config import PipelineConfig
from go_cdc_spark.genlog import LogSpec, write_segments
from go_cdc_spark.oracle import replay_oracle, table_fingerprint
from go_cdc_spark.streaming.stateful import materialize_stream, materialized_state


def _cfg(tmpdir_path, pipeline_id="statemat"):
    return PipelineConfig(
        pipeline_id=pipeline_id,
        source_log_path=os.path.join(tmpdir_path, "log"),
        table_root=os.path.join(tmpdir_path, "table"),
        bookmark_root=os.path.join(tmpdir_path, "bookmarks"),
    )


def test_stateful_materialize_matches_oracle(spark, tmpdir_path):
    cfg = _cfg(tmpdir_path)
    spec = LogSpec(n_events=4_000, segment_events=1_000, dup_every=53, seed=7)
    write_segments(spark, spec, cfg.source_log_path)
    q = materialize_stream(spark, cfg, "statemat_t1")
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "state must carry across micro-batches"
    live = materialized_state(spark, "statemat_t1", cfg, ["lang", "content"])
    got = live.select("repo", "path", "commit", "lang", "content").toPandas()
    log = spark.read.parquet(cfg.source_log_path).drop("segment")
    want = replay_oracle(log.toPandas())
    assert table_fingerprint(got) == table_fingerprint(want)


def test_stateful_tombstone_blocks_stale_update(spark, tmpdir_path):
    """A delete in batch 1 must not be resurrected by a stale
    (lower-order) update re-delivered in batch 2 — the state store
    keeps the tombstone and the tuple compare drops the stale row."""
    cfg = _cfg(tmpdir_path, pipeline_id="statemat-tomb")
    log = cfg.source_log_path
    seg0 = [
        ("i", 1, 0, 1, "r1", "p1", "c1", "py", "v1"),
        ("u", 5, 0, 5, "r1", "p1", "c1", "py", "v2"),
        ("d", 10, 0, 10, "r1", "p1", "c1", None, None),
    ]
    seg1 = [
        ("u", 5, 0, 5, "r1", "p1", "c1", "py", "v2"),  # stale re-delivery
        ("i", 3, 0, 3, "r2", "p2", "c2", "go", "w1"),
    ]
    spark.createDataFrame(seg0, schemas.EVENT_SCHEMA).coalesce(1).write.parquet(
        os.path.join(log, "segment=0")
    )
    spark.createDataFrame(seg1, schemas.EVENT_SCHEMA).coalesce(1).write.parquet(
        os.path.join(log, "segment=1")
    )
    # Force segment=1 into the later micro-batch (file source orders by
    # modification time).
    future = time.time() + 60
    for f in glob.glob(os.path.join(log, "segment=1", "*")):
        os.utime(f, (future, future))
    q = materialize_stream(spark, cfg, "statemat_t2")
    q.awaitTermination()
    full = materialized_state(
        spark, "statemat_t2", cfg, ["lang", "content"], include_deletes=True
    ).toPandas()
    by_key = {(r.repo, r.path, r.commit): r for r in full.itertuples()}
    assert by_key[("r1", "p1", "c1")].op == "d"  # tombstone survived
    assert by_key[("r2", "p2", "c2")].content == "w1"
    live = materialized_state(spark, "statemat_t2", cfg, ["lang", "content"])
    assert live.count() == 1  # the deleted key is gone from serving state


def test_stateful_null_order_rows_dropped_not_fatal(spark, tmpdir_path):
    """A NULL order value can't join the tuple compare: the row drops
    (matching batch SQL-ordering tolerance) instead of killing the
    stream; non-integer order schemas are rejected up front."""
    from pyspark.sql import types as T

    import pytest

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schemas.EVENT_SCHEMA.fields]
    )
    cfg = _cfg(tmpdir_path, pipeline_id="statemat-null")
    rows = [
        ("i", 1, 0, 1, "r1", "p1", "c1", "py", "good"),
        ("u", None, 0, 9, "r1", "p1", "c1", "py", "bad"),  # null ts_t
        ("u", None, 0, 9, "r9", "p9", "c9", "py", "only-null"),
    ]
    spark.createDataFrame(rows, nullable).coalesce(1).write.parquet(
        os.path.join(cfg.source_log_path, "segment=0")
    )
    q = materialize_stream(spark, cfg, "statemat_t3", stream_schema=nullable)
    q.awaitTermination()
    live = materialized_state(spark, "statemat_t3", cfg, ["lang", "content"])
    got = {(r["repo"], r["content"]) for r in live.collect()}
    assert got == {("r1", "good")}  # null-order rows contributed nothing
    # non-integer order type rejected before the stream starts
    bad = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("ts_t", T.TimestampType()),
            T.StructField("ts_i", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
        + [T.StructField(c, T.StringType()) for c in schemas.KEY_COLS]
    )
    with pytest.raises(ValueError, match="integer type"):
        materialize_stream(spark, cfg, "statemat_t4", stream_schema=bad)


def _write_paced_segments(spark, log, segs, schema=schemas.EVENT_SCHEMA):
    """One single-file segment per row list, modification times 60 s
    apart, so with maxFilesPerTrigger=1 micro-batch i reads segment i."""
    now = time.time()
    for i, rows in enumerate(segs):
        d = os.path.join(log, f"segment={i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*")):
            os.utime(f, (now + 60 * i, now + 60 * i))


def _write_ttl_segments(spark, log):
    """Three paced segments: tombstone k1, unrelated k2 (the batch
    whose processing fires k1's expired timer), then a STALE k1 update
    re-delivered after eviction."""
    _write_paced_segments(spark, log, [
        [("i", 1, 0, 1, "k1", "p", "c", "py", "v1"),
         ("d", 10, 0, 10, "k1", "p", "c", None, None)],
        [("i", 3, 0, 3, "k2", "p", "c", "py", "w1")],
        [("u", 5, 0, 5, "k1", "p", "c", "py", "stale")],
    ])


def test_tombstone_ttl_evicts_state_and_drops_shield(spark, tmpdir_path):
    """With tombstone_ttl_ms (always-on trigger — TTL + AvailableNow is
    rejected, see below), a quiet tombstone is evicted from the state
    store, so the documented trade-off bites: a stale update
    re-delivered AFTER eviction re-materializes the key. The no-TTL
    default keeps the shield forever (same log, stale row dropped)."""
    from pyspark.sql import functions as F

    cfg = _cfg(os.path.join(tmpdir_path, "ttl"), pipeline_id="statemat-ttl")
    _write_ttl_segments(spark, cfg.source_log_path)
    q = materialize_stream(
        spark, cfg, "statemat_ttl_on", tombstone_ttl_ms=1, available_now=False
    )
    stale = (F.col("repo") == "k1") & (F.col("op") == "u") & (F.col("seq") == 5)

    def _stale_rows():
        try:  # the memory sink registers the table at its first commit
            return spark.table("statemat_ttl_on").filter(stale).count()
        except Exception:
            return -1

    try:
        deadline = time.time() + 420
        while time.time() < deadline and _stale_rows() != 1:
            time.sleep(3)
        # eviction happened: the stale update re-materialized the key
        assert _stale_rows() == 1
    finally:
        q.stop()

    # TTL off (bounded AvailableNow run): tombstone shield holds and the
    # stale update is never emitted
    cfg2 = _cfg(os.path.join(tmpdir_path, "nottl"), pipeline_id="statemat-nottl")
    _write_ttl_segments(spark, cfg2.source_log_path)
    q2 = materialize_stream(spark, cfg2, "statemat_ttl_off")
    q2.awaitTermination()
    em = spark.table("statemat_ttl_off")
    # the stale update is never emitted (it loses to the tombstone,
    # which is re-emitted as the key's winner when the stale row
    # touches it — update-mode semantics), and the fold ends deleted
    assert em.filter(stale).count() == 0
    live = materialized_state(spark, "statemat_ttl_off", cfg2, ["lang", "content"])
    assert live.filter(F.col("repo") == "k1").count() == 0
    assert live.filter(F.col("repo") == "k2").count() == 1


def test_tombstone_ttl_rejects_available_now(spark, tmpdir_path):
    """ProcessingTimeTimeout + Trigger.AvailableNow never terminates
    (the engine cannot prove no future timer will fire) — the
    combination must fail fast instead of wedging the caller."""
    cfg = _cfg(tmpdir_path, pipeline_id="statemat-ttl-an")
    with pytest.raises(ValueError, match="available_now=False"):
        materialize_stream(spark, cfg, "statemat_t5", tombstone_ttl_ms=1000)


def test_dedup_stream_first_seen_wins_across_batches(spark, tmpdir_path):
    """Content duplicated across segments: only the first-arriving
    batch's min-order row is admitted; within a batch the order-tuple
    min wins; a resumed run over the same checkpoint re-admits
    nothing (exactly-once on the fingerprint state)."""
    from pyspark.sql import functions as F, types as T

    from go_cdc_spark.streaming.stateful import dedup_stream

    src = os.path.join(tmpdir_path, "src")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("seg", T.IntegerType()),
        ]
    )
    segs = [
        [(7, "alpha beta", 0), (3, "ALPHA  beta", 0), (4, "unique one", 0)],
        [(1, "alpha beta", 1), (9, "brand new", 1)],  # dup of seg0, lower id
    ]
    now = time.time()
    for i, rows in enumerate(segs):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"seg={i}")
        )
        for f in glob.glob(os.path.join(src, f"seg={i}", "*")):
            os.utime(f, (now + 60 * i, now + 60 * i))
    q = dedup_stream(
        spark, src, os.path.join(tmpdir_path, "ck"), "dedupstream_t1", schema,
        order_cols=["seg", "doc_id"],
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.table("dedupstream_t1").collect()}
    # alpha-beta: seg0 wins over seg1's lower id; within seg0, id 3 < 7
    # (whitespace/case-normalized fingerprints collide)
    assert got == {3, 4, 9}
    # source grows a segment with another dup + a fresh doc; a fresh-
    # checkpoint rebuild is deterministic: old decisions reproduced,
    # the new dup still loses to seg0, the fresh doc admitted
    rows2 = [(0, "alpha beta", 2), (12, "fresh content", 2)]
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        os.path.join(src, "seg=2")
    )
    for f in glob.glob(os.path.join(src, "seg=2", "*")):
        os.utime(f, (now + 120, now + 120))
    q2 = dedup_stream(
        spark, src, os.path.join(tmpdir_path, "ck2"), "dedupstream_t2", schema,
        order_cols=["seg", "doc_id"],
    )
    q2.awaitTermination()
    got2 = {r["doc_id"] for r in spark.table("dedupstream_t2").collect()}
    assert got2 == {3, 4, 9, 12}


def _lake_create(spark, cfg):
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    return ParquetLakeTable.create(
        spark, cfg.table_root, schemas.TABLE_SCHEMA, list(cfg.key_cols), 8
    )


def test_materialize_to_lake_matches_oracle(spark, tmpdir_path):
    """The durable-sink twin: foreachBatch MERGEs each raw micro-batch
    into the lake; final table state must equal the sequential pandas
    oracle (same contract as the memory-sink fold)."""
    from go_cdc_spark.streaming.stateful import materialize_stream_to_lake

    cfg = _cfg(tmpdir_path, pipeline_id="statemat_lake")
    spec = LogSpec(n_events=4_000, segment_events=1_000, dup_every=53, seed=7)
    write_segments(spark, spec, cfg.source_log_path)
    lake = _lake_create(spark, cfg)
    q = materialize_stream_to_lake(spark, cfg)
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "state must carry across micro-batches"
    got = lake.read().select("repo", "path", "commit", "lang", "content").toPandas()
    log = spark.read.parquet(cfg.source_log_path).drop("segment")
    want = replay_oracle(log.toPandas())
    assert table_fingerprint(got) == table_fingerprint(want)


def test_materialize_to_lake_kill_resume_exactly_once(spark, tmpdir_path):
    """Crash AFTER the lake commit of batch 1 but BEFORE the streaming
    commit log records it (the fault window where a naive sink would
    double-apply): restart over the same checkpoint re-offers batch 1,
    apply_batch's epoch-key check makes the re-apply a no-op, and the
    remaining batches drain — final state exactly-once vs the oracle,
    and the lake's epoch audit trail carries each batch id once."""
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.stateful import materialize_stream_to_lake

    cfg = _cfg(tmpdir_path, pipeline_id="statemat_lake_kr")
    spec = LogSpec(n_events=4_000, segment_events=1_000, dup_every=53, seed=11)
    write_segments(spark, spec, cfg.source_log_path)
    lake = _lake_create(spark, cfg)

    def crash_after_commit(batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash between lake commit and stream commit")

    q = materialize_stream_to_lake(spark, cfg, _fault_injector=crash_after_commit)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    # batch 1's lake commit landed even though the stream died
    epochs_mid = ParquetLakeTable.load(spark, cfg.table_root).manifest()["epochs"]
    assert f"statemat-{cfg.pipeline_id}-1" in epochs_mid

    q2 = materialize_stream_to_lake(spark, cfg)  # same checkpoint → resume
    q2.awaitTermination()
    lake2 = ParquetLakeTable.load(spark, cfg.table_root)
    got = lake2.read().select("repo", "path", "commit", "lang", "content").toPandas()
    log = spark.read.parquet(cfg.source_log_path).drop("segment")
    want = replay_oracle(log.toPandas())
    assert table_fingerprint(got) == table_fingerprint(want)
    # each micro-batch committed exactly one epoch — the replayed batch
    # re-offered after the crash was a manifest no-op, so no batch id
    # appears twice in the audit trail (one batch per FILE here:
    # maxFilesPerTrigger=1 and write_segments emits multi-file segments)
    keys = [
        k
        for k in lake2.manifest()["epochs"]
        if k.startswith(f"statemat-{cfg.pipeline_id}-")
    ]
    assert len(keys) == len(set(keys)) >= 2
    assert f"statemat-{cfg.pipeline_id}-1" in keys


def _shuffled_segments(n_segments=4, per_segment=150, seed=3):
    """Events whose arrival order is a shuffle of their order tuples
    (out-of-order across and within segments, so stale updates and
    deletes land after newer events), inserts/updates/deletes over 25
    keys, and every 9th event of a segment re-delivered in the next."""
    import random

    rng = random.Random(seed)
    orders = list(range(1, n_segments * per_segment + 1))
    rng.shuffle(orders)
    events = []
    for t in orders:
        k = rng.randrange(25)
        op = rng.choices(["i", "u", "d"], weights=[3, 4, 2])[0]
        lang, content = (None, None) if op == "d" else ("py", f"v{t}")
        events.append((op, 1_700_000_000 + t // 10, t % 10, t, f"r{k}", "p", "c", lang, content))
    segs = [events[i * per_segment:(i + 1) * per_segment] for i in range(n_segments)]
    for i in range(1, n_segments):
        segs[i] = segs[i] + segs[i - 1][::9]
    return segs


def _rows_written(root, version):
    """Rows in the parquet files the commit of ``version`` wrote."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(root, "data", f"v{version}-*", "*", "*.parquet"))
    )


def test_lake_sink_matches_state_store_path(spark, tmpdir_path):
    """The stateless lake sink against the state-store path it replaced:
    one log with duplicates, out-of-order events and deletes, through
    ``materialize_stream`` + ``materialized_state`` and through
    ``materialize_stream_to_lake``. The final states are equal,
    tombstones included, and each micro-batch writes as many rows to
    the merge-on-read table as the state-store path emitted for it."""
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.stateful import materialize_stream_to_lake

    log = os.path.join(tmpdir_path, "log")
    segs = _shuffled_segments()
    _write_paced_segments(spark, log, segs)

    def cfg(name):
        return PipelineConfig(
            pipeline_id=name,
            source_log_path=log,
            table_root=os.path.join(tmpdir_path, name, "table"),
            bookmark_root=os.path.join(tmpdir_path, name, "bookmarks"),
        )

    cols = ["repo", "path", "commit", "ts_t", "ts_i", "seq", "op", "lang", "content"]

    mem_cfg = cfg("statemat-eq-mem")
    q = materialize_stream(spark, mem_cfg, "statemat_eq")
    q.awaitTermination()
    emitted = [p["sink"]["numOutputRows"] for p in q.recentProgress if p["numInputRows"]]
    want = materialized_state(
        spark, "statemat_eq", mem_cfg, ["lang", "content"], include_deletes=True
    ).select(cols)

    lake_cfg = cfg("statemat-eq-lake")
    lake = ParquetLakeTable.create(
        spark, lake_cfg.table_root, schemas.TABLE_SCHEMA, list(lake_cfg.key_cols), 8,
        mode="mor", compact_every=len(segs) + 1,  # no compaction: a version holds one batch
    )
    q2 = materialize_stream_to_lake(spark, lake_cfg)
    q2.awaitTermination()
    progress = [p for p in q2.recentProgress if p["numInputRows"]]
    got = lake.read(internal=True).select(cols)

    assert sorted(got.collect()) == sorted(want.collect())
    assert {r["op"] for r in got.collect()} == {"i", "u", "d"}
    assert len(emitted) == len(progress) == len(segs)
    assert [_rows_written(lake_cfg.table_root, v) for v in range(1, len(segs) + 1)] == emitted
    # every source row is read (and counted) once per micro-batch
    assert sum(p["numInputRows"] for p in progress) == sum(len(s) for s in segs)


def test_lake_sink_tombstone_survives_compaction(spark, tmpdir_path):
    """A delete followed by a stale update in a later segment, MERGEd
    into a merge-on-read table that compacts every second delta: the
    stale update's batch compacts the deleted key's bucket, and the key
    stays absent before, through and after that compaction."""
    from pyspark.sql import functions as F

    from go_cdc_spark.sinks.lake import ParquetLakeTable, bucket_expr
    from go_cdc_spark.streaming.stateful import materialize_stream_to_lake

    cfg = _cfg(tmpdir_path, pipeline_id="statemat-lake-tomb")
    _write_ttl_segments(spark, cfg.source_log_path)
    lake = ParquetLakeTable.create(
        spark, cfg.table_root, schemas.TABLE_SCHEMA, list(cfg.key_cols), 8,
        mode="mor", compact_every=2,
    )
    q = materialize_stream_to_lake(spark, cfg)
    q.awaitTermination()

    k1 = spark.createDataFrame([("k1", "p", "c")], "repo string, path string, commit string")
    b1 = str(k1.select(bucket_expr(list(cfg.key_cols), 8).alias("b")).first()["b"])
    m = lake.manifest()
    assert m["version"] == 3
    # the stale update's batch folded k1's bucket into a new base
    assert b1 in lake.manifest_at(1)["deltas"] and b1 not in m["deltas"]
    assert m["buckets"][b1] != lake.manifest_at(2)["buckets"].get(b1)
    for v in (1, 2, 3):
        live = lake.read(manifest=lake.manifest_at(v))
        assert live.filter(F.col("repo") == "k1").count() == 0
    tomb = lake.read(internal=True).filter(F.col("repo") == "k1").collect()
    assert [(r["op"], r["seq"]) for r in tomb] == [("d", 10)]
    assert [r["content"] for r in lake.read().collect()] == ["w1"]


def test_lake_sink_never_writes_null_order_rows(spark, tmpdir_path):
    """Rows with a NULL order value are dropped before the MERGE: they
    are never written, and a key whose only event has one never
    appears."""
    from pyspark.sql import types as T

    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.stateful import materialize_stream_to_lake

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schemas.EVENT_SCHEMA.fields]
    )
    cfg = _cfg(tmpdir_path, pipeline_id="statemat-lake-null")
    rows = [
        ("i", 1, 0, 1, "r1", "p1", "c1", "py", "good"),
        ("u", None, 0, 9, "r1", "p1", "c1", "py", "bad"),  # null ts_t
        ("u", 2, None, 9, "r9", "p9", "c9", "py", "only-null"),  # null ts_i
    ]
    _write_paced_segments(spark, cfg.source_log_path, [rows], nullable)
    lake = ParquetLakeTable.create(
        spark, cfg.table_root, schemas.TABLE_SCHEMA, list(cfg.key_cols), 8, mode="mor"
    )
    q = materialize_stream_to_lake(spark, cfg, stream_schema=nullable)
    q.awaitTermination()
    got = [(r["repo"], r["seq"], r["content"]) for r in lake.read(internal=True).collect()]
    assert got == [("r1", 1, "good")]
    assert _rows_written(cfg.table_root, 1) == 1


def test_lake_sink_rejects_schema_without_op_at_start(spark, tmpdir_path):
    """A stream schema that lacks ``op`` (or a key or order column) is
    rejected when the query is started, not inside its first batch."""
    from pyspark.sql import types as T

    from go_cdc_spark.streaming.stateful import materialize_stream_to_lake

    cfg = _cfg(tmpdir_path, pipeline_id="statemat-lake-noop")
    _lake_create(spark, cfg)
    no_op = T.StructType([f for f in schemas.EVENT_SCHEMA.fields if f.name != "op"])
    with pytest.raises(ValueError, match=r"lacks required columns \['op'\]"):
        materialize_stream_to_lake(spark, cfg, stream_schema=no_op)
    assert not os.path.exists(
        os.path.join(cfg.bookmark_root, cfg.pipeline_id, "_materialize_checkpoint")
    )


def test_lake_sink_rejects_unknown_op(spark, tmpdir_path):
    """An event whose op is not i/u/d fails its micro-batch instead of
    being written into the table."""
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.stateful import materialize_stream_to_lake

    cfg = _cfg(tmpdir_path, pipeline_id="statemat-lake-badop")
    _write_paced_segments(spark, cfg.source_log_path, [
        [("i", 1, 0, 1, "r1", "p", "c", "py", "ok"), ("x", 2, 0, 2, "r2", "p", "c", "py", "bad")],
    ])
    _lake_create(spark, cfg)
    q = materialize_stream_to_lake(spark, cfg)
    with pytest.raises(Exception, match="unknown op: x"):
        q.awaitTermination()
    assert ParquetLakeTable.load(spark, cfg.table_root).latest_version() == 0
