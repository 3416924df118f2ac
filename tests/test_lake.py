"""Lake sink: MERGE semantics, epoch idempotence, bucket pruning,
schema evolution. ≙ dumper/query_generator reference tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_cdc_spark import schemas
from go_cdc_spark.operators.resolve import lww_resolve
from go_cdc_spark.sinks.lake import ParquetLakeTable

K, O, P = schemas.KEY_COLS, schemas.ORDER_COLS, schemas.PAYLOAD_COLS


def _events(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.EVENT_SCHEMA)


def _resolved(spark, rows):
    return lww_resolve(_events(spark, rows), K, O, P)


def _row(op, seq, key, content="x"):
    r, p, c = key
    lang, cont = (None, None) if op == "d" else ("py", content)
    return (op, 1_700_000_000, seq, seq, r, p, c, lang, cont)


def _table(spark, root, n_buckets=8):
    return ParquetLakeTable.create(spark, root, schemas.TABLE_SCHEMA, K, n_buckets)


def test_apply_insert_update_delete(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "v1"),
                                    _row("i", 2, ("r2", "p", "c"), "v2")]), "e1")
    assert {r["content"] for r in t.read().collect()} == {"v1", "v2"}
    t.apply_batch(_resolved(spark, [_row("u", 3, ("r1", "p", "c"), "v1b"),
                                    _row("d", 4, ("r2", "p", "c"))]), "e2")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v1b"


def test_epoch_idempotence(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    b = _resolved(spark, [_row("i", 1, ("r1", "p", "c"), "v1")])
    s1 = t.apply_batch(b, "e1")
    s2 = t.apply_batch(_resolved(spark, [_row("u", 9, ("r1", "p", "c"), "OVERWRITTEN")]), "e1")
    assert s1.applied and not s2.applied
    assert t.read().collect()[0]["content"] == "v1"  # replay was a no-op


def test_bucket_pruning_rewrites_only_affected(spark, tmpdir_path):
    t = _table(spark, tmpdir_path, n_buckets=16)
    big = _resolved(spark, [_row("i", i, (f"r{i}", "p", "c"), f"v{i}") for i in range(100)])
    t.apply_batch(big, "e1")
    m1 = t.manifest()
    t.apply_batch(_resolved(spark, [_row("u", 1000, ("r0", "p", "c"), "new")]), "e2")
    m2 = t.manifest()
    moved = [b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]]
    assert len(moved) == 1  # exactly the touched bucket was rewritten
    untouched = [b for b in m1["buckets"] if b not in moved]
    assert all(m2["buckets"][b] == m1["buckets"][b] for b in untouched)
    assert t.read().filter("repo='r0'").collect()[0]["content"] == "new"
    # read with bucket pruning returns the same rows as a full read
    ib = int(moved[0])
    pruned = t.read(buckets=[ib]).count()
    assert pruned == m2["bucket_counts"][moved[0]]


def test_delete_everything_empties_table(spark, tmpdir_path):
    t = _table(spark, tmpdir_path, n_buckets=4)
    t.apply_batch(_resolved(spark, [_row("i", i, (f"r{i}", "p", "c")) for i in range(10)]), "e1")
    t.apply_batch(_resolved(spark, [_row("d", 100 + i, (f"r{i}", "p", "c")) for i in range(10)]), "e2")
    assert t.read().count() == 0
    # deletes persist as tombstones (order-aware shield against
    # out-of-order resurrection), so the buckets stay populated
    tombs = t.read(internal=True)
    assert tombs.count() == 10 and tombs.filter("op != 'd'").count() == 0


def test_schema_evolution_adds_nullable_column(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "old")]), "e1")
    evolved = _events(spark, [_row("i", 2, ("r2", "p", "c"), "new")]).withColumn(
        "content_sha", F.sha2(F.coalesce("content", F.lit("")), 256)
    )
    t.apply_batch(lww_resolve(evolved, K, O, P + ["content_sha"]), "e2")
    out = {r["repo"]: r.asDict() for r in t.read().collect()}
    assert "content_sha" in out["r1"] and out["r1"]["content_sha"] is None
    assert out["r2"]["content_sha"] is not None
    assert [f.name for f in t.schema.fields][-1] == "content_sha"


def _apply_sequence(t):
    """Three epochs over overlapping keys: inserts, updates+delete, late evolve."""
    t.apply_batch(
        _resolved(spark_ := t.spark, [_row("i", i, (f"r{i % 5}", "p", f"c{i % 3}"), f"v{i}") for i in range(20)]),
        "e1",
    )
    t.apply_batch(
        _resolved(spark_, [_row("u", 100 + i, (f"r{i % 5}", "p", "c0"), f"u{i}") for i in range(10)]
                  + [_row("d", 200, ("r1", "p", "c1"))]),
        "e2",
    )
    t.apply_batch(_resolved(spark_, [_row("u", 300, ("r0", "p", "c0"), "final")]), "e3")


def test_mor_matches_cow_semantics(spark, tmpdir_path):
    cow = ParquetLakeTable.create(
        spark, f"{tmpdir_path}/cow", schemas.TABLE_SCHEMA, K, 8, mode="cow"
    )
    mor = ParquetLakeTable.create(
        spark, f"{tmpdir_path}/mor", schemas.TABLE_SCHEMA, K, 8, mode="mor",
        compact_every=2,  # force compactions mid-sequence
    )
    _apply_sequence(cow)
    _apply_sequence(mor)
    key = lambda r: (r["repo"], r["path"], r["commit"])  # noqa: E731
    got_c = {key(r): r["content"] for r in cow.read().collect()}
    got_m = {key(r): r["content"] for r in mor.read().collect()}
    assert got_c == got_m and len(got_m) > 0
    # tombstones visible in both internal views
    assert (
        mor.read(internal=True).filter("op = 'd'").count()
        == cow.read(internal=True).filter("op = 'd'").count()
    )


def test_mor_appends_deltas_then_compacts(spark, tmpdir_path):
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 4, mode="mor", compact_every=3
    )
    one_key = [_row("u", 1, ("r1", "p", "c"), "v1")]
    t.apply_batch(_resolved(spark, one_key), "e1")
    t.apply_batch(_resolved(spark, [_row("u", 2, ("r1", "p", "c"), "v2")]), "e2")
    m = t.manifest()
    [(b, ds)] = m["deltas"].items()
    assert len(ds) == 2 and b not in m["buckets"]  # two deltas, no base yet
    # third touch hits compact_every ⇒ folded into a base, deltas cleared
    t.apply_batch(_resolved(spark, [_row("u", 3, ("r1", "p", "c"), "v3")]), "e3")
    m = t.manifest()
    assert m["deltas"] == {} and b in m["buckets"]
    assert t.read().collect()[0]["content"] == "v3"
    # reads during the delta phase were already correct (checked above
    # via read()); epoch idempotence unaffected
    s = t.apply_batch(_resolved(spark, [_row("u", 9, ("r1", "p", "c"), "X")]), "e3")
    assert not s.applied and t.read().collect()[0]["content"] == "v3"


def test_mor_schema_evolution(spark, tmpdir_path):
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 4, mode="mor", compact_every=4
    )
    t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "old")]), "e1")
    evolved = _events(spark, [_row("i", 2, ("r2", "p", "c"), "new")]).withColumn(
        "content_sha", F.sha2(F.coalesce("content", F.lit("")), 256)
    )
    t.apply_batch(lww_resolve(evolved, K, O, P + ["content_sha"]), "e2")
    out = {r["repo"]: r.asDict() for r in t.read().collect()}
    assert out["r1"]["content_sha"] is None and out["r2"]["content_sha"] is not None


def test_vacuum_reclaims_superseded_buckets(spark, tmpdir_path):
    t = _table(spark, tmpdir_path, n_buckets=4)
    for e in range(4):  # every epoch rewrites the same key's bucket
        t.apply_batch(_resolved(spark, [_row("u", e + 1, ("r1", "p", "c"), f"v{e}")]), f"e{e}")
    before = t.read().collect()
    removed = t.vacuum(keep_manifests=2)
    assert removed  # superseded copies of the bucket were deleted
    # table state and epoch idempotence survive vacuum
    assert t.read().collect() == before
    s = t.apply_batch(_resolved(spark, [_row("u", 99, ("r1", "p", "c"), "X")]), "e0")
    assert not s.applied
    # only data referenced by a KEPT manifest remains (the union, so
    # every surviving time-travel version stays readable)
    import json

    live_dirs = set()
    for f in t._epoch_manifest_files():
        with open(os.path.join(tmpdir_path, "_commits", f)) as fh:
            live_dirs.update(json.load(fh)["buckets"].values())
    data_root = os.path.join(tmpdir_path, "data")
    assert {f"data/{v}" for v in os.listdir(data_root)} <= live_dirs


def test_crash_retry_overwrites_orphan_data_dir(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    # simulate a crashed attempt: data dir exists, manifest does not
    orphan = os.path.join(tmpdir_path, "data", "v1")
    os.makedirs(os.path.join(orphan, "bucket=0"), exist_ok=True)
    s = t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "v1")]), "e1")
    assert s.applied and t.read().count() == 1


def test_manifest_epochs_bounded(spark, tmpdir_path):
    """10^6-epoch scale guard: the manifest keeps a bounded recent
    window; history spills to chained rollup files; committed_epochs()
    still returns everything."""
    import json

    from go_cdc_spark.sinks.lake import EPOCHS_RECENT_MAX

    t = _table(spark, tmpdir_path, n_buckets=4)
    b = _resolved(spark, [_row("i", 1, ("r1", "p", "c"), "v1")])
    t.apply_batch(b, "e0")
    n = 150
    for i in range(1, n):
        # affected=[] → pure manifest commit, no Spark job per epoch
        t.apply_batch(b, f"e{i}", affected=[])
    m = t.manifest()
    assert len(m["epochs"]) <= EPOCHS_RECENT_MAX
    assert t.committed_epochs() >= {f"e{i}" for i in range(n)}
    # manifest byte size must not grow with epoch count
    latest = os.path.join(tmpdir_path, "_commits", f"v{m['version']:012d}.json")
    assert os.path.getsize(latest) < 64 * 1024
    # recent-window duplicate check still holds
    assert not t.apply_batch(b, f"e{n-1}", affected=[]).applied


def test_vacuum_keeps_kept_manifests_readable(spark, tmpdir_path):
    """vacuum() must never delete data referenced by a manifest it
    keeps: every surviving version stays fully readable (time travel)."""
    import json

    t = _table(spark, tmpdir_path, n_buckets=4)
    for i in range(6):
        t.apply_batch(
            _resolved(spark, [_row("u", 10 + i, ("r1", "p", "c"), f"v{i}")]), f"e{i}"
        )
    t.vacuum(keep_manifests=3)
    files = t._epoch_manifest_files()
    assert len(files) == 3
    for f in files:
        with open(os.path.join(tmpdir_path, "_commits", f)) as fh:
            old = json.load(fh)
        rows = t.read(manifest=old).collect()  # raises if data was vacuumed away
        assert len(rows) == 1


def test_compact_folds_all_deltas(spark, tmpdir_path):
    """Standalone compact() (≙ Iceberg rewrite_data_files): folds every
    delta-carrying bucket into a fresh base, preserves the logical view
    and tombstones, clears deltas, and is idempotent per table version."""
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 4, mode="mor",
        compact_every=100,  # inline compaction never triggers
    )
    t.apply_batch(_resolved(spark, [_row("i", i, (f"r{i}", "p", "c"), f"v{i}") for i in range(8)]), "e1")
    t.apply_batch(_resolved(spark, [_row("u", 100 + i, (f"r{i}", "p", "c"), f"u{i}") for i in range(4)]
                            + [_row("d", 200, ("r7", "p", "c"))]), "e2")
    before = {(r["repo"], r["path"], r["commit"]): r["content"] for r in t.read().collect()}
    m_before = t.manifest()
    assert m_before["deltas"]  # deltas accumulated
    s = t.compact()
    assert s.applied and sorted(s.affected_buckets) == sorted(int(b) for b in m_before["deltas"])
    m = t.manifest()
    assert m["deltas"] == {} and m["delta_counts"] == {}
    after = {(r["repo"], r["path"], r["commit"]): r["content"] for r in t.read().collect()}
    assert after == before
    # tombstone survived the fold (still shields late older events)
    assert t.read(internal=True).filter("op = 'd'").count() == 1
    # all delta-carrying buckets now point at the one new (uuid-named)
    # compaction dir for this version
    compact_dirs = {m["buckets"][str(b)] for b in s.affected_buckets}
    assert len(compact_dirs) == 1
    assert compact_dirs.pop().startswith(f"data/v{m['version']}-c")
    # idempotent: second pass with nothing to fold is a no-op commit
    s2 = t.compact()
    assert not s2.applied and t.manifest()["version"] == m["version"]
    # vacuum can now reclaim the superseded delta dirs
    t.vacuum(keep_manifests=1)
    assert {(r["repo"], r["path"], r["commit"]): r["content"] for r in t.read().collect()} == before


def test_compact_partial_wave(spark, tmpdir_path):
    """compact(buckets=...) compacts only the requested wave — the
    100 TB maintenance pattern is several bounded jobs, not one giant
    shuffle."""
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 8, mode="mor", compact_every=100
    )
    t.apply_batch(_resolved(spark, [_row("i", i, (f"r{i}", "p", "c"), f"v{i}") for i in range(20)]), "e1")
    all_delta = sorted(int(b) for b in t.manifest()["deltas"])
    assert len(all_delta) >= 2
    wave = all_delta[: len(all_delta) // 2]
    s = t.compact(buckets=wave)
    assert s.applied and sorted(s.affected_buckets) == sorted(wave)
    m = t.manifest()
    remaining = sorted(int(b) for b in m["deltas"])
    assert remaining == sorted(set(all_delta) - set(wave))
    assert t.read().count() == 20  # logical view unchanged mid-maintenance


def test_changes_between_classifies_cdf(spark, tmpdir_path):
    """Changelog read (≙ Iceberg incremental scan / Delta CDF):
    insert/update/delete classification, unchanged keys dropped,
    post-image payload, and null-padding across schema evolution."""
    t = _table(spark, tmpdir_path)
    t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "a"),
                                    _row("i", 2, ("r2", "p", "c"), "b"),
                                    _row("i", 3, ("r3", "p", "c"), "c")]), "e1")
    m_old = t.manifest()
    t.apply_batch(_resolved(spark, [_row("u", 10, ("r1", "p", "c"), "a2"),
                                    _row("d", 11, ("r2", "p", "c")),
                                    _row("i", 12, ("r4", "p", "c"), "d")]), "e2")
    ch = {r["repo"]: r.asDict() for r in t.changes_between(m_old, t.manifest()).collect()}
    assert set(ch) == {"r1", "r2", "r4"}  # r3 unchanged => absent
    assert ch["r1"]["change_type"] == "update" and ch["r1"]["content"] == "a2"
    assert ch["r2"]["change_type"] == "delete" and ch["r2"]["content"] is None
    assert ch["r4"]["change_type"] == "insert" and ch["r4"]["content"] == "d"
    # diff across additive schema evolution: old side null-padded
    m_mid = t.manifest()
    evolved = _events(spark, [_row("i", 20, ("r5", "p", "c"), "e"),
                              _row("u", 21, ("r1", "p", "c"), "a3")]).withColumn(
        "content_sha", F.sha2(F.coalesce("content", F.lit("")), 256)
    )
    t.apply_batch(lww_resolve(evolved, K, O, P + ["content_sha"]), "e3")
    ch2 = {r["repo"]: r.asDict() for r in t.changes_between(m_mid, t.manifest()).collect()}
    assert set(ch2) == {"r1", "r5"}
    assert ch2["r5"]["change_type"] == "insert" and ch2["r5"]["content_sha"] is not None
    assert ch2["r1"]["change_type"] == "update" and ch2["r1"]["content"] == "a3"
    # full-span diff old->final collapses to the NET change per key
    net = {r["repo"]: r.asDict() for r in t.changes_between(m_old, t.manifest()).collect()}
    assert net["r1"]["content"] == "a3" and net["r2"]["change_type"] == "delete"


def test_mor_delta_counts_tracked(spark, tmpdir_path):
    """MoR manifests account for delta rows: physical rows =
    bucket_counts (base) + delta_counts (deltas); compaction folds the
    bucket's delta count away."""
    from go_cdc_spark import schemas as S
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    t = ParquetLakeTable.create(
        spark, tmpdir_path, S.TABLE_SCHEMA, K, n_buckets=2, mode="mor", compact_every=4
    )
    t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "a")]), "e0")
    t.apply_batch(_resolved(spark, [_row("i", 2, ("r2", "p", "c"), "b")]), "e1")
    m = t.manifest()
    n_delta = sum(m["delta_counts"].values())
    n_base = sum(m["bucket_counts"].values())
    assert n_delta + n_base == 2  # every physical row accounted for
    assert sum(len(v) for v in m["deltas"].values()) == sum(
        1 for _ in m["delta_counts"]
    ) or n_delta > 0
    # drive one bucket over the compaction budget
    for i in range(3, 9):
        t.apply_batch(
            _resolved(spark, [_row("u", 100 + i, ("r1", "p", "c"), f"v{i}")]), f"e{i}"
        )
    m2 = t.manifest()
    for bs, ds in m2["deltas"].items():
        assert bs in m2["delta_counts"] and m2["delta_counts"][bs] > 0
    for bs in m2["delta_counts"]:
        assert bs in m2["deltas"]  # compacted buckets drop their count


def test_changelog_applies_back_to_state(spark, tmpdir_path):
    """CDF soundness: applying changes_between(m_a, m_b) onto the live
    state at m_a reproduces the live state at m_b exactly — for every
    consecutive epoch pair and for the full span."""
    t = _table(spark, tmpdir_path)
    manifests = []
    t.apply_batch(_resolved(spark, [_row("i", i, (f"r{i % 4}", "p", f"c{i % 2}"), f"v{i}") for i in range(8)]), "e1")
    manifests.append(t.manifest())
    t.apply_batch(_resolved(spark, [_row("u", 20, ("r0", "p", "c0"), "upd"),
                                    _row("d", 21, ("r1", "p", "c1"))]), "e2")
    manifests.append(t.manifest())
    t.apply_batch(_resolved(spark, [_row("i", 30, ("r9", "p", "c"), "new"),
                                    _row("u", 31, ("r0", "p", "c0"), "upd2")]), "e3")
    manifests.append(t.manifest())

    def state(m):
        return {(r["repo"], r["path"], r["commit"]): (r["lang"], r["content"])
                for r in t.read(manifest=m).collect()}

    def apply_changes(s, ch_rows):
        s = dict(s)
        for r in ch_rows:
            k = (r["repo"], r["path"], r["commit"])
            if r["change_type"] == "delete":
                s.pop(k)
            else:
                s[k] = (r["lang"], r["content"])
        return s

    pairs = [(0, 1), (1, 2), (0, 2)]
    for a, b in pairs:
        ch = t.changes_between(manifests[a], manifests[b]).collect()
        assert apply_changes(state(manifests[a]), ch) == state(manifests[b]), (a, b)


def test_change_feed_consumer_cursor(spark, tmpdir_path):
    """Checkpointed change-feed consumption: bootstrap snapshot as
    inserts, at-least-once redelivery until ack, only-net-changes after
    ack, empty when caught up, independent consumers."""
    from go_cdc_spark.sinks.consumer import ChangeFeedConsumer

    t = _table(spark, f"{tmpdir_path}/table")
    off = f"{tmpdir_path}/offsets"
    t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "a"),
                                    _row("i", 2, ("r2", "p", "c"), "b")]), "e1")
    c1 = ChangeFeedConsumer(t, off, "c1")
    ch, v1 = c1.poll()
    rows = {r["repo"]: r["change_type"] for r in ch.collect()}
    assert rows == {"r1": "insert", "r2": "insert"}  # bootstrap snapshot
    # un-acked poll redelivers the same thing (crash between poll/ack)
    ch_again, v_again = c1.poll()
    assert v_again == v1 and ch_again.count() == 2
    c1.ack(v1)
    empty, v_same = c1.poll()
    assert empty.count() == 0 and v_same == v1  # caught up
    # new epochs -> only the net changes since the acked cursor
    t.apply_batch(_resolved(spark, [_row("u", 10, ("r1", "p", "c"), "a2"),
                                    _row("d", 11, ("r2", "p", "c"))]), "e2")
    t.apply_batch(_resolved(spark, [_row("u", 12, ("r1", "p", "c"), "a3")]), "e3")
    ch2, v2 = c1.poll()
    got = {r["repo"]: (r["change_type"], r["content"]) for r in ch2.collect()}
    assert got == {"r1": ("update", "a3"), "r2": ("delete", None)}
    c1.ack(v2)
    # an independent consumer still bootstraps from scratch
    c2 = ChangeFeedConsumer(t, off, "c2")
    ch3, _ = c2.poll()
    assert {r["repo"] for r in ch3.collect()} == {"r1"}  # r2 deleted


def test_concurrent_consumers_never_skip_over_long_replay(spark, tmpdir_path):
    """Two consumers at DIFFERENT cursors over a long replay with
    vacuum pressure: A polls+acks every epoch, B only every third, and
    vacuum runs mid-replay with retention covering both cursors. Each
    consumer reconstructs state purely from its own polled diffs —
    at every ack point the reconstruction must equal the live table at
    that version (never-skip, never-duplicate-net-effect), and both
    must agree with the final live state."""
    import random

    from go_cdc_spark.sinks.consumer import ChangeFeedConsumer

    t = _table(spark, f"{tmpdir_path}/table", n_buckets=4)
    off = f"{tmpdir_path}/offsets"
    ca = ChangeFeedConsumer(t, off, "fast")
    cb = ChangeFeedConsumer(t, off, "lagging")

    def state_at(version):
        return {
            (r["repo"], r["path"], r["commit"]): (r["lang"], r["content"])
            for r in t.read(manifest=t.manifest_at(version)).collect()
        }

    def apply_changes(s, ch_rows):
        for r in ch_rows:
            k = (r["repo"], r["path"], r["commit"])
            if r["change_type"] == "delete":
                s.pop(k)
            else:
                s[k] = (r["lang"], r["content"])
        return s

    sa: dict = {}
    sb: dict = {}
    rng = random.Random(7)
    keys = [(f"r{i % 6}", "p", f"c{i % 3}") for i in range(18)]
    live: set = set()
    seq = 0
    for epoch in range(1, 11):  # 10 epochs of mixed i/u/d churn
        rows = []
        for _ in range(6):
            seq += 1
            k = rng.choice(keys)
            if k in live and rng.random() < 0.3:
                rows.append(_row("d", seq, k))
                live.discard(k)
            else:
                op = "u" if k in live else "i"
                rows.append(_row(op, seq, k, f"v{seq}"))
                live.add(k)
        t.apply_batch(_resolved(spark, rows), f"e{epoch}")
        ch, v = ca.poll()
        sa = apply_changes(sa, ch.collect())
        ca.ack(v)
        assert sa == state_at(v), f"fast consumer diverged at epoch {epoch}"
        if epoch % 3 == 0:
            ch, v = cb.poll()
            sb = apply_changes(sb, ch.collect())
            cb.ack(v)
            assert sb == state_at(v), f"lagging consumer diverged at epoch {epoch}"
        if epoch == 6:
            # vacuum mid-replay; retention covers B's cursor (lag <= 3)
            t.vacuum(keep_manifests=5)
    ch, v = cb.poll()  # B catches up to the final version
    sb = apply_changes(sb, ch.collect())
    cb.ack(v)
    final = state_at(t.latest_version())
    assert sa == sb == final and len(final) > 0


def test_changes_between_plan_single_join(spark, tmpdir_path):
    """The CDF diff must plan as one sort-merge join over the two
    bucket-pruned scans — exactly two exchanges (one per side), never a
    nested loop."""
    from go_cdc_spark.plans.inspect import formatted_plan, shuffle_count

    t = _table(spark, tmpdir_path, n_buckets=4)
    t.apply_batch(_resolved(spark, [_row("i", i, (f"r{i}", "p", "c")) for i in range(10)]), "e1")
    m1 = t.manifest()
    t.apply_batch(_resolved(spark, [_row("u", 20, ("r1", "p", "c"), "y")]), "e2")
    ch = t.changes_between(m1, t.manifest())
    assert shuffle_count(ch) == 2, formatted_plan(ch)
    plan = formatted_plan(ch)
    assert "SortMergeJoin" in plan and "NestedLoop" not in plan


def test_change_feed_consumer_fails_loudly_past_vacuum(spark, tmpdir_path):
    """A consumer whose acked version was expired by vacuum() must get
    a loud FileNotFoundError on poll (≙ Iceberg incremental read past
    snapshot expiry), never a silent wrong diff."""
    import pytest

    from go_cdc_spark.sinks.consumer import ChangeFeedConsumer

    t = _table(spark, f"{tmpdir_path}/table", n_buckets=4)
    t.apply_batch(_resolved(spark, [_row("i", 1, ("r1", "p", "c"), "a")]), "e0")
    c = ChangeFeedConsumer(t, f"{tmpdir_path}/off", "slow")
    _ch, v = c.poll()
    c.ack(v)
    for i in range(1, 7):  # keep rewriting the same key's bucket
        t.apply_batch(_resolved(spark, [_row("u", 10 + i, ("r1", "p", "c"), f"v{i}")]), f"e{i}")
    t.vacuum(keep_manifests=2)  # expires the consumer's base manifest
    with pytest.raises(FileNotFoundError):
        c.poll()


# ---------- manifest order stats + changed_since (data skipping) ----------


def _row_t(op, t, key, content="x"):
    """Row whose ts_t actually varies (the shared _row pins ts_t, which
    would make order-stats pruning untestable)."""
    r, p, c = key
    lang, cont = (None, None) if op == "d" else ("py", content)
    return (op, t, 0, t, r, p, c, lang, cont)


def test_order_stats_recorded_and_bounded(spark, tmpdir_path):
    t = _table(spark, tmpdir_path, n_buckets=4)
    t.apply_batch(
        _resolved(spark, [_row_t("i", 100 + i, (f"r{i}", "p", "c"), "a") for i in range(20)]),
        "e1",
    )
    t.apply_batch(
        _resolved(spark, [_row_t("u", 200 + i, (f"r{i}", "p", "c"), "b") for i in range(5)]),
        "e2",
    )
    m = t.manifest()
    assert m["order_stats"], "stats missing from manifest"
    for d, per_b in m["order_stats"].items():
        assert d in set(m["buckets"].values()), f"stats for unreferenced dir {d}"
        for b, (mn, mx) in per_b.items():
            assert 100 <= mn <= mx <= 299


def test_changed_since_matches_unpruned_filter_cow(spark, tmpdir_path):
    from go_cdc_spark.sinks.lake import prune_by_order_stats

    t = _table(spark, tmpdir_path, n_buckets=8)
    t.apply_batch(
        _resolved(spark, [_row_t("i", 100 + i, (f"r{i}", "p", "c"), "a") for i in range(40)]),
        "e1",
    )
    t.apply_batch(
        _resolved(
            spark,
            [_row_t("u", 200 + i, (f"r{i}", "p", "c"), "b") for i in range(3)]
            + [_row_t("d", 250, ("r5", "p", "c"))],
        ),
        "e2",
    )
    token = (150, 0, 0)
    got = {
        (r["repo"], r["op"], r["content"]) for r in t.changed_since(token).collect()
    }
    full = {
        (r["repo"], r["op"], r["content"])
        for r in t.read(internal=True).collect()
        if (r["ts_t"], r["ts_i"], r["seq"]) > token
    }
    assert got == full
    assert ("r5", "d", None) in got  # tombstone visible to the consumer
    # and the stats actually pruned: buckets untouched by e2 are skipped
    m = t.manifest()
    kept, _ = prune_by_order_stats(m["buckets"], m.get("deltas", {}), m["order_stats"], token)
    assert len(kept) < len(m["buckets"])


def test_changed_since_prunes_old_deltas_mor(spark, tmpdir_path):
    from go_cdc_spark.sinks.lake import ParquetLakeTable, prune_by_order_stats

    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 4, mode="mor"
    )
    for e in range(5):
        t.apply_batch(
            _resolved(
                spark,
                [
                    _row_t("u", 100 * (e + 1) + i, (f"r{i}", "p", "c"), f"v{e}")
                    for i in range(10)
                ],
            ),
            f"e{e}",
        )
    token = (450, 0, 0)  # only epoch 4 (ts 500..509) is newer
    got = {(r["repo"], r["content"]) for r in t.changed_since(token).collect()}
    assert got == {(f"r{i}", "v4") for i in range(10)}
    m = t.manifest()
    _, kept_deltas = prune_by_order_stats(
        m["buckets"], m.get("deltas", {}), m["order_stats"], token
    )
    n_kept = sum(len(ds) for ds in kept_deltas.values())
    n_all = sum(len(ds) for ds in m.get("deltas", {}).values())
    assert n_kept < n_all, "old delta files were not skipped"


def test_prune_by_order_stats_conservative():
    from go_cdc_spark.sinks.lake import prune_by_order_stats

    pointers = {"0": "data/v1", "1": "data/v2"}
    deltas = {"0": ["data/v3", "data/v4"]}
    stats = {
        "data/v1": {"0": [10, 50]},
        "data/v3": {"0": [60, 80]},
        "data/v4": {"0": [90, 120]},
        # data/v2 has no stats -> must be kept
    }
    p, d = prune_by_order_stats(pointers, deltas, stats, (85, 0, 0))
    assert p == {"1": "data/v2"}  # v1 max 50 < 85 pruned; v2 unknown kept
    assert d == {"0": ["data/v4"]}  # v3 max 80 < 85 pruned
    # boundary: max == token[0] must be kept (ts_i/seq may exceed)
    p2, _ = prune_by_order_stats(pointers, {}, stats, (50, 0, 0))
    assert "0" in p2


# ---------- bucket-count evolution (rebucket) ----------


def test_rebucket_preserves_state_and_future_merges(spark, tmpdir_path):
    t = _table(spark, tmpdir_path, n_buckets=4)
    t.apply_batch(
        _resolved(
            spark,
            [_row_t("i", 100 + i, (f"r{i}", "p", "c"), f"v{i}") for i in range(30)]
            + [_row_t("d", 150, ("r3", "p", "c"))],
        ),
        "e1",
    )
    before = {(r["repo"], r["content"]) for r in t.read().collect()}
    m_old = t.manifest()
    stats = t.rebucket(16)
    assert stats.applied and t.n_buckets == 16
    assert {(r["repo"], r["content"]) for r in t.read().collect()} == before
    # tombstone survived the rewrite (late-arriving older event must lose)
    tomb = [r for r in t.read(internal=True).collect() if r["op"] == "d"]
    assert [r["repo"] for r in tomb] == ["r3"]
    t.apply_batch(
        _resolved(spark, [_row_t("u", 300, ("r0", "p", "c"), "post-flip")]), "e2"
    )
    assert dict(
        (r["repo"], r["content"]) for r in t.read().collect()
    )["r0"] == "post-flip"
    # post-flip commit pointed at buckets under the new modulus
    assert all(0 <= int(b) < 16 for b in t.manifest()["buckets"])
    # time travel: the pre-flip manifest still reads the old layout
    assert {
        (r["repo"], r["content"]) for r in t.read(manifest=m_old).collect()
    } == before
    # idempotence: same target count is a no-op commit
    assert not t.rebucket(16).applied


def test_rebucket_mor_folds_deltas(spark, tmpdir_path):
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 4, mode="mor",
        compact_every=1000,
    )
    for e in range(3):
        t.apply_batch(
            _resolved(
                spark,
                [_row_t("u", 100 * (e + 1) + i, (f"r{i}", "p", "c"), f"v{e}") for i in range(12)],
            ),
            f"e{e}",
        )
    assert t.manifest()["deltas"]
    before = {(r["repo"], r["content"]) for r in t.read().collect()}
    assert t.rebucket(8).applied
    m = t.manifest()
    assert m["deltas"] == {} and m["n_buckets"] == 8
    assert {(r["repo"], r["content"]) for r in t.read().collect()} == before


def test_rebucket_is_invisible_to_cdf_and_consumers(spark, tmpdir_path):
    """A layout flip is NOT a logical change: changes_between across
    the rebucket commit must be empty (a consumer replaying the feed
    must not see phantom updates), the diff across (pre-flip →
    post-flip-plus-writes) must carry only the real writes, and a
    ChangeFeedConsumer polling through the flip reconstructs the same
    state as a fresh reader."""
    from go_cdc_spark.sinks.consumer import ChangeFeedConsumer

    t = _table(spark, tmpdir_path, n_buckets=4)
    t.apply_batch(
        _resolved(
            spark,
            [_row_t("i", 100 + i, (f"r{i}", "p", "c"), f"v{i}") for i in range(12)],
        ),
        "e1",
    )
    c = ChangeFeedConsumer(t, os.path.join(tmpdir_path, "_offsets"), "cdc-x")
    state = {}

    def drain():
        diff, v = c.poll()
        for r in diff.collect():
            if r["change_type"] == "delete":
                state.pop(r["repo"], None)
            else:
                state[r["repo"]] = r["content"]
        c.ack(v)

    drain()  # bootstrap
    m_pre = t.manifest()
    assert t.rebucket(16).applied
    m_post = t.manifest()
    assert t.changes_between(m_pre, m_post).count() == 0
    t.apply_batch(
        _resolved(spark, [_row_t("u", 300, ("r0", "p", "c"), "post-flip"),
                          _row_t("d", 301, ("r1", "p", "c"))]),
        "e2",
    )
    span = {r["repo"]: r.asDict()
            for r in t.changes_between(m_pre, t.manifest()).collect()}
    assert set(span) == {"r0", "r1"}
    assert span["r0"]["change_type"] == "update"
    assert span["r1"]["change_type"] == "delete"
    drain()
    drain()
    assert state == {
        (f"r{i}"): ("post-flip" if i == 0 else f"v{i}")
        for i in range(12)
        if i != 1
    }


def test_lookup_point_read_prunes_buckets(spark, tmpdir_path):
    t = _table(spark, tmpdir_path, n_buckets=16)
    t.apply_batch(
        _resolved(
            spark,
            [_row_t("i", 100 + i, (f"r{i}", "p", "c"), f"v{i}") for i in range(40)],
        ),
        "e1",
    )
    t.apply_batch(_resolved(spark, [_row_t("d", 200, ("r1", "p", "c"))]), "e2")
    out = t.lookup([("r1", "p", "c"), ("r7", "p", "c")])
    assert {(r["repo"], r["content"]) for r in out.collect()} == {("r7", "v7")}
    assert len(out.inputFiles()) < len(t.read().inputFiles())
    import pytest

    with pytest.raises(ValueError):
        t.lookup([])


def test_key_buckets_match_bucket_expr_over_columns(spark):
    """The driver-side key hash puts every key in the bucket the writer's
    ``bucket_expr`` gives a row holding it: string, int and long key
    parts (the hash depends on the type), a NULL part, several keys."""
    from pyspark.sql import types as T

    from go_cdc_spark.sinks.lake import bucket_expr, key_buckets

    fields = [
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
    ]
    keys = [
        ("a", 1, 1),
        ("b", -7, 2**40),
        ("", 0, -1),
        (None, 3, 4),
        ("c", None, None),
        ("ünï", 2**31 - 1, -(2**63)),
    ]
    cols = [f.name for f in fields]
    for n in (1, 7, 64):
        want = [
            r["b"]
            for r in spark.createDataFrame(keys, T.StructType(fields))
            .select(bucket_expr(cols, n).alias("b"))
            .collect()
        ]
        assert key_buckets(spark, keys, fields, n) == want
    # the int and long hashes of one value differ, so the cast matters
    as_long = [T.StructField(f.name, T.LongType()) for f in fields[1:]]
    assert key_buckets(spark, [(5, 5)], as_long, 1 << 20) != key_buckets(
        spark, [(5, 5)], fields[1:], 1 << 20
    )


def test_lookup_ships_no_python_rows(spark, tmpdir_path, monkeypatch):
    """``lookup`` hashes its keys without building a DataFrame from
    Python rows."""
    t = _table(spark, tmpdir_path, n_buckets=16)
    t.apply_batch(
        _resolved(spark, [_row("i", i, (f"r{i}", "p", "c"), f"v{i}") for i in range(20)]),
        "e1",
    )

    def no_python_rows(*args, **kwargs):
        raise AssertionError("lookup built a DataFrame from Python rows")

    monkeypatch.setattr(spark, "createDataFrame", no_python_rows)
    got = t.lookup([("r3", "p", "c"), ("r11", "p", "c"), ("r99", "p", "c")])
    assert {(r["repo"], r["content"]) for r in got.collect()} == {
        ("r3", "v3"), ("r11", "v11"),
    }


def test_key_buckets_reject_mistyped_values(spark, tmpdir_path):
    """A key value of the wrong type raises instead of being cast to the
    key type and hashed to some bucket: a string for an int key, an int
    for a string key, a bool, an int out of the key type's range."""
    import pytest
    from pyspark.sql import types as T

    from go_cdc_spark.sinks.lake import key_buckets

    fields = [T.StructField("s", T.StringType()), T.StructField("i", T.IntegerType())]
    for bad in [("a", "5"), (5, 5), ("a", True), ("a", 2**31), ("a", 1.0)]:
        with pytest.raises(ValueError, match="does not fit key column"):
            key_buckets(spark, [("ok", 1), bad], fields, 8)
    t = _table(spark, tmpdir_path, n_buckets=16)
    with pytest.raises(ValueError, match="'repo'"):
        t.lookup([(3, "p", "c")])


def test_compact_clustered_preserves_view_and_future_merges(spark, tmpdir_path):
    """compact(cluster_by=...) is pure layout: logical view, tombstones
    and later MERGEs are identical; the manifest gains per-file bounds
    for the cluster column (several files per bucket, each with a
    [min, max] that JSON round-trips)."""
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 2, mode="mor",
        compact_every=100,
    )
    t.apply_batch(
        _resolved(spark, [_row_t("i", i, (f"r{i}", "p", "c"), f"v{i}") for i in range(64)]),
        "e1",
    )
    t.apply_batch(
        _resolved(spark, [_row_t("u", 100 + i, (f"r{i}", "p", "c"), f"u{i}") for i in range(8)]
                  + [_row_t("d", 200, ("r9", "p", "c"))]),
        "e2",
    )
    before = {(r["repo"], r["path"], r["commit"]): r["content"] for r in t.read().collect()}
    s = t.compact(cluster_by=["ts_t"], cluster_files=4)
    assert s.applied
    after = {(r["repo"], r["path"], r["commit"]): r["content"] for r in t.read().collect()}
    assert after == before
    assert t.read(internal=True).filter("op = 'd'").count() == 1
    m = t.manifest()
    fs = m["file_stats"][m["buckets"]["0"]]  # compact dir is uuid-named
    assert set(fs) == set(m["buckets"])  # every bucket got file bounds
    for per_file in fs.values():
        assert len(per_file) >= 2  # clustering split the bucket
        for cols in per_file.values():
            mn, mx = cols["ts_t"]
            assert 0 <= mn <= mx <= 200
    # bucket layout unchanged: a later MERGE lands normally
    t.apply_batch(
        _resolved(spark, [_row_t("u", 300, ("r0", "p", "c"), "post")]), "e3"
    )
    got = {r["content"] for r in t.read().filter("repo = 'r0'").collect()}
    assert got == {"post"}


def test_read_prune_ranges_matches_filter_and_skips_files(spark, tmpdir_path):
    """File-level value-bounds pruning: the pruned read equals the
    unpruned read + exact filter, and provably touches fewer files."""
    from go_cdc_spark.sinks.lake import prune_files_by_ranges

    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 2, mode="mor",
        compact_every=100,
    )
    t.apply_batch(
        _resolved(spark, [_row_t("i", i, (f"r{i}", "p", "c"), f"v{i}") for i in range(64)]),
        "e1",
    )
    t.compact(cluster_by=["ts_t"], cluster_files=4)
    m = t.manifest()
    lo, hi = 10, 25
    pruned = t.read(prune_ranges={"ts_t": (lo, hi)}, internal=True).filter(
        F.col("ts_t").between(lo, hi)
    )
    full = t.read(internal=True).filter(F.col("ts_t").between(lo, hi))
    assert sorted(r["repo"] for r in pruned.collect()) == sorted(
        r["repo"] for r in full.collect()
    )
    sel = prune_files_by_ranges(
        m["buckets"], m.get("deltas", {}), m["file_stats"], {"ts_t": (lo, hi)}
    )
    n_kept = sum(len(v) for v in sel.values() if v is not None)
    n_total = sum(len(pf) for pf in m["file_stats"][m["buckets"]["0"]].values())
    assert all(v is not None for v in sel.values())
    assert 0 < n_kept < n_total  # actually skipped files
    # unbounded side + half-open ranges stay correct
    open_pruned = t.read(prune_ranges={"ts_t": (40, None)}, internal=True).filter(
        "ts_t >= 40"
    )
    assert open_pruned.count() == t.read(internal=True).filter("ts_t >= 40").count()


def test_one_scan_reads_fragmented_evolved_mor_table(spark, tmpdir_path):
    """read() is ONE parquet scan however many data dirs the manifest
    names. Over 20 live dirs (one delta dir per epoch), a column added
    mid-history, MoR deltas, ``prune_ranges`` and ``changed_after``,
    every read's executed plan holds exactly one FileScan, the full read
    equals the pandas oracle, and the pruned reads equal what the last
    event per key says they must return."""
    import pandas as pd

    from go_cdc_spark.oracle import replay_oracle
    from go_cdc_spark.sinks.lake import bucket_expr

    def file_scans(df):
        return df._jdf.queryExecution().executedPlan().toString().count("FileScan")

    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 4, mode="mor",
        compact_every=100,
    )
    keys = [(f"r{i}", "p", "c") for i in range(40)]
    kdf = spark.createDataFrame(keys, "repo string, path string, commit string")
    bucket = {
        (r["repo"], r["path"], r["commit"]): r["b"]
        for r in kdf.select(*K, bucket_expr(K, 4).alias("b")).collect()
    }
    events = [_row_t("i", 1 + i, k, f"v{i}") + (None,) for i, k in enumerate(keys)]
    t.apply_batch(_resolved(spark, [e[:-1] for e in events]), "e0")
    # buckets 0/1: one clustered base each, with per-file bounds on ts_t
    t.compact(buckets=[0, 1], cluster_by=["ts_t"], cluster_files=4)
    # buckets 2/3: one delta dir per epoch; a delete; column n from e10
    hot = [k for k in keys if bucket[k] >= 2]
    for e in range(1, 19):
        batch = []
        for j, k in enumerate(hot[(2 * e) % len(hot):][:2]):
            op = "d" if e == 9 and j == 0 else "u"
            n = e if e >= 10 else None
            batch.append(_row_t(op, 1000 + 10 * e + j, k, f"e{e}") + (n,))
        events += batch
        df = _events(spark, [b[:-1] for b in batch])
        payload = list(P)
        if e >= 10:
            df = df.withColumn("n", F.lit(e).cast("long"))
            payload.append("n")
        t.apply_batch(lww_resolve(df, K, O, payload), f"e{e}")
    m = t.manifest()
    live_dirs = set(m["buckets"].values()) | {
        d for ds in m["deltas"].values() for d in ds
    }
    assert len(live_dirs) >= 16 and not m["deltas"].get("0")

    full = t.read()
    assert file_scans(full) == 1
    out_cols = [*K, "lang", "content", "n"]
    want = replay_oracle(
        pd.DataFrame(events, columns=["op", *O, *out_cols], dtype=object),
        payload_cols=("lang", "content", "n"),
    )
    assert sorted(tuple(r) for r in full.select(*out_cols).collect()) == [
        tuple(None if pd.isna(v) else v for v in row)
        for row in want[out_cols].itertuples(index=False)
    ]

    last = {}  # key -> its newest event
    for ev in sorted(events, key=lambda ev: ev[1:4]):
        last[ev[4:7]] = ev
    n_files = len(t.read(internal=True).inputFiles())
    lo, hi = 5, 15  # inside the clustered buckets' ts_t range
    pruned = t.read(prune_ranges={"ts_t": (lo, hi)}, internal=True)
    assert file_scans(pruned) == 1
    assert len(pruned.inputFiles()) < n_files
    got = pruned.filter(F.col("ts_t").between(lo, hi)).select(*K).collect()
    assert {tuple(r) for r in got} == {
        k for k, ev in last.items() if lo <= ev[1] <= hi
    }

    token = (1000 + 10 * 12, 0, 0)
    changed = t.read(internal=True, changed_after=token)
    assert file_scans(changed) == 1
    assert len(changed.inputFiles()) < n_files
    got = t.changed_since(token).select(*K, "op").collect()
    assert {tuple(r[:3]): r["op"] for r in got} == {
        k: ev[0] for k, ev in last.items() if ev[1:4] > token
    }


def test_prune_files_by_ranges_conservative():
    """Delta-carrying buckets, missing stats, and missing column bounds
    are never pruned; disjoint bounds are."""
    from go_cdc_spark.sinks.lake import prune_files_by_ranges

    pointers = {"0": "data/v3", "1": "data/v3", "2": "data/v2"}
    deltas = {"1": ["data/v4"]}
    file_stats = {
        "data/v3": {
            "0": {
                "a.parquet": {"x": [0, 9]},
                "b.parquet": {"x": [10, 19]},
                "c.parquet": {},  # no bound for x -> kept
            },
            "1": {"a.parquet": {"x": [0, 9]}},
        }
    }
    sel = prune_files_by_ranges(pointers, deltas, file_stats, {"x": (12, 15)})
    assert sel[("data/v3", "0")] == ["b.parquet", "c.parquet"]
    assert sel[("data/v3", "1")] is None  # has deltas: never pruned
    assert sel[("data/v2", "2")] is None  # no stats recorded: whole dir
    # unbounded sides
    sel2 = prune_files_by_ranges({"0": "data/v3"}, {}, file_stats, {"x": (None, 5)})
    assert sel2[("data/v3", "0")] == ["a.parquet", "c.parquet"]


def test_compact_clustered_string_key_ntile_fallback(spark, tmpdir_path):
    """Non-numeric cluster key takes the ntile-window path; view is
    preserved and string bounds land in the manifest."""
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 2, mode="mor",
        compact_every=100,
    )
    t.apply_batch(
        _resolved(spark, [_row("i", i, (f"r{i}", "p", "c"), f"v{i:03d}") for i in range(40)]),
        "e1",
    )
    before = {(r["repo"], r["path"], r["commit"]): r["content"] for r in t.read().collect()}
    assert t.compact(cluster_by=["content"], cluster_files=4).applied
    after = {(r["repo"], r["path"], r["commit"]): r["content"] for r in t.read().collect()}
    assert after == before
    m = t.manifest()
    fs = m["file_stats"][m["buckets"]["0"]]  # compact dir is uuid-named
    str_bounds = [
        cols["content"]
        for per_file in fs.values()
        for cols in per_file.values()
        if "content" in cols
    ]
    assert str_bounds and all(isinstance(b[0], str) for b in str_bounds)
    pruned = t.read(prune_ranges={"content": ("v000", "v009")}).count()
    full = t.read().filter("content between 'v000' and 'v009'").count()
    assert pruned >= full  # file-granular superset


def test_concurrent_commit_conflict_never_overwrites_winner(spark, tmpdir_path):
    """Two writers racing to commit the same next version: the loser
    must fail loudly and the winner's manifest must survive intact —
    the commit point is an atomic create-if-absent, with no window in
    which the loser can silently replace the winner's manifest."""
    import pytest

    t1 = _table(spark, tmpdir_path)
    t2 = ParquetLakeTable.load(spark, tmpdir_path)
    base = t1.manifest()
    # writer 1 wins version base+1
    t1._write_manifest({**base, "version": base["version"] + 1,
                        "epochs": base["epochs"] + ["w1"]})
    # writer 2, computed against the same base, must conflict — not
    # overwrite
    with pytest.raises(RuntimeError, match="commit conflict"):
        t2._write_manifest({**base, "version": base["version"] + 1,
                            "epochs": base["epochs"] + ["w2"]})
    assert t1.manifest()["epochs"][-1] == "w1"  # winner intact
    assert t1.latest_version() == base["version"] + 1


def _bucket_of(spark, key, n_buckets):
    from go_cdc_spark.sinks.lake import bucket_expr

    df = spark.createDataFrame([key], "repo string, path string, commit string")
    return df.select(bucket_expr(K, n_buckets).alias("b")).collect()[0]["b"]


def test_compact_rebases_over_concurrent_commit_to_other_bucket(
    spark, tmpdir_path
):
    """An ingest commit landing between compact's fold and its manifest
    write only collides on the version number when it touched OTHER
    buckets: compact must validate its target buckets are untouched and
    re-commit the already-written fold on top of the new latest
    manifest — neither commit lost, no refold."""
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 8, mode="mor",
        compact_every=100,
    )
    keys = [(f"r{i}", "p", "c") for i in range(10)]
    ka = keys[0]
    kb = next(
        k for k in keys[1:] if _bucket_of(spark, k, 8) != _bucket_of(spark, ka, 8)
    )
    t.apply_batch(_resolved(spark, [_row("i", 1, ka, "a1")]), "e1")

    t2 = ParquetLakeTable.load(spark, tmpdir_path)
    real = t._write_manifest
    fired = []

    def race_once(m, stats=None):
        if not fired:  # inject a concurrent ingest before compact's commit
            fired.append(1)
            t2.apply_batch(_resolved(spark, [_row("i", 2, kb, "b1")]), "e2")
        return real(m, stats)

    t._write_manifest = race_once
    try:
        s = t.compact()
    finally:
        t._write_manifest = real
    assert s.applied and fired
    out = {r["repo"]: r["content"] for r in t.read().collect()}
    assert out == {ka[0]: "a1", kb[0]: "b1"}  # neither commit lost
    m = t.manifest()
    ba = str(_bucket_of(spark, ka, 8))
    assert ba in m["buckets"]  # fold committed
    assert set(m["epochs"]) >= {"e1", "e2"}
    # the rebased commit still carries the fold's data-skipping stats
    assert ba in m["order_stats"][m["buckets"][ba]]


def test_compact_fails_loudly_when_target_bucket_changed(spark, tmpdir_path):
    """A concurrent commit that touched a COMPACTED bucket makes the
    fold stale — compact must refuse the rebase, and a re-run against
    current state must succeed and include the interleaved event."""
    import pytest

    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 8, mode="mor",
        compact_every=100,
    )
    ka = ("r1", "p", "c")
    t.apply_batch(_resolved(spark, [_row("i", 1, ka, "a1")]), "e1")
    t2 = ParquetLakeTable.load(spark, tmpdir_path)
    real = t._write_manifest
    fired = []

    def race_once(m, stats=None):
        if not fired:  # concurrent update to the SAME key/bucket
            fired.append(1)
            t2.apply_batch(_resolved(spark, [_row("u", 2, ka, "a2")]), "e2")
        return real(m, stats)

    t._write_manifest = race_once
    try:
        with pytest.raises(RuntimeError, match="invalidated"):
            t.compact()
    finally:
        t._write_manifest = real
    # the interleaved ingest won; a fresh compact folds it in
    s = t.compact()
    assert s.applied
    assert {r["content"] for r in t.read().collect()} == {"a2"}
    assert t.manifest()["deltas"] == {}


def test_commit_stats_only_attach_to_the_commit_that_wrote_them(tmpdir_path):
    """Data-skipping stats travel with the commit that wrote their dir:
    after a commit carrying them loses the CAS, a later commit that
    writes no data records no stats for the stale dir; a winning commit
    records them under its dir, and stats of dirs no pointer references
    are dropped. (No Spark needed — the manifest layer is pure
    filesystem.)"""
    import pytest

    t = ParquetLakeTable(None, tmpdir_path)
    os.makedirs(t._commits_dir)
    stale = ("data/vSTALE", {"0": [1, 2]}, {"0": {"f.parquet": {"n": [1, 2]}}})
    # a winner already holds version 1
    with open(os.path.join(t._commits_dir, "v000000000001.json"), "w") as fh:
        fh.write("{}")
    losing = {"version": 1, "buckets": {"0": "data/vSTALE"}, "epochs": []}
    with pytest.raises(RuntimeError, match="commit conflict"):
        t._write_manifest(losing, stale)
    # later data-less commit: stale stats must not appear
    t._write_manifest({"version": 2, "buckets": {"0": "data/vSTALE"}, "epochs": []})
    m2 = t.manifest_at(2)
    assert "data/vSTALE" not in m2["order_stats"]
    assert "data/vSTALE" not in m2["file_stats"]
    # a winning commit records its dir's stats; the pointer move drops
    # the superseded dir's
    t._write_manifest(
        {**m2, "version": 3, "buckets": {"0": "data/vNEW"}},
        ("data/vNEW", {"0": [3, 4]}, {}),
    )
    m3 = t.manifest_at(3)
    assert m3["order_stats"] == {"data/vNEW": {"0": [3, 4]}}
    assert m3["file_stats"] == {}


def test_vacuum_grace_ages_orphans_but_reclaims_superseded_now(
    spark, tmpdir_path
):
    """A dir no manifest ever referenced (crash garbage, or a
    concurrent compact/rebucket mid-write) survives vacuum inside the
    grace window and is reclaimed after it; superseded history (dirs a
    pruned manifest referenced) is reclaimed immediately regardless of
    age."""
    import time

    t = _table(spark, tmpdir_path, n_buckets=4)
    for e in range(4):  # rewrites the same bucket each epoch
        t.apply_batch(
            _resolved(spark, [_row("u", e + 1, ("r1", "p", "c"), f"v{e}")]),
            f"e{e}",
        )
    orphan = os.path.join(tmpdir_path, "data", "v9-cdeadbeef", "bucket=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as fh:
        fh.write("x")
    removed = t.vacuum(keep_manifests=2)
    assert removed  # superseded copies went immediately (seconds old)
    assert all("v9-cdeadbeef" not in r for r in removed)
    assert os.path.isdir(orphan)  # in-flight-shaped dir survived
    # past the grace window it is garbage
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed2 = t.vacuum(keep_manifests=2, orphan_grace_sec=3600)
    assert any("v9-cdeadbeef" in r for r in removed2)
    assert not os.path.isdir(orphan)
    assert t.read().collect()[0]["content"] == "v3"  # table intact


def _old_apply_rows(t, m, batch):
    """The rows the replaced apply_batch body handed to the write,
    rebuilt from public pieces: a bucket due for a new base merges the
    table's FOLDED read (``read(internal=True)``) with its batch rows
    (``merge_resolved``); a MoR delta-only bucket LWW-reduces its batch
    rows alone (``lww_resolve``); the two pieces are unioned."""
    from pyspark.sql import types as T

    from go_cdc_spark.evolve import align_to_schema, union_schema
    from go_cdc_spark.operators.merge import merge_resolved
    from go_cdc_spark.sinks.lake import bucket_expr, internal_schema, logical_schema

    n = m["n_buckets"]
    table = logical_schema(m)
    extra = [f for f in batch.schema.fields if f.name not in {*K, *O, "op"}]
    new_schema = union_schema(
        table, T.StructType([f for f in table.fields if f.name in K] + extra)
    )
    payload = [f.name for f in new_schema.fields if f.name not in K]
    phys = internal_schema(new_schema, K, O)
    b = batch.withColumn("bucket", bucket_expr(K, n))
    for f in new_schema.fields:
        if f.name not in b.columns:
            b = b.withColumn(f.name, F.lit(None).cast(f.dataType))
    affected = sorted(r["bucket"] for r in b.select("bucket").distinct().collect())
    if m["mode"] == "mor":
        due = [
            x for x in affected
            if len(m["deltas"].get(str(x), [])) + 1 >= m["compact_every"]
        ]
    else:
        due = affected
    delta_only = sorted(set(affected) - set(due))
    pieces = []
    if due:
        cur = t.read(buckets=due, manifest=m, internal=True)
        pieces.append(merge_resolved(
            align_to_schema(cur, phys),
            b.filter(F.col("bucket").isin(due)).drop("bucket"), K, O, payload,
        ))
    if delta_only:
        pieces.append(lww_resolve(
            align_to_schema(b.filter(F.col("bucket").isin(delta_only)), phys),
            K, O, payload, validate=False,
        ))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.withColumn("bucket", bucket_expr(K, n))


def _equivalence_batches(spark):
    """Raw event batches: re-deliveries, events older than the stored
    row, deletes (and a late insert behind a tombstone), and a column
    ``n`` that appears from the fourth batch on."""
    keys = [(f"r{i}", "p", "c") for i in range(24)]
    raw = [
        [_row("i", 10 + i, k, f"a{i}") for i, k in enumerate(keys)]
        + [_row("i", 10, keys[0], "a0")],  # re-delivered in its own batch
        [_row("u", 100 + i, k, f"b{i}") for i, k in enumerate(keys[:9])]
        + [_row("u", 5, keys[12], "stale")],  # older than the stored row
        [_row("d", 200 + i, k) for i, k in enumerate(keys[3:7])]
        + [_row("u", 210, keys[20], "c20"), _row("u", 211, keys[20], "c20b")],
        [_row("u", 300 + i, k, f"d{i}") for i, k in enumerate(keys[10:18])]
        + [_row("i", 150, keys[4], "resurrect?")],  # behind the tombstone
        [_row("u", 400 + i, k, f"e{i}") for i, k in enumerate(keys[::3])]
        + [_row("u", 305, keys[15], "d5")],  # re-delivery of batch 3's event
        [_row("i", 500, keys[5], "back"), _row("d", 501, keys[8])]
        + [_row("u", 510 + i, k, f"f{i}") for i, k in enumerate(keys[16:])],
    ]
    out = []
    for e, rows in enumerate(raw):
        df = _events(spark, rows)
        if e >= 3:
            df = df.withColumn("n", (F.col("seq") % 7).cast("long"))
        out.append(df)
    return out


@pytest.mark.parametrize(
    "mode,compact_every", [("mor", 2), ("mor", 3), ("cow", 8)]
)
def test_apply_batch_matches_folded_read_composition(
    spark, tmpdir_path, mode, compact_every
):
    """apply_batch's one reduce over the raw scan of the rewritten
    buckets equals the composition it replaced (folded read, then
    ``merge_resolved``, plus ``lww_resolve`` of the delta-only rows):
    at every version both tables hold the same internal state,
    tombstones included, and the epoch wrote the same rows."""
    new = ParquetLakeTable.create(
        spark, f"{tmpdir_path}/new", schemas.TABLE_SCHEMA, K, 4, mode=mode,
        compact_every=compact_every,
    )
    old = ParquetLakeTable.create(
        spark, f"{tmpdir_path}/old", schemas.TABLE_SCHEMA, K, 4, mode=mode,
        compact_every=compact_every,
    )
    written, current = {}, {}

    def rows(df):
        cols = sorted(df.columns)
        return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)

    def capture(t, name, old_body):
        real = t._write_version_data

        def write(df, m, rel_dir, n_files_hint, **kw):
            if old_body:
                df = _old_apply_rows(t, m, current["batch"])
            written[name] = rows(df)
            return real(df, m, rel_dir, n_files_hint, **kw)

        t._write_version_data = write

    capture(new, "new", old_body=False)
    capture(old, "old", old_body=True)
    compacted = set()
    for e, batch in enumerate(_equivalence_batches(spark)):
        current["batch"] = batch
        before = old.manifest()
        s_new = new.apply_batch(batch, f"e{e}")
        s_old = old.apply_batch(batch, f"e{e}")
        assert written["new"] == written["old"], e
        assert (s_new.version, s_new.affected_buckets, s_new.bucket_counts) == (
            s_old.version, s_old.affected_buckets, s_old.bucket_counts
        )
        assert rows(new.read(internal=True)) == rows(old.read(internal=True)), e
        m_new, m_old = new.manifest(), old.manifest()
        assert {b: len(ds) for b, ds in m_new["deltas"].items()} == {
            b: len(ds) for b, ds in m_old["deltas"].items()
        }
        assert m_new["bucket_counts"] == m_old["bucket_counts"]
        compacted |= {
            b for b in before["deltas"] if b not in m_old["deltas"]
        }
    assert "n" in new.schema.fieldNames()
    if mode == "mor":  # the sequence exercised both kinds of bucket
        assert compacted and m_new["deltas"]


def test_mor_compaction_epoch_one_reduce_and_capped_write_tasks(spark, tmpdir_path):
    """On a MoR epoch where half the touched buckets get a new base and
    half take a delta, the DataFrame handed to the write shuffles once
    (one LWW reduce; the folded-read composition shuffled three times:
    the read-side fold, the merge, the delta-only reduce), and the write
    job runs no more tasks than the cluster has cores although it
    writes 16 buckets."""
    from go_cdc_spark.plans.inspect import shuffle_count
    from go_cdc_spark.sinks.lake import key_buckets

    sc = spark.sparkContext
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 16, mode="mor",
        compact_every=2,
    )
    keys = [(f"r{i}", "p", "c") for i in range(200)]
    key_fields = [schemas.TABLE_SCHEMA[c] for c in K]
    buckets = key_buckets(spark, keys, key_fields, 16)
    low = [k for k, b in zip(keys, buckets) if b < 8]
    t.apply_batch(_events(spark, [_row("i", 1, k) for k in low]), "e0")
    captured = []
    real = t._write_version_data

    def spy(df, *a, **kw):
        captured.append(df)
        return real(df, *a, **kw)

    t._write_version_data = spy
    group = f"lake-write-tasks-{os.path.basename(tmpdir_path)}"
    sc.setJobGroup(group, "compaction epoch")
    try:
        s = t.apply_batch(
            _events(spark, [_row("u", 2, k, "v2") for k in keys]), "e1"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    m = t.manifest()
    assert len(s.affected_buckets) == 16
    assert set(m["buckets"]) == {str(b) for b in range(8)}  # new bases
    assert set(m["deltas"]) == {str(b) for b in range(8, 16)}  # deltas
    assert shuffle_count(captured[0]) == 1

    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    result_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert 0 < result_stage.numTasks <= sc.defaultParallelism < 16
    assert t.read().count() == len(keys)


def test_files_per_bucket_keeps_its_slots_apart(spark, tmpdir_path):
    """With ``files_per_bucket=2`` every bucket gets exactly two files,
    in its ingest delta and in its compacted base, although the write
    runs no more tasks than the cluster has cores: a bucket's two key
    slots have consecutive task ids, so they never share a task (a task
    writes one file per bucket it holds). The slot hash is independent
    of the bucket hash; under the same xxhash64 the slot is a function
    of the bucket and each bucket got one file."""
    n, fpb = 8, 2
    sc = spark.sparkContext
    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, n, mode="mor",
        files_per_bucket=fpb,
    )
    keys = [(f"r{i}", "p", "c") for i in range(400)]
    group = f"lake-fpb-{os.path.basename(tmpdir_path)}"
    sc.setJobGroup(group, "files_per_bucket ingest")
    try:
        s = t.apply_batch(_events(spark, [_row("i", 1, k) for k in keys]), "e0")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(s.affected_buckets) == n and n * fpb > sc.defaultParallelism
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    assert tracker.getStageInfo(max(write_job.stageIds)).numTasks <= sc.defaultParallelism

    def files(dirs):
        return {
            int(b): len([
                f for f in os.listdir(os.path.join(tmpdir_path, d[-1], f"bucket={b}"))
                if f.endswith(".parquet")
            ])
            for b, d in dirs.items()
        }

    assert files(t.manifest()["deltas"]) == {b: fpb for b in range(n)}
    assert t.compact().applied
    m = t.manifest()
    assert not m["deltas"]
    assert files({b: [d] for b, d in m["buckets"].items()}) == {b: fpb for b in range(n)}
    assert t.read().count() == len(keys)
