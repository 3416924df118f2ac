"""The benchmark workloads and the probes that run between their rounds.

Every workload is a closed loop with one driver client. Set-up writes
the whole generated log to a staging dir the engine does not see. The
run then goes in rounds: a round lands its share of the segments in
the log dir (a rename), the client drains them -- epoch after epoch,
each starting when the previous one has committed (the catch-up case)
-- and then the probes run on the caught-up pipeline: full reads,
single-key lookups and status calls. Spreading every metric's samples
over the rounds, instead of timing one phase after another, keeps a
slow spell of the host from moving all samples of one metric at once.
The rounds depend only on ``--seconds``, so the inputs, and every
count, depend only on the seed and ``--seconds``.

- ``cow_pruned_tail``: copy-on-write table seeded with a base, fed a
  shard-ordered tail (each epoch touches one bucket window, 1/16 of
  the buckets) with hot-repo skew, duplicates and mid-log
  ``content_sha`` evolution. Four rounds of 4 epochs pass every
  window once (the first round is the warm-up), then rounds of 2
  epochs follow. Reads start once every window has its own data dir,
  so every read plans 16 scans.
- ``stateful_stream``: ``materialize_stream_to_lake`` with availableNow,
  one segment per trigger, into a merge-on-read table that compacts
  each bucket on every third batch. Each round is one availableNow
  run over the segments that landed (a scheduled catch-up); the first
  round is the single warm-up batch.

The stream keeps no bookmarks, so on ``stateful_stream`` the status
call (``metrics.replication_lag``) only scans the log.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from cdcbench import check, gen
from cdcbench.trace import median
from go_cdc_spark import bookmark, metrics, oracle, schemas
from go_cdc_spark.config import PipelineConfig
from go_cdc_spark.sinks.lake import ParquetLakeTable, bucket_expr
from go_cdc_spark.sources import oplog
from go_cdc_spark.streaming import replay, stateful

RESUME_REPS = 5
TAIL_BEYOND = 10  # epoch_tail_s: highest percentile with this many epochs beyond it


@dataclass
class Epoch:
    epoch: int
    wall: float
    events: int
    version: int
    applied: bool = True


@dataclass
class Ready:
    """One set-up: staged log, created and seeded table, config."""

    cfg: PipelineConfig
    lake: ParquetLakeTable
    base: object  # pyarrow table of the seed, or None
    segments: list  # pyarrow table per generated segment
    staged: str  # dir the segments wait in until their round lands them
    landed: int = 0  # segments moved to the log so far
    progress: list = field(default_factory=list)  # stream progress, if any

    def land(self, n: int) -> None:
        """Move the next ``n`` segments into the log (a rename each)."""
        for k in range(self.landed, self.landed + n):
            name = f"segment={k}"
            os.rename(
                os.path.join(self.staged, name),
                os.path.join(self.cfg.source_log_path, name),
            )
        self.landed += n

    def events(self):
        """Every event landed so far (base first), as one pandas frame."""
        return gen.events_frame(self.base, self.segments[: self.landed])


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)  # name -> (value, unit)
    notes: dict = field(default_factory=dict)
    ctx: dict = field(default_factory=dict)  # inputs of the per-layer metrics
    attempted: int = 0
    failed: int = 0
    correct: bool = True


class Workload:
    name: str
    mode: str  # "cow" or "mor"
    n_buckets: int
    compact_every: int = 0  # mor only: compact every k-th version
    replay = True  # False: a round is an availableNow stream, not apply_epoch calls
    warmup = 1  # leading epochs excluded from every timing: the first runs cold

    def spec(self, seconds: int) -> gen.FeedSpec:
        raise NotImplementedError

    def rounds(self, seconds: int) -> list[int]:
        """Segments landed by each round."""
        raise NotImplementedError

    def due(self, r: int, ready: Ready) -> tuple[int, int, int]:
        """Timed (reads, lookups, status calls) after round ``r``; the
        first call of each probe is preceded by one untimed call."""
        raise NotImplementedError

    def bucket_of(self, spark, spec) -> np.ndarray | None:
        return None

    def setup(self, spark, seed: int, seconds: int, root: str) -> Ready:
        spec = self.spec(seconds)
        base, segments = gen.generate(spec, seed, self.bucket_of(spark, spec))
        gen.write_log(root, spec, base, segments)
        staged = f"{root}/staged"
        os.rename(f"{root}/log", staged)
        os.makedirs(f"{root}/log")
        cfg = PipelineConfig(
            self.name, f"{root}/log", f"{root}/table", f"{root}/bookmarks",
            n_buckets=self.n_buckets,
        )
        lake = ParquetLakeTable.create(
            spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols,
            cfg.n_buckets, mode=self.mode, compact_every=self.compact_every,
        )
        if base is not None:
            # the base lands as a snapshot epoch through the same public
            # calls as the tail, which also warms their code paths
            bookmarks = bookmark.BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
            events = oplog.read_chunk(spark, f"{root}/base", oplog.Chunk(-1, [0]))
            replay.apply_epoch(events, lake, bookmarks, cfg, -1, "seed", stage="snapshot")
        return Ready(cfg, lake, base, segments, staged)

    def drain(self, spark, ready: Ready, tracer) -> list[Epoch]:
        """Apply every landed segment not applied yet, one per epoch."""
        cfg, lake = ready.cfg, ready.lake
        bookmarks = bookmark.BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
        token = bookmarks.latest_token()
        done = bookmarks.committed_epochs()
        out = []
        for chunk in oplog.plan_chunks(oplog.list_segments(cfg.source_log_path), 1):
            if chunk.epoch in done:
                continue
            if tracer is not None:
                tracer.epoch = chunk.epoch
            t0 = time.perf_counter()
            events = oplog.read_chunk(spark, cfg.source_log_path, chunk, token=token)
            r = replay.apply_epoch(
                events, lake, bookmarks, cfg, chunk.epoch,
                f"tail-{cfg.pipeline_id}-{chunk.epoch}",
            )
            wall = time.perf_counter() - t0
            out.append(Epoch(chunk.epoch, wall, r.events, lake.latest_version(), r.applied))
        if tracer is not None:
            tracer.epoch = None
        return out


class CowPrunedTail(Workload):
    name = "cow_pruned_tail"
    mode = "cow"
    n_buckets = 32
    windows = 16  # each epoch touches one window: 1/16 of the buckets
    # the first round's epochs still run slower as the JVM compiles
    warmup = 4

    def rounds(self, seconds):
        # four rounds of 4 epochs pass every window once, then rounds of
        # 2 epochs follow; every round after the first takes lookups and
        # status calls, so epochs and probes spread over the whole run
        return [4] * (self.windows // 4) + [2] * max(1, round((seconds - 15) / 7.5))

    def due(self, r, ready):
        # reads start once every window has its own data dir, so every
        # read plans 16 scans
        return (int(ready.landed >= self.windows), 2, 2) if r else (0, 0, 0)

    def spec(self, seconds):
        n = sum(self.rounds(seconds))
        return gen.FeedSpec(
            n_epochs=n, events_per_epoch=8000, hot_pct=10, dup_every=97,
            evolve_from=n // 2, windows=self.windows, base_keys=64 * 64 * 4,
        )

    def bucket_of(self, spark, spec):
        keys = spark.createDataFrame(gen.key_frame(spec))
        b = keys.select(bucket_expr(list(schemas.KEY_COLS), self.n_buckets).alias("b"))
        return b.toPandas()["b"].to_numpy()


class StatefulStream(Workload):
    name = "stateful_stream"
    mode = "mor"
    n_buckets = 16
    # every third batch compacts, so each timed round of three batches
    # holds one compaction and ends with one delta outstanding: the
    # probes after every round see the same table layout
    compact_every = 3
    replay = False

    def rounds(self, seconds):
        # the warm-up trigger alone, then timed rounds of 3 triggers
        return [self.warmup] + [3] * max(1, round(seconds / 15))

    def due(self, r, ready):
        # after the warm-up trigger alone the table is not yet representative
        return (2, 3, 4) if r else (0, 0, 0)

    def spec(self, seconds):
        # 1,500-event triggers: state updates still fill about half of
        # addBatch's task slots (stateful.state_update_share), so the
        # per-key cost, not the trigger's fixed cost, leads
        return gen.FeedSpec(
            n_epochs=sum(self.rounds(seconds)), events_per_epoch=1500, hot_pct=30,
            dup_every=97, files_per_segment=1,
        )

    def drain(self, spark, ready, tracer):
        q = stateful.materialize_stream_to_lake(spark, ready.cfg, max_files_per_trigger=1)
        try:
            if not q.awaitTermination(150):
                raise TimeoutError("stateful stream did not drain its backlog")
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stateful stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.numInputRows]
        ready.progress.extend(progress)
        # version = batch id + 1: the table was created at version 0 and
        # every batch commits exactly one version
        return [
            Epoch(
                p.batchId, p.durationMs.get("triggerExecution", 0) / 1000,
                p.numInputRows, p.batchId + 1,
            )
            for p in progress
        ]


WORKLOADS = {w.name: w for w in (CowPrunedTail(), StatefulStream())}


# ---------------------------------------------------------------- helpers


def _written_after(lake: ParquetLakeTable, version: int) -> tuple[int, int, int]:
    """(rows, files, bytes) of parquet written by versions > ``version``,
    read from the footers of the data dirs those versions created."""
    import pyarrow.parquet as pq

    rows = files = size = 0
    data = os.path.join(lake.root, "data")
    for d in os.listdir(data):
        if int(d[1:].split("-", 1)[0]) <= version:
            continue
        for dirpath, _, names in os.walk(os.path.join(data, d)):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    rows += pq.ParquetFile(p).metadata.num_rows
                    files += 1
                    size += os.path.getsize(p)
    return rows, files, size


def tail(walls: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest percentile that still has
    TAIL_BEYOND samples beyond it, never below the median."""
    n = len(walls)
    pct = max(50, int(100 * (n - TAIL_BEYOND) / n)) if n else 50
    xs = sorted(walls)
    return float(np.percentile(xs, pct)), pct


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- a run


def run(name: str, spark, seed: int, seconds: int, work: str, session_s: float, tracer) -> Outcome:
    wl = WORKLOADS[name]
    out = Outcome()

    # One set-up, cold: it carries the first Spark work of the session
    # (class loading, compilation), which every user pays once.
    t0 = time.perf_counter()
    ready = wl.setup(spark, seed, seconds, os.path.join(work, "setup"))
    setup_wall = time.perf_counter() - t0
    cfg, lake = ready.cfg, ready.lake
    out.notes["setup_wall_s"] = round(setup_wall, 4)
    out.notes["session_start_s"] = round(session_s, 4)
    if tracer is not None:
        tracer.install()

    key_cols = list(schemas.KEY_COLS)
    bookmarks = bookmark.BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    pick = np.random.default_rng(seed + 1)
    state = {}  # this round's reference replay and the last read

    def read_probe() -> None:
        state["df"] = lake.read()
        state["live"] = state["df"].select(*key_cols, "content").toPandas()
        out.attempted += 1
        out.failed += int(len(state["live"]) != len(state["ref"]))

    def lookup_probe() -> None:
        ref = state["ref"]
        row = ref.iloc[int(pick.integers(len(ref)))]
        got = lake.lookup([tuple(row[c] for c in key_cols)]).select("content").collect()
        out.attempted += 1
        out.failed += int(len(got) != 1 or got[0]["content"] != row["content"])

    def status_probe() -> None:
        lag = metrics.replication_lag(spark, cfg.source_log_path, bookmarks)
        if wl.replay:  # the stream keeps no bookmarks, so only replay can be caught up
            out.attempted += 1
            out.failed += int(not lag["caught_up"])

    probes = [(read_probe, []), (lookup_probe, []), (status_probe, [])]  # (call, timings)
    epochs = []
    for r, n in enumerate(wl.rounds(seconds)):
        ready.land(n)
        epochs += wl.drain(spark, ready, tracer)
        # the reference replay of everything landed: the rows reads
        # must return and the lookups' expected values
        state["ref"] = oracle.replay_oracle(ready.events())
        due = wl.due(r, ready)
        for (call, times), reps in zip(probes, due):
            if reps and not times:  # the first call is still cold: untimed
                call()
        for i in range(max(due)):
            for (call, times), reps in zip(probes, due):
                if i < reps:
                    times.append(_timed(call))
        if due[0]:  # the oracle gate: this round's last read against the replay
            out.attempted += 1
            out.failed += int(check.fingerprint(state["live"]) != check.fingerprint(state["ref"]))
    read_walls, lookup_walls, status_walls = (t for _, t in probes)

    warm, timed = epochs[wl.warmup - 1], epochs[wl.warmup:]
    out.attempted += len(epochs)
    out.failed += sum(not e.applied for e in epochs)
    walls = [e.wall for e in timed]
    n_events = sum(e.events for e in timed)
    tail_s, tail_pct = tail(walls)
    rows, files, size = _written_after(lake, warm.version)
    m = lake.manifest()

    df, live, ref = state["df"], state["live"], state["ref"]
    scan_relations = df._jdf.queryExecution().executedPlan().toString().count("FileScan")
    resume_walls = [
        _timed(lambda: (bookmarks.latest_token(), bookmarks.committed_epochs()))
        for _ in range(RESUME_REPS)
    ]
    resume_files = 0
    if tracer is not None:
        before = tracer.counts[("bookmark.open", None)]
        bookmarks.latest_token(), bookmarks.committed_epochs()
        resume_files = tracer.counts[("bookmark.open", None)] - before

    out.correct = out.failed == 0
    out.notes.update(
        oracle_fingerprint=check.fingerprint(ref), lake_fingerprint=check.fingerprint(live),
        live_rows=len(live), rounds=wl.rounds(seconds),
        epochs_timed=len(timed), events_timed=n_events,
        epoch_tail_s=round(tail_s, 4), epoch_tail_pct=tail_pct,
        warmup_epoch_s=[round(e.wall, 4) for e in epochs[: wl.warmup]],
        samples={k: [round(x, 4) for x in v] for k, v in (
            ("epoch", walls), ("read", read_walls), ("lookup", lookup_walls),
            ("status", status_walls))},
    )

    out.e2e = {
        "setup_s": (session_s + setup_wall, "s"),
        "events_per_s": (n_events / sum(walls), "1/s"),
        "epoch_p50_s": (median(walls), "s"),
        "read_s": (median(read_walls), "s"),
        "lookup_p50_s": (median(lookup_walls), "s"),
        "status_s": (median(status_walls), "s"),
        "write_amp": (rows / n_events, "rows/event"),
    }
    out.ctx = dict(
        wl=wl, ready=ready, timed=timed, walls=walls, n_events=n_events,
        files=files, size=size, manifest=m, scan_relations=scan_relations,
        resume_walls=resume_walls, resume_files=resume_files,
    )
    return out
