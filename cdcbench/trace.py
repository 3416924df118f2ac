"""Traced mode: spans around the engine's public calls, from outside.

``Tracer.install`` wraps public functions of ``sources.oplog``,
``streaming.replay``, ``sinks.lake``, ``bookmark`` and ``metrics``
with spans (name, start, end, parent, epoch). Every span that may run
Spark jobs tags them with its own job group, so the jobs in Spark's
event log join back to the span that submitted them. Spans stay in
memory; ``event_log_jobs`` reads the event log after the session
stops. No engine file is changed.
"""

from __future__ import annotations

import builtins
import contextlib
import json
import os
import re
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "cdcbench-"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    epoch: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: Counter = Counter()  # (name, epoch) -> calls
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # ---- context ----
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def epoch(self) -> int | None:
        return getattr(self._local, "epoch", None)

    @epoch.setter
    def epoch(self, value: int | None) -> None:
        self._local.epoch = value

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)  # reserve the id
        prev = None
        if jobs:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        with self._lock:
            self.bookkeeping_s += start - t0
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if jobs:
                self.sc.setLocalProperty(GROUP_KEY, prev)
            self.spans[sid] = Span(sid, name, start, end, parent, self.epoch)
            with self._lock:
                self.bookkeeping_s += time.perf_counter() - end

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[(name, self.epoch)] += 1

    # ---- wrapping ----
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, epoch_from_key=False):
        tracer = self

        def wrapper(fn):
            def traced(*args, **kwargs):
                restore = False
                if epoch_from_key and tracer.epoch is None:
                    # stream-thread apply_batch: epoch = trailing batch id
                    m = re.search(r"(\d+)$", str(kwargs.get("epoch_key", "")))
                    tracer.epoch, restore = (int(m.group(1)) if m else None), True
                try:
                    with tracer.span(name, jobs=jobs):
                        return fn(*args, **kwargs)
                finally:
                    if restore:
                        tracer.epoch = None

            return traced

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from go_cdc_spark import bookmark, metrics
        from go_cdc_spark.bookmark import BookmarkStore
        from go_cdc_spark.sinks.lake import ParquetLakeTable
        from go_cdc_spark.sources import oplog
        from go_cdc_spark.streaming import replay

        self.wrap(oplog, "read_chunk", "oplog.read_chunk")
        self.wrap(replay, "apply_epoch", "replay.apply_epoch")
        self.wrap(ParquetLakeTable, "apply_batch", "lake.apply_batch", epoch_from_key=True)
        self.wrap(ParquetLakeTable, "read", "lake.read")
        self.wrap(ParquetLakeTable, "lookup", "lake.lookup")
        self.wrap(BookmarkStore, "record", "bookmark.record", jobs=False)
        self.wrap(BookmarkStore, "latest_token", "bookmark.latest_token", jobs=False)
        self.wrap(BookmarkStore, "committed_epochs", "bookmark.committed_epochs", jobs=False)
        self.wrap(metrics, "replication_lag", "metrics.replication_lag")
        tracer = self

        def counting(fn, name):
            def counted(*args, **kwargs):
                tracer.count(name)
                return fn(*args, **kwargs)

            return counted

        self._patch(ParquetLakeTable, "manifest", lambda fn: counting(fn, "lake.manifest"))
        # files the bookmark module opens: a module-level ``open`` shadows
        # the builtin for that module only
        bookmark.open = counting(builtins.open, "bookmark.open")
        self._undo.append((bookmark, "open", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # ---- analysis ----
    def done(self) -> list[Span]:
        return [s for s in self.spans if s is not None]

    def self_times(self) -> dict[str, float]:
        """Self time per layer (span time minus its child spans), summed."""
        spans = self.done()
        child: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in spans:
            layer = s.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + s.dur - child.get(s.sid, 0.0)
        return out

    def ancestors(self, sid: int) -> list[int]:
        out = []
        by_id = self.spans
        while sid is not None:
            out.append(sid)
            s = by_id[sid]
            sid = s.parent if s is not None else None
        return out


def event_log_jobs(log_dir: str) -> tuple[dict, dict]:
    """(jobs, tasks) from the one event log in ``log_dir``.

    jobs: job id -> {"group", "desc", "submit", "end", "stages"} (ms times);
    tasks: stage id -> list of task dicts (dur_ms, shuffle_w, spill)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get(GROUP_KEY),
                    "desc": props.get("spark.job.description"),
                    "submit": ev["Submission Time"],
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                        "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return jobs, tasks


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
