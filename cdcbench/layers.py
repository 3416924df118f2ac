"""Per-layer metrics of a traced run, from spans, the event log and
``StreamingQuery.recentProgress``.

A metric a workload does not exercise reads 0 (for example the
``stateful.*`` metrics on the replay workloads)."""

from __future__ import annotations

import os
import re

from cdcbench.trace import GROUP_PREFIX, event_log_jobs, median

LAYERS = ("oplog", "replay", "lake", "bookmark", "metrics")
_BATCH_RE = re.compile(r"batch = (\d+)")


def _group_span(job: dict) -> int | None:
    g = job["group"]
    return int(g[len(GROUP_PREFIX):]) if g and g.startswith(GROUP_PREFIX) else None


def _job_s(jobs) -> float:
    return sum((j["end"] - j["submit"]) / 1000 for j in jobs if j["end"] is not None)


def compute(out, tracer, event_log_dir: str) -> dict:
    c = out.ctx
    wl, ready, timed = c["wl"], c["ready"], c["timed"]
    timed_ids = [e.epoch for e in timed]
    n_ep, n_events = len(timed), c["n_events"]
    spans = tracer.done()
    jobs, tasks = event_log_jobs(event_log_dir)

    # jobs attributed to every span on the path from their own span up
    subtree: dict[int, list] = {}
    for j in jobs.values():
        sid = _group_span(j)
        if sid is not None:
            for a in tracer.ancestors(sid):
                subtree.setdefault(a, []).append(j)

    def spans_of(name, epoch=None, top=False):
        return [
            s for s in spans
            if s.name == name and (epoch is None or s.epoch == epoch)
            and (not top or s.parent is None)
        ]

    def one(name, epoch):
        got = spans_of(name, epoch)
        return got[0] if got else None

    # ---- per-epoch job sets
    epoch_jobs: dict[int, list] = {e: [] for e in timed_ids}
    if wl.replay:
        for e in timed_ids:
            for name in ("oplog.read_chunk", "replay.apply_epoch"):
                for s in spans_of(name, e):
                    epoch_jobs[e].extend(subtree.get(s.sid, []))
    else:  # stream jobs carry their batch id in the job description
        for j in jobs.values():
            m = _BATCH_RE.search(j.get("desc") or "")
            if m and int(m.group(1)) in epoch_jobs:
                epoch_jobs[int(m.group(1))].append(j)

    def stage_tasks(js):
        return [t for sid in {s for j in js for s in j["stages"]} for t in tasks.get(sid, [])]

    shuffle = spill = 0
    for js in epoch_jobs.values():
        ts = stage_tasks(js)
        shuffle += sum(t["shuffle_w"] for t in ts)
        spill += sum(t["spill"] for t in ts)

    apply_s, merge_s, driver_s, skew, lineage, read_chunk, record = [], [], [], [], [], [], []
    for e in timed_ids:
        ab = one("lake.apply_batch", e)
        if ab is not None:
            mj = subtree.get(ab.sid, [])
            apply_s.append(ab.dur)
            merge_s.append(_job_s(mj))
            driver_s.append(ab.dur - merge_s[-1])
            by_stage = {}
            for sid in {s for j in mj for s in j["stages"]}:
                durs = [t["dur_ms"] for t in tasks.get(sid, [])]
                if durs:
                    by_stage[sid] = durs
            if by_stage:  # the merge stage: most task time in apply_batch
                durs = max(by_stage.values(), key=sum)
                if median(durs) > 0:
                    skew.append(max(durs) / median(durs))
        ae, rc = one("replay.apply_epoch", e), one("oplog.read_chunk", e)
        recs = spans_of("bookmark.record", e)
        if ae is not None and ab is not None:
            lineage.append(ae.dur - ab.dur - sum(s.dur for s in recs))
        if rc is not None:
            read_chunk.append(rc.dur)
        record.extend(s.dur for s in recs)

    log = ready.cfg.source_log_path
    in_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for e in timed_ids
        for d, _, fs in os.walk(os.path.join(log, f"segment={e}"))
        for f in fs
    )

    compact = []
    if wl.mode == "mor":
        lake = ready.lake
        for e in timed:
            if lake.manifest_at(e.version)["buckets"] != lake.manifest_at(e.version - 1)["buckets"]:
                compact.append(e.wall)

    progress = [
        p for p in ready.progress if p.batchId in set(timed_ids) and p.stateOperators
    ]
    ops = [p.stateOperators[0] for p in progress]
    dur = [p.durationMs for p in progress]
    self_s = tracer.self_times()
    status = [_job_s(subtree.get(s.sid, [])) for s in spans_of("metrics.replication_lag", top=True)]

    per = lambda x: x / n_ep if n_ep else 0.0  # noqa: E731
    vals = {
        "oplog.read_chunk_s": (median(read_chunk), "s"),
        "oplog.input_bytes_per_event": (in_bytes / n_events, "bytes/event"),
        "replay.lineage_s": (median(lineage), "s"),
        "replay.jobs_per_epoch": (per(sum(len(js) for js in epoch_jobs.values())), "count"),
        "lake.read_plan_s": (median(s.dur for s in spans_of("lake.read", top=True)), "s"),
        "lake.scan_relations": (c["scan_relations"], "count"),
        "lake.live_dirs": (_live_dirs(c["manifest"]), "count"),
        "lake.apply_batch_s": (median(apply_s), "s"),
        "lake.merge_job_s": (median(merge_s), "s"),
        "lake.apply_driver_s": (median(driver_s), "s"),
        "lake.manifest_reads_per_epoch": (
            per(sum(tracer.counts[("lake.manifest", e)] for e in timed_ids)), "count"),
        "lake.shuffle_bytes_per_event": (shuffle / n_events, "bytes/event"),
        "lake.spill_bytes": (spill, "bytes"),
        "lake.task_skew": (median(skew), "ratio"),
        "lake.files_written_per_epoch": (per(c["files"]), "count"),
        "lake.bytes_written_per_event": (c["size"] / n_events, "bytes/event"),
        "lake.compact_epoch_s": (median(compact), "s"),
        "bookmark.record_s": (median(record), "s"),
        "bookmark.resume_s": (median(c["resume_walls"]), "s"),
        "bookmark.files_read_on_resume": (c["resume_files"], "count"),
        "status.scan_s": (median(status), "s"),
        "stateful.add_batch_s": (median(d.get("addBatch", 0) / 1000 for d in dur), "s"),
        "stateful.trigger_overhead_s": (
            median((d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000 for d in dur), "s"),
        "stateful.state_update_ms": (median(o.allUpdatesTimeMs for o in ops), "ms"),
        "stateful.state_commit_ms": (median(o.commitTimeMs for o in ops), "ms"),
        # task time in state updates over the task time addBatch had room
        # for (one task slot per state partition for the whole addBatch)
        "stateful.state_update_share": (median(
            o.allUpdatesTimeMs / (o.numShufflePartitions * d["addBatch"])
            for o, d in zip(ops, dur) if d.get("addBatch")), "ratio"),
        "stateful.state_rows": (ops[-1].numRowsTotal if ops else 0, "rows"),
        "stateful.state_bytes": (ops[-1].memoryUsedBytes if ops else 0, "bytes"),
        "trace.epoch_p50_s": (median(c["walls"]), "s"),
        "trace.bookkeeping_s": (tracer.bookkeeping_s, "s"),
    }
    for layer in LAYERS:
        vals[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
    return vals


def _live_dirs(m: dict) -> int:
    return len(set(m["buckets"].values()) | {d for ds in m.get("deltas", {}).values() for d in ds})
