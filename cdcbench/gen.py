"""Seeded change-log generator for the benchmark (no Spark).

Writes the oplog the engine replays: numbered parquet ``segment=K``
dirs (one segment = one epoch / one micro-batch) plus an optional
``base`` dir of one insert per key that seeds the table. It carries the
same knobs as ``go_cdc_spark.genlog.LogSpec`` -- hot-repo skew, exact
duplicates, mid-log ``content_sha`` evolution and bucket-window
locality -- but draws them with numpy and writes them with pyarrow, so
set-up costs no Spark job and the same seed gives byte-identical files.

Order stamps ``(ts_t, ts_i, seq)`` grow with segment number, so the
log is in arrival order and every ``seq`` is unique (duplicates repeat
the whole event, ``seq`` included).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = 1_700_000_000
LANGS = np.array(["py", "go", "java", "rs", "ts"], dtype=object)


@dataclass(frozen=True)
class FeedSpec:
    n_epochs: int  # segments in the backlog, one per epoch
    events_per_epoch: int
    n_repos: int = 64
    n_paths: int = 64
    n_commits: int = 4
    insert_pct: int = 45
    update_pct: int = 40  # delete share = 100 - insert - update
    hot_pct: int = 0  # share of events on repo 0's keys
    dup_every: int = 0  # every k-th event is delivered twice
    evolve_from: int | None = None  # segments >= this carry content_sha
    # Bucket-window locality (shard-ordered feed): epoch j draws keys
    # only from lake-bucket window j % windows. Needs ``bucket_of``.
    windows: int | None = None
    files_per_segment: int = 2
    content_pad: int = 48
    base_keys: int = 0  # keys seeded by the base (0 = no base)

    @property
    def n_keys(self) -> int:
        return self.n_repos * self.n_paths * self.n_commits


def key_frame(spec: FeedSpec) -> pd.DataFrame:
    """The key space: one row per (repo, path, commit), index = key id."""
    k = np.arange(spec.n_keys)
    pc = spec.n_paths * spec.n_commits
    return pd.DataFrame(
        {
            "repo": [f"repo_{i:05d}" for i in k // pc],
            "path": [f"src/pkg_{i % 7:02d}/mod_{i:03d}.py" for i in (k // spec.n_commits) % spec.n_paths],
            "commit": [f"{i:040x}" for i in k % spec.n_commits * 7919 + 1],
        }
    )


def _sha(values) -> list[str]:
    return [hashlib.sha256((v or "").encode()).hexdigest() for v in values]


def _events(spec, keys, key_ids, seq, op, lang_ix, pad) -> dict:
    is_del = op == "d"
    repo = keys["repo"].to_numpy()[key_ids]
    path = keys["path"].to_numpy()[key_ids]
    commit = keys["commit"].to_numpy()[key_ids]
    content = np.array(
        [
            None if d else f"content#{r}#{p}#{c}#{s}#{pad}"
            for d, r, p, c, s in zip(is_del, repo, path, commit, seq)
        ],
        dtype=object,
    )
    lang = np.where(is_del, None, LANGS[lang_ix])
    return {
        "op": op,
        "ts_t": BASE_TS + seq // 1000,
        "ts_i": seq % 1000,
        "seq": seq,
        "repo": repo,
        "path": path,
        "commit": commit,
        "lang": lang,
        "content": content,
    }


def generate(
    spec: FeedSpec, seed: int, bucket_of: np.ndarray | None = None
) -> tuple[pa.Table | None, list[pa.Table]]:
    """(base table or None, one table per segment), all in memory."""
    rng = np.random.default_rng(seed)
    keys = key_frame(spec)
    pad = "x" * spec.content_pad
    hot_keys = np.arange(spec.n_paths * spec.n_commits)  # repo 0
    pool_of = None
    if spec.windows:
        if bucket_of is None:
            raise ValueError("windows needs bucket_of (the lake's key buckets)")
        n_buckets = int(bucket_of.max()) + 1
        win = bucket_of * spec.windows // n_buckets
        pool_of = [np.flatnonzero(win == w) for w in range(spec.windows)]

    base = None
    if spec.base_keys:
        ids = np.arange(min(spec.base_keys, spec.n_keys))
        seq = np.arange(len(ids), dtype=np.int64)
        cols = _events(
            spec, keys, ids, seq, np.full(len(ids), "i", dtype=object),
            rng.integers(0, len(LANGS), len(ids)), pad,
        )
        cols["ts_t"] = cols["ts_t"] - 10_000_000  # strictly before the log
        base = pa.table(cols)

    segments = []
    next_seq = 0
    n = spec.events_per_epoch
    for j in range(spec.n_epochs):
        pool = pool_of[j % spec.windows] if pool_of is not None else None
        if pool is not None:
            ids = pool[rng.integers(0, len(pool), n)]
            hot_pool = np.intersect1d(pool, hot_keys)
        else:
            ids = rng.integers(0, spec.n_keys, n)
            hot_pool = hot_keys
        if spec.hot_pct and len(hot_pool):
            hot = rng.integers(0, 100, n) < spec.hot_pct
            ids = np.where(hot, hot_pool[rng.integers(0, len(hot_pool), n)], ids)
        roll = rng.integers(0, 100, n)
        op = np.where(
            roll < spec.insert_pct, "i",
            np.where(roll < spec.insert_pct + spec.update_pct, "u", "d"),
        ).astype(object)
        seq = np.arange(next_seq, next_seq + n, dtype=np.int64)
        next_seq += n
        cols = _events(spec, keys, ids, seq, op, rng.integers(0, len(LANGS), n), pad)
        if spec.dup_every:
            take = np.concatenate([np.arange(n), np.flatnonzero(seq % spec.dup_every == 0)])
            cols = {c: v[take] for c, v in cols.items()}
        if spec.evolve_from is not None and j >= spec.evolve_from:
            cols["content_sha"] = np.array(_sha(cols["content"]), dtype=object)
        segments.append(pa.table(cols))
    return base, segments


def write_log(
    root: str, spec: FeedSpec, base: pa.Table | None, segments: list[pa.Table]
) -> None:
    """``root/base/segment=0/`` and ``root/log/segment=K/part-NNNNN.parquet``.

    File mtimes are pinned one second apart in segment order, so a file
    stream that picks files oldest-first reads them in segment order."""
    if base is not None:
        d = os.path.join(root, "base", "segment=0")
        os.makedirs(d, exist_ok=True)
        pq.write_table(base, os.path.join(d, "part-00000.parquet"))
    fps = max(spec.files_per_segment, 1)
    for k, t in enumerate(segments):
        d = os.path.join(root, "log", f"segment={k}")
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // fps)
        for f in range(fps):
            path = os.path.join(d, f"part-{f:05d}.parquet")
            pq.write_table(t.slice(f * step, step), path)
            ts = BASE_TS + k
            os.utime(path, (ts, ts))


def log_digest(root: str) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def events_frame(base: pa.Table | None, segments: list[pa.Table]) -> pd.DataFrame:
    """Every generated event (base first) as one pandas frame."""
    parts = ([base] if base is not None else []) + list(segments)
    return pa.concat_tables(parts, promote_options="default").to_pandas()
