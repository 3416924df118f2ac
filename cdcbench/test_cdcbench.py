"""The benchmark's own tests: fingerprint parity, seeded determinism, and
the failure exit outside a full checkout.

    python -m pytest cdcbench -q                      # fast tests
    CDCBENCH_SLOW=1 python -m pytest cdcbench -q      # + same-seed runs

The slow tests run every workload twice in traced mode (a Spark JVM per
run, about a minute each) and compare the counts that must repeat.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cdcbench import check, gen  # noqa: E402
from go_cdc_spark import oracle  # noqa: E402

SLOW = pytest.mark.skipif(
    not os.environ.get("CDCBENCH_SLOW"), reason="set CDCBENCH_SLOW=1 to run"
)
WORKLOADS = ("cow_pruned_tail", "stateful_stream")


def test_fingerprint_matches_oracle_on_small_frame():
    df = pd.DataFrame(
        {
            "repo": ["r2", "r1", "r1", "r3"],
            "path": ["a.py", "b.py", "a.py", "c.py"],
            "commit": ["c1", "c1", "c2", "c0"],
            "content": ["x", None, "zz", "ä"],
            "lang": ["py", None, "go", "rs"],
        }
    )
    assert check.fingerprint(df) == oracle.table_fingerprint(df)
    assert check.fingerprint(df.iloc[::-1]) == oracle.table_fingerprint(df)
    no_content = df.drop(columns=["content"])
    assert check.fingerprint(no_content) == oracle.table_fingerprint(no_content)


def test_fingerprint_matches_oracle_on_generated_replay():
    spec = gen.FeedSpec(n_epochs=4, events_per_epoch=300, n_repos=4, n_paths=8,
                        hot_pct=30, dup_every=7, evolve_from=2, base_keys=64)
    live = oracle.replay_oracle(gen.events_frame(*gen.generate(spec, seed=3)))
    assert len(live) > 50
    assert check.fingerprint(live) == oracle.table_fingerprint(live)


def _digest(tmp_path, name, spec, seed, bucket_of=None):
    root = str(tmp_path / name)
    gen.write_log(root, spec, *gen.generate(spec, seed, bucket_of))
    return gen.log_digest(root)


@pytest.mark.parametrize("windows", [None, 4])
def test_same_seed_same_log_and_other_seed_other_log(tmp_path, windows):
    spec = gen.FeedSpec(n_epochs=6, events_per_epoch=200, n_repos=4, n_paths=8,
                        hot_pct=10, dup_every=11, evolve_from=3, windows=windows,
                        base_keys=32)
    buckets = np.arange(spec.n_keys) % 16 if windows else None
    a = _digest(tmp_path, "a", spec, 5, buckets)
    assert a == _digest(tmp_path, "b", spec, 5, buckets)
    assert a != _digest(tmp_path, "c", spec, 6, buckets)


def test_locality_keeps_each_epoch_in_one_bucket_window():
    spec = gen.FeedSpec(n_epochs=8, events_per_epoch=200, n_repos=4, n_paths=8,
                        hot_pct=10, windows=4)
    buckets = np.arange(spec.n_keys) % 16
    keys = gen.key_frame(spec)
    key_id = {tuple(r): i for i, r in enumerate(keys.itertuples(index=False))}
    _, segments = gen.generate(spec, 1, buckets)
    for j, seg in enumerate(segments):
        df = seg.select(["repo", "path", "commit"]).to_pandas()
        wins = {buckets[key_id[tuple(r)]] * 4 // 16 for r in df.itertuples(index=False)}
        assert wins == {j % 4}


def test_evolution_and_duplicates_land_where_specified():
    spec = gen.FeedSpec(n_epochs=4, events_per_epoch=100, dup_every=10, evolve_from=2)
    _, segments = gen.generate(spec, 1)
    assert ["content_sha" in s.column_names for s in segments] == [False, False, True, True]
    assert segments[0].num_rows == 110  # seq 0, 10, ..., 90 delivered twice


def test_run_fails_without_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and cdcbench/, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "cdcbench"), tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["command"]
    p = subprocess.run(
        cmd + ["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _traced(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    run = json.loads(re.search(r"^# run (.*)$", p.stdout, re.M).group(1))
    return {**{k: v["value"] for k, v in result["metrics"].items()}, **run["e2e"]}


COUNTS = ("write_amp", "replay.jobs_per_epoch", "lake.manifest_reads_per_epoch",
          "lake.live_dirs", "stateful.state_rows")


@SLOW
@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_repeats_counts(workload):
    a, b = _traced(workload, 11), _traced(workload, 11)
    assert {k: a[k] for k in COUNTS} == {k: b[k] for k in COUNTS}
