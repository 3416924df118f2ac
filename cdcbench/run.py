"""Run one benchmark workload and print its result.

    python3 cdcbench/run.py --workload cow_pruned_tail --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it stamp the host and the run, and list
the metrics by name with their units. Everything the run writes goes
under ``.bench_work/`` in the current directory, which is removed at
the end. Exit code 0 means a result was printed; any failure to run
exits non-zero without one. See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170  # a run must end within 180 s


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    # second alarm: the first one could not unwind a stuck call
    signal.signal(signal.SIGALRM, lambda *_: os._exit(3))
    signal.alarm(8)
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def source_stamp() -> dict:
    """Commit when run inside git, and a digest of the engine's sources."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "go_cdc_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "engine_sha256": h.hexdigest()[:16]}


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) CPU time over all CPUs from /proc/stat, if there is one."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (f[7], sum(f)) if len(f) == 8 else None


def host_stamp() -> dict:
    page = os.sysconf("SC_PAGE_SIZE")
    return {
        "nproc": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "free_mem_gb": round(os.sysconf("SC_AVPHYS_PAGES") * page / 2**30, 2),
    }


def build_spark(trace: bool):
    """local[4] session whose every file lives under WORK."""
    from pyspark.sql import SparkSession

    # Python workers (applyInPandasWithState) import go_cdc_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    b = (
        SparkSession.builder.master("local[4]")
        .appName("cdcbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK} -XX:-UsePerfData",
        )
        .config("spark.eventLog.enabled", "true" if trace else "false")
    )
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "go_cdc_spark")):
        print("cdcbench: go_cdc_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from cdcbench import layers, workloads  # needs go_cdc_spark importable

    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    shutil.rmtree(WORK, ignore_errors=True)
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, **source_stamp(), "before": host_stamp()}
    jiffies = cpu_jiffies()
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        spark = build_spark(bool(args.trace))
        session_s = time.perf_counter() - t0
        if args.trace:
            from cdcbench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
        out = workloads.run(
            args.workload, spark, args.seed, args.seconds, WORK, session_s, tracer
        )
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
        spark = None
        metrics = (
            layers.compute(out, tracer, os.path.join(WORK, "eventlog"))
            if args.trace else out.e2e
        )
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    stamp["after"] = host_stamp()
    end = cpu_jiffies()
    if jiffies and end and end[1] > jiffies[1]:
        # share of the CPUs' time the hypervisor gave to other guests
        # during the run: it slows these short Spark jobs by several
        # times that share, so a run made in a spell of it shows here
        stamp["cpu_steal_share"] = round((end[0] - jiffies[0]) / (end[1] - jiffies[1]), 4)
    stamp["e2e"] = {k: v for k, (v, _) in out.e2e.items()}

    print("# run " + json.dumps({**stamp, **out.notes}))
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    if not args.trace:
        print(f"# epoch_tail_s = {out.notes['epoch_tail_s']} s (p{out.notes['epoch_tail_pct']}"
              f" of {out.notes['epochs_timed']} epochs; unbounded, see README)")
    print(f"# failed/attempted = {out.failed}/{out.attempted}"
          f" (error_rate {out.failed / out.attempted:.4g});"
          f" oracle fingerprint {'match' if out.correct else 'MISMATCH'}")
    print(json.dumps({
        "correct": out.correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
