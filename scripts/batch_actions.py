"""Per-action breakdown of the head micro-batch: which Spark action, at which
``eth_indexer_spark`` call site, costs how much wall time and how many jobs.

Drives the benchmark's ``head`` chain (``chainbench``: preseeded history,
then 1-block appends on the chosen backend, no concurrent reader) and
instruments Spark from outside: every action method of the classic
DataFrame (``pyspark.sql.classic.dataframe.DataFrame`` — in pyspark 4.x
``pyspark.sql.DataFrame`` is not the class the engine's frames are, so
wrapping it catches nothing) and ``DataFrameWriter.parquet`` is wrapped to
run under its own job group, named after the innermost engine frame that
called it. Jobs an action launches from other threads (broadcasts, the
stores' staging pool) inherit that group, so they count too. Jobs left in
the batch's own group, outside any wrapped action, are reported as
``(unattributed)``.

Action times overlap when the store stages tables concurrently, so the
column sums may exceed the batch time.

Usage: python scripts/batch_actions.py [--appends 5] [--seed 3]
       [--backend log|parquet] [--top 40]
"""

from __future__ import annotations

import argparse
import dataclasses
import functools
import os
import shutil
import sys
import threading
import time
import uuid
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG_DIR = os.path.join(REPO, "eth_indexer_spark") + os.sep
DF_ACTIONS = (
    "collect", "count", "toPandas", "toArrow", "take", "first", "head", "tail",
    "show", "isEmpty", "toLocalIterator", "foreach", "foreachPartition",
    "localCheckpoint", "checkpoint",
)
_GROUP = "spark.jobGroup.id"


class ActionLog:
    """Wall time, calls and job count per (call site, action)."""

    def __init__(self, sc):
        self.sc = sc
        self.local = threading.local()
        self.lock = threading.Lock()
        self.groups: dict[str, tuple[str, str]] = {}  # job group -> (site, action)
        self.wall: dict[tuple[str, str], float] = defaultdict(float)
        self.calls: dict[tuple[str, str], int] = defaultdict(int)

    @staticmethod
    def call_site() -> str:
        f = sys._getframe(2)
        while f is not None:
            name = f.f_code.co_filename
            if name.startswith(PKG_DIR):
                return f"{os.path.relpath(name, REPO)}:{f.f_lineno} {f.f_code.co_name}"
            f = f.f_back
        return "(outside eth_indexer_spark)"

    def wrap(self, cls, name: str) -> None:
        orig = getattr(cls, name)
        log = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            if getattr(log.local, "depth", 0):  # nested action: the outer one counts
                return orig(*args, **kwargs)
            key = (log.call_site(), name)
            group = f"act-{uuid.uuid4().hex[:12]}"
            prev = log.sc.getLocalProperty(_GROUP)
            log.sc.setJobGroup(group, f"{key[0]} {name}")
            log.local.depth = 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                log.local.depth = 0
                if prev is None:
                    log.sc.setLocalProperty(_GROUP, None)
                else:
                    log.sc.setJobGroup(prev, "")
                with log.lock:
                    log.groups[group] = key
                    log.wall[key] += dt
                    log.calls[key] += 1

        setattr(cls, name, timed)

    def jobs(self) -> dict[tuple[str, str], int]:
        tracker = self.sc.statusTracker()
        out: dict[tuple[str, str], int] = defaultdict(int)
        for group, key in self.groups.items():
            out[key] += len(tracker.getJobIdsForGroup(group))
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--appends", type=int, default=5, help="measured 1-block appends")
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--backend", choices=("log", "parquet"), default="log")
    ap.add_argument("--top", type=int, default=40, help="rows to print")
    args = ap.parse_args(argv)

    from chainbench import ingest
    from chainbench.run import LOAD_THREADS, _session, _stop
    from chainbench.workloads import SPECS

    work = os.path.join(REPO, ".chainbench-work", f"actions-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        spark = _session(work, LOAD_THREADS["head"])
        sc = spark.sparkContext
        spec = dataclasses.replace(SPECS["head"], reader=False)
        run = ingest.IngestRun(spark, os.path.join(work, "ingest"), args.seed, spec,
                               None, backend=args.backend)
        run.setup()
        run._op("append", 0)  # warm-up append, not measured

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        log = ActionLog(sc)
        for name in DF_ACTIONS:
            log.wrap(DataFrame, name)
        log.wrap(DataFrameWriter, "parquet")

        batch_groups, batch_s = [], []
        for _ in range(args.appends):
            group = f"batch-{uuid.uuid4().hex[:12]}"
            batch_groups.append(group)
            sc.setJobGroup(group, "head append")
            t0 = time.perf_counter()
            run._op("append", 0)
            batch_s.append(time.perf_counter() - t0)
            sc.setLocalProperty(_GROUP, None)
        bad = run.verify() + run.failures

        jobs = log.jobs()
        tracker = sc.statusTracker()
        loose = sum(len(tracker.getJobIdsForGroup(g)) for g in batch_groups)
        n = args.appends
        rows = sorted(log.wall, key=lambda k: -log.wall[k])
        total_jobs = sum(jobs.values()) + loose
        print(f"{n} appends, backend {args.backend}, seed {args.seed}: "
              f"batch {sum(batch_s) / n:.2f} s, {total_jobs / n:.1f} jobs per batch"
              + ("" if not bad else f"  CHECK FAILED: {bad}"))
        print(f"{'s/batch':>8} {'jobs/b':>7} {'calls/b':>7}  action  call site")
        for key in rows[: args.top]:
            print(f"{log.wall[key] / n:8.3f} {jobs[key] / n:7.1f} "
                  f"{log.calls[key] / n:7.1f}  {key[1]}  {key[0]}")
        print(f"{'':>8} {loose / n:7.1f} {'':>7}  (unattributed)")
        return 1 if bad else 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # a benchmark run is still using it


if __name__ == "__main__":
    sys.exit(main())
