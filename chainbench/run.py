#!/usr/bin/env python3
"""Indexer benchmark: one command per workload, one JSON result per run.

    python3 chainbench/run.py --workload head --seed 1 --seconds 25 --trace 0

Run from the repository root. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md). A run
whose outputs disagree with the expected ledger or oracle prints its result
and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # get_spark's 24g default exceeds a 15 GB host
# Spark task slots: one per load thread, not one per CPU. On a VM whose
# share of its CPUs swings with its neighbours, local[nproc] times how many
# CPUs the host lends that minute (see README.md).
LOAD_THREADS = {"head": 2, "reorg": 1, "sync": 1, "analytics": 1}


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_probe() -> float:
    """Fixed pure-Python work, median of three: host drift, not program."""
    out = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i % 7
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _jvm_stats(spark) -> tuple[float, float]:
    """(GC seconds so far, peak heap MB) from the JVM management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    heap = sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if str(p.getType().toString()) == "Heap memory"
    )
    return gc_ms / 1000.0, heap / 2**20


def _session(work: str, slots: int):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(min(slots, len(os.sched_getaffinity(0))))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from eth_indexer_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    return get_spark("chainbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]), extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--backend", choices=("log", "parquet"), default="log",
                    help="store backend of the ingest workloads (only 'log' is gated)")
    ap.add_argument("--traffic", action="append", default=[], metavar="FIELD=VALUE",
                    help="override a chain.Traffic field of an ingest workload, ad hoc "
                         "(e.g. n_subs=100); repeatable")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, REPO)
    work = os.path.join(REPO, ".chainbench-work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        spark = _session(work, LOAD_THREADS[args.workload])
        result = WORKLOADS[args.workload](spark, work, args, t_start)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


# -- ingest workloads -------------------------------------------------------


def _ingest(spec_name: str):
    def run(spark, work, args, t_start):
        from chainbench import ingest, trace
        from chainbench.workloads import SPECS

        tracer = trace.Tracer(spark) if args.trace else None
        probe_before = _cpu_probe() if tracer else 0.0
        spec = _with_traffic(SPECS[spec_name], args.traffic)
        r = ingest.IngestRun(spark, os.path.join(work, "ingest"), args.seed, spec,
                             tracer, backend=args.backend)
        with trace.reorg_spans(tracer):
            r.setup()
            setup_s = time.perf_counter() - t_start
            elapsed = r.run(args.seconds)
        bad = r.verify()
        for msg in r.failures + bad:
            print(f"chainbench: {msg}", file=sys.stderr)
        peak = _peak_rss_mb(spark)
        appends = [dt for kind, dt, _ in r.commits if kind in ("append", "sync")]
        reads = [dt for _, dt in r.reads]
        attempted = len(r.commits) + len(r.reads)
        failed = len([f for f in r.failures if not f.startswith("read ")]) + r.read_failures
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (peak, "MB"),
                "op_s.p50": (_median(appends), "s"),
                "read_s.p50": (_median(reads), "s"),
                "reads_per_s": (len(reads) / elapsed, "1/s"),
            }
        else:
            from chainbench.workloads import GATED, ingest_layers

            metrics = ingest_layers(r, tracer, elapsed, adhoc=spec_name not in GATED)
            metrics.update(_host_layers(spark, probe_before))
        return _result(not bad and not failed, attempted, failed, metrics)

    return run


def _with_traffic(spec, overrides: list[str]):
    """``spec`` with ``--traffic FIELD=VALUE`` overrides applied."""
    import dataclasses

    from chainbench.chain import Traffic

    types = {f.name: type(getattr(Traffic(), f.name)) for f in dataclasses.fields(Traffic)}
    changes = {}
    for item in overrides:
        field, _, value = item.partition("=")
        if field not in types:
            raise SystemExit(f"unknown Traffic field {field!r}; known: {sorted(types)}")
        kind = types[field]
        if kind is tuple:
            changes[field] = tuple(int(v) for v in value.split(","))
        elif kind is bool:
            changes[field] = value.lower() in ("1", "true", "yes")
        else:
            changes[field] = kind(value)
    if not changes:
        return spec
    return dataclasses.replace(spec, traffic=dataclasses.replace(spec.traffic, **changes))


def _analytics(spark, work, args, t_start):
    from chainbench import analytics, trace

    tracer = trace.Tracer(spark) if args.trace else None
    probe_before = _cpu_probe() if tracer else 0.0
    data = os.path.join(work, "analytics")
    analytics.generate(data, args.seed)
    r = analytics.AnalyticsRun(spark, data, tracer)
    r.setup()
    setup_s = time.perf_counter() - t_start
    elapsed = r.run(args.seconds)
    print(f"chainbench: pass seconds, set-up {[round(x, 3) for x in r.warm]}, "
          f"measured {[round(x, 3) for x in r.passes]}", file=sys.stderr)
    for msg in r.failures:
        print(f"chainbench: {msg}", file=sys.stderr)
    peak = _peak_rss_mb(spark)
    per_query = {q: _median(s) for q, s in r.samples.items()}
    if tracer is None:
        n = sum(len(s) for s in r.samples.values())
        metrics = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak, "MB"),
            "op_s.p50": (_median(r.passes), "s"),
            "read_s.p50": (_median(list(per_query.values())), "s"),
            "reads_per_s": (n / elapsed, "1/s"),
        }
    else:
        from chainbench.workloads import analytics_layers

        metrics = analytics_layers(r, per_query)
        metrics.update(_host_layers(spark, probe_before))
    failed = len(r.failures)
    return _result(not failed, max(1, r.attempted), failed, metrics)


def _host_layers(spark, probe_before: float) -> dict:
    gc_s, heap_mb = _jvm_stats(spark)
    return {
        "jvm.gc_s": (gc_s, "s"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
        "host.cpu_probe_s.before": (probe_before, "s"),
        "host.cpu_probe_s.after": (_cpu_probe(), "s"),
    }


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


WORKLOADS = {
    "head": _ingest("head"),
    "reorg": _ingest("reorg"),
    "sync": _ingest("sync"),
    "analytics": _analytics,
}


if __name__ == "__main__":
    sys.exit(main())
