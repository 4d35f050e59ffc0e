"""Workload specs and the per-layer metrics of a traced run.

Every traced run reports every per-layer metric; a layer a workload does
not reach reports 0.
"""

from __future__ import annotations

import os
import statistics

from chainbench.analytics import QUERIES
from chainbench.chain import Traffic
from chainbench.ingest import READ_KINDS, Spec
from chainbench.trace import percentile, tail_level

SPECS = {
    # gated: 1-block micro-batches over a preseeded history (one 20-block
    # chunk, so set-up pays one cold batch and a run stays within the
    # benchmark's time budget), EP3 reads beside the writer
    "head": Spec(
        traffic=Traffic(),
        preseed=20,
        schedule=(("append", 1),),
        reader=True,
    ),
    # ad hoc: deeper forks and a gap that opens during a fork
    "reorg": Spec(
        traffic=Traffic(),
        preseed=60,
        schedule=(("append", 1), ("win", 2), ("append", 1), ("lose", 1), ("append", 1),
                  ("gapwin", 2), ("append", 1), ("win", 10)),
    ),
    # ad hoc: catch-up from empty in 50-block batches, one token above 30 digits
    "sync": Spec(
        traffic=Traffic(big_token=True),
        preseed=0,
        batch=50,
        schedule=(("sync", 0),),
        maintain_every=4,
    ),
}

GATED = ("head", "analytics")  # the workloads BENCHMARK.json names

# sink methods per micro-batch; the ingestor replaces dimensions through
# update_dimension, which LogStore commits as a one-table update_dimensions
SINK_METHODS = ("write_blocks", "update_dimensions", "read_range", "read", "max_block")
SINK_SPANS = {"update_dimensions": ("sink.update_dimensions", "sink.update_dimension")}
# methods only forks (reorg) or the maintenance cadence (sync) call
ADHOC_SINK_METHODS = ("retract_blocks", "append_dimension", "optimize", "vacuum")
DECISIONS = ("append", "reorg", "gap", "ignore_losing_fork")


def _sink_units(methods) -> dict[str, str]:
    u = {}
    for m in methods:
        u.update({f"sink.{m}.s": "s", f"sink.{m}.calls": "count", f"sink.{m}.jobs": "count"})
    return u


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of the gated workloads with its unit, in
    report order: BENCHMARK.json's ``per_layer`` list."""
    u = {
        "ingest.batch_s": "s", "ingest.self_s": "s", "ingest.jobs_per_batch": "count",
        "ingest.stages_per_batch": "count", "ingest.tasks_per_batch": "count",
        "ingest.self_jobs": "count", "ingest.blocks_per_s": "1/s", "ingest.bootstrap_s": "s",
        "reorg.check_s": "s",
        "source.raw_tables_s": "s", "source.rows_per_batch": "count",
        "pipeline.balance_rows_per_block": "count", "pipeline.transfer_rows_per_block": "count",
        "pipeline.total_rows_per_block": "count",
    }
    u.update(_sink_units(SINK_METHODS))
    u.update({"sink.files_live": "count", "sink.bytes_on_disk": "bytes",
              "sink.bytes_per_input_byte": "ratio"})
    u.update({f"queries.{k}.s.p50": "s" for k in READ_KINDS})
    u.update({"queries.read_s.p50": "s", "queries.reads_per_s": "1/s",
              "queries.read_s.tail": "s", "queries.tail_level": "percentile",
              "queries.jobs_per_call": "count", "queries.snapshot_s.p50": "s",
              "queries.sink_calls_per_read": "count"})
    u.update({"analytics.pass_s": "s"})
    for q in QUERIES:
        u.update({f"analytics.{q}.s": "s", f"analytics.{q}.jobs": "count"})
    u.update({"jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "host.cpu_probe_s.before": "s",
              "host.cpu_probe_s.after": "s"})
    return u


def adhoc_units() -> dict[str, str]:
    """Per-layer metrics only the ad hoc ``reorg`` and ``sync`` workloads
    move: on ``head`` (no forks, no maintenance, one or two commits a run)
    they are constant, so BENCHMARK.json does not list them."""
    u = {"ingest.drift_q4_over_q1": "ratio", "ingest.maintain_s": "s",
         "reorg.walk_depth": "count", "reorg.commit_s": "s"}
    u.update({f"reorg.decisions.{d}": "count" for d in DECISIONS})
    u.update({"source.header_by_hash.calls": "count", "source.headers_range.calls": "count",
              "queries.snapshot_retries": "count"})
    u.update(_sink_units(ADHOC_SINK_METHODS))
    return u


def _zeros(adhoc: bool = False) -> dict[str, tuple[float, str]]:
    units = per_layer_units()
    if adhoc:
        units.update(adhoc_units())
    return {k: (0.0, unit) for k, unit in units.items()}


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _set(out: dict, name: str, value: float) -> None:
    out[name] = (float(value), out[name][1])


def ingest_layers(r, tracer, elapsed: float, adhoc: bool = False) -> dict:
    """Per-layer metrics of an ingest run; ``adhoc`` adds the fork and
    maintenance metrics of :func:`adhoc_units`."""
    out = _zeros(adhoc=True)
    window = r.window
    batches = [s for s in window if s["name"] == "ingest.batch"]
    steady = [s for s in batches if s["kind"] in ("append", "sync")] or batches
    trees = {b["id"]: tracer.subtree(b) for b in batches}

    def tree_sum(b, key):
        return sum(s.get(key, 0) for s in trees[b["id"]])

    secs = [b["s"] for b in steady]
    _set(out, "ingest.batch_s", _med(secs))
    _set(out, "ingest.self_s", _med([b["s"] - b["child_s"] for b in steady]))
    _set(out, "ingest.jobs_per_batch", _med([tree_sum(b, "jobs") for b in steady]))
    _set(out, "ingest.stages_per_batch", _med([tree_sum(b, "stages") for b in steady]))
    _set(out, "ingest.tasks_per_batch", _med([tree_sum(b, "tasks") for b in steady]))
    _set(out, "ingest.self_jobs", _med([b.get("jobs", 0) for b in steady]))
    if secs:
        q = max(1, len(secs) // 4)
        _set(out, "ingest.drift_q4_over_q1", (sum(secs[-q:]) / q) / (sum(secs[:q]) / q))
    _set(out, "ingest.blocks_per_s", (r.chain.head["header"]["number"] - r.head_before) / elapsed)
    _set(out, "ingest.bootstrap_s", sum(s["s"] for s in tracer.named("ingest.batch")
                                        if s["kind"] == "preseed"))
    _set(out, "ingest.maintain_s", _med([s["s"] for s in window if s["name"] == "ingest.maintain"]))

    in_batch = {s["id"] for b in batches for s in trees[b["id"]]}
    checks = [s for s in window if s["name"] == "reorg.check" and s["id"] in in_batch]
    _set(out, "reorg.check_s", _med([c["s"] for c in checks]))
    forks = [c for c in checks if c["action"] in ("reorg", "ignore_losing_fork")]
    walks = [sum(1 for s in tracer.subtree(c) if s["name"] == "source.header_by_hash")
             for c in forks]
    _set(out, "reorg.walk_depth", _med(walks))
    _set(out, "reorg.commit_s", _med([dt for kind, dt, _ in r.commits if kind in ("win", "gapwin")]))
    for d in DECISIONS:
        _set(out, f"reorg.decisions.{d}", sum(1 for c in checks if c["action"] == d))

    raw = [s for s in window if s["name"] == "source.raw_tables"]
    _set(out, "source.raw_tables_s", _med([s["s"] for s in raw]))
    _set(out, "source.rows_per_batch", _med([s["rows"] for s in raw]))
    for m in ("header_by_hash", "headers_range"):
        _set(out, f"source.{m}.calls", sum(1 for s in window if s["name"] == f"source.{m}"))

    # the writer's store calls: those inside a micro-batch or the
    # maintenance cadence, counted per micro-batch; the reader's are its own
    maint = [s for s in window if s["name"] == "ingest.maintain"]
    writer = in_batch | {s["id"] for m in maint for s in tracer.subtree(m)}
    n = max(1, len(batches))
    for m in SINK_METHODS + ADHOC_SINK_METHODS:
        names = SINK_SPANS.get(m, (f"sink.{m}",))
        spans = [s for s in window if s["name"] in names and s["id"] in writer]
        _set(out, f"sink.{m}.s", sum(s["s"] for s in spans) / n)
        _set(out, f"sink.{m}.calls", len(spans) / n)
        _set(out, f"sink.{m}.jobs", sum(s.get("jobs", 0) for s in spans) / n)

    reads = [s for s in window if s["name"].startswith("queries.")]
    reader_sink = [s for s in window if s["name"].startswith("sink.") and s["id"] not in writer]
    for k in READ_KINDS:
        _set(out, f"queries.{k}.s.p50", _med([s["s"] for s in reads if s["name"] == f"queries.{k}"]))
    if reads:
        _set(out, "queries.read_s.p50", _med([s["s"] for s in reads]))
        _set(out, "queries.reads_per_s", len(reads) / elapsed)
        level = tail_level(len(reads)) or 50.0
        _set(out, "queries.read_s.tail", percentile([s["s"] for s in reads], level))
        _set(out, "queries.tail_level", level)
        jobs = [sum(x.get("jobs", 0) for x in tracer.subtree(s)) for s in reads]
        _set(out, "queries.jobs_per_call", _med(jobs))
        _set(out, "queries.snapshot_s.p50",
             _med([s["s"] for s in reader_sink if s["name"] == "sink.snapshot"]))
        _set(out, "queries.sink_calls_per_read",
             sum(1 for s in reader_sink if s["name"] != "sink.snapshot") / len(reads))
    _set(out, "queries.snapshot_retries", r.snapshot_retries)

    # program outputs, read after the run through the bare store
    store = getattr(r.store, "_inner", r.store)
    blocks = len(r.chain.canonical)
    for name, table in (("balance", "balances"), ("transfer", "transfers"),
                        ("total", "total_balances")):
        _set(out, f"pipeline.{name}_rows_per_block", store.read(table).count() / blocks)
    root = store.root
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
    _set(out, "sink.bytes_on_disk", size)
    _set(out, "sink.bytes_per_input_byte", size / max(1, r.input_bytes))
    state = getattr(store, "_state", None)
    if state is not None:
        live = sum(len(files) for files in state(refresh=True).files.values())
    else:
        live = sum(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)
    _set(out, "sink.files_live", live)
    if not adhoc:
        for k in adhoc_units():
            del out[k]
    return out


def analytics_layers(r, per_query: dict[str, float]) -> dict:
    out = _zeros()
    _set(out, "analytics.pass_s", _med(r.passes))
    for q in QUERIES:
        _set(out, f"analytics.{q}.s", per_query[q])
        _set(out, f"analytics.{q}.jobs", _med(r.jobs[q]))
    return out
