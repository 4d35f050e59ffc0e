"""Outside-in tracing: spans around calls into the indexer's layers.

Every span is recorded by a proxy in this package wrapped around a program
object (the store, its snapshots, the block source) or around a call the
harness makes itself (a micro-batch, a read). No program file is touched;
untraced runs hand the program the bare objects.

A span also gets its own Spark job group, so the jobs, stages and tasks the
layer launched are counted through ``sparkContext.statusTracker()`` — the
counts are resolved after the enclosing operation finishes, outside every
timed interval.
"""

from __future__ import annotations

import itertools
import math
import threading
import time
from contextlib import contextmanager

from eth_indexer_spark.sinks.backend import StoreBackend

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, _rank(len(s), p) - 1)]


def _rank(n: int, p: float) -> int:
    # rounding first keeps 99.9% of 10,000 at rank 9990, not 9991
    return math.ceil(round(p / 100.0 * n, 9))


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of ``n``."""
    return n - max(1, _rank(n, p))


def tail_level(n: int, ladder=TAIL_LADDER) -> float | None:
    """The highest percentile of ``ladder`` with at least ten samples beyond
    it, or None when even the median has fewer."""
    ok = [p for p in ladder if beyond(n, p) >= 10]
    return max(ok) if ok else None


class Tracer:
    """Collects spans in memory. Spans nest per thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._seq = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = next(self._seq)
        rec = {"id": sid, "name": name, "group": f"chainbench-{sid}",
               "parent": stack[-1]["id"] if stack else None, "child_s": 0.0, **attrs}
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1]["child_s"] += rec["s"]
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, "")
            with self._lock:
                self.spans.append(rec)

    def resolve(self) -> None:
        """Attach job/stage/task counts to every span that lacks them. Call
        between operations: the status tracker keeps only recent jobs."""
        st = self.sc.statusTracker()
        with self._lock:
            todo = [r for r in self.spans if "jobs" not in r]
        for r in todo:
            jobs = st.getJobIdsForGroup(r["group"])
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            r["jobs"], r["stages"], r["tasks"] = len(jobs), stages, tasks

    def named(self, prefix: str) -> list[dict]:
        with self._lock:
            return [r for r in self.spans if r["name"].startswith(prefix)]

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        with self._lock:
            spans = list(self.spans)
        kids: dict[int, list[dict]] = {}
        for r in spans:
            kids.setdefault(r["parent"], []).append(r)
        out, todo = [], [root]
        while todo:
            r = todo.pop()
            out.append(r)
            todo += kids.get(r["id"], [])
        return out


class _Traced:
    def __init__(self, inner, tracer: Tracer, layer: str):
        self._inner = inner
        self._tracer = tracer
        self._layer = layer

    def _call(self, method: str, *args, **kwargs):
        with self._tracer.span(f"{self._layer}.{method}"):
            return getattr(self._inner, method)(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TracedStore(_Traced, StoreBackend):
    """A :class:`StoreBackend` that forwards every method to the wrapped
    store inside a ``sink.<method>`` span."""

    def __init__(self, inner, tracer: Tracer):
        super().__init__(inner, tracer, "sink")

    def exists(self, table):
        return self._call("exists", table)

    def read(self, table):
        return self._call("read", table)

    def read_range(self, table, lo=None, hi=None):
        return self._call("read_range", table, lo, hi)

    def read_eq(self, table, number):
        return self._call("read_eq", table, number)

    def max_block(self, table):
        return self._call("max_block", table)

    def read_deltas(self, table):
        return self._call("read_deltas", table)

    def read_version(self):
        return self._call("read_version")

    def read_rewind_epoch(self):
        return self._call("read_rewind_epoch")

    def snapshot(self):
        return TracedSnapshot(self._call("snapshot"), self._tracer)

    def write_blocks(self, tables, block_range=None):
        return self._call("write_blocks", tables, block_range)

    def retract_blocks(self, lo, hi, tables=None):
        return self._call("retract_blocks", lo, hi, tables)

    def update_dimension(self, table, df):
        return self._call("update_dimension", table, df)

    def update_dimensions(self, tables):
        return self._call("update_dimensions", tables)

    def append_dimension(self, table, df):
        return self._call("append_dimension", table, df)

    def append_dimension_delta(self, table, df, delta):
        return self._call("append_dimension_delta", table, df, delta)

    def version_hold(self):
        return self._inner.version_hold()

    def optimize(self, table, *args, **kwargs):
        return self._call("optimize", table, *args, **kwargs)

    def vacuum(self, *args, **kwargs):
        return self._call("vacuum", *args, **kwargs)


class TracedSnapshot(_Traced):
    """A pinned read view whose read surface is traced like the store's.
    ``guard``/``check``/``collect`` forward untouched, so
    ``StoreQueries._finish`` still wraps answers in its guarded frame."""

    def __init__(self, inner, tracer: Tracer):
        super().__init__(inner, tracer, "sink")

    def snapshot(self):
        return self

    def guard(self):
        return self._inner.guard()

    def check(self):
        return self._inner.check()

    def collect(self, df):
        return self._inner.collect(df)

    def exists(self, table):
        return self._call("exists", table)

    def read(self, table):
        return self._call("read", table)

    def read_range(self, table, lo=None, hi=None):
        return self._call("read_range", table, lo, hi)

    def read_eq(self, table, number):
        return self._call("read_eq", table, number)

    def max_block(self, table):
        return self._call("max_block", table)


class TracedSource(_Traced):
    """The block source seam: ``header_by_hash`` (reorg walk),
    ``headers_range`` (gap backfill) and ``raw_tables_for`` (batch input),
    each in a ``source.*`` span. ``rows_for`` counts the raw rows a batch
    delivers without running a Spark job."""

    def __init__(self, inner, tracer: Tracer, rows_for):
        super().__init__(inner, tracer, "source")
        self._rows_for = rows_for

    def header_by_hash(self, h):
        return self._call("header_by_hash", h)

    def headers_range(self, lo, hi):
        return self._call("headers_range", lo, hi)

    def raw_tables_for(self, block_hashes):
        with self._tracer.span("source.raw_tables", rows=self._rows_for(block_hashes)):
            return self._inner.raw_tables_for(block_hashes)


@contextmanager
def reorg_spans(tracer: Tracer | None):
    """Trace ``check_reorg`` as the ingestor calls it: the module attribute
    the ingestor looks up is swapped for a wrapper while the block runs."""
    if tracer is None:
        yield
        return
    from eth_indexer_spark.streaming import ingest as mod

    orig = mod.check_reorg

    def traced(stored, incoming, fetch_header_by_hash, td_at):
        with tracer.span("reorg.check") as rec:
            decision = orig(stored, incoming, fetch_header_by_hash, td_at)
            rec["action"] = decision.action
            return decision

    mod.check_reorg = traced
    try:
        yield
    finally:
        mod.check_reorg = orig
