"""Ingest workloads: a seeded chain driven through ``BlockIngestor`` in a
closed loop, optionally with a concurrent EP3 reader, then checked against
the generator's ledger."""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from chainbench.chain import ETH, AsOf, Chain, Traffic
from chainbench.trace import TracedSource, TracedStore, Tracer

# the tables every micro-batch writes: the maintenance cadence compacts them
MAINTAIN_TABLES = (
    "block_headers", "transactions", "transaction_receipts", "receipt_logs",
    "transfers", "balances", "total_balances", "total_difficulty",
)
READ_KINDS = ("latest_header", "account_asof", "total_asof", "header_by_number", "page100")
EXPECTED_ACTION = {"append": "append", "win": "reorg", "lose": "ignore_losing_fork",
                   "gapwin": "gap"}  # the ingestor backfills, then reorgs


@dataclass(frozen=True)
class Spec:
    """One ingest workload: traffic, preseeded history, the op schedule the
    writer cycles through, and whether a reader runs beside it."""

    traffic: Traffic
    preseed: int  # blocks ingested during set-up (0 = start from empty)
    schedule: tuple  # ((kind, depth), ...) cycled until time is up
    batch: int = 1  # blocks per append op
    reader: bool = False
    maintain_every: int = 0  # optimize + vacuum after every N ops


def frames(blocks: list[dict]) -> dict[str, pd.DataFrame]:
    """The raw tables of ``blocks`` as the block source takes them."""
    out = {"header": pd.DataFrame([b["header"] for b in blocks])}
    for k in ("txs", "receipts", "logs"):
        out[k] = pd.DataFrame([r for b in blocks for r in b[k]])
    return out


def _logical_bytes(block: dict) -> int:
    """Input size of one block as the sum of its fields' natural widths:
    hex strings count half their length, numbers eight bytes."""
    n = 0
    for rec in [block["header"]] + block["txs"] + block["receipts"] + block["logs"]:
        for v in rec.values():
            if isinstance(v, str):
                n += len(v) // 2 if len(v) >= 40 else len(v)
            elif isinstance(v, (bytes, bytearray)):
                n += len(v)
            elif v is not None:
                n += 8
    return n


class IngestRun:
    def __init__(self, spark, root: str, seed: int, spec: Spec, tracer: Tracer | None,
                 backend: str = "log"):
        self.spark, self.root, self.seed, self.spec = spark, root, seed, spec
        self.tracer = tracer
        self.backend = backend
        self.chain = Chain(seed, spec.traffic)
        self.commits: list[tuple[str, float, int]] = []  # (op kind, seconds, blocks)
        self.reads: list[tuple[str, float]] = []
        self.failures: list[str] = []
        self.read_failures = 0
        self.wins = 0
        self.input_bytes = 0
        self.stamp = None
        self.snapshot_retries = 0
        self.window: list[dict] = []  # spans recorded while run() measured

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from eth_indexer_spark.schema import RAW_SCHEMAS
        from eth_indexer_spark.sinks.logstore import LogStore
        from eth_indexer_spark.sinks.store import ParquetStore
        from eth_indexer_spark.sources.blocks import PandasBlockSource
        from eth_indexer_spark.streaming.ingest import MAX_BLOCKS_PER_BATCH, BlockIngestor

        spark, ch = self.spark, self.chain
        history = ch.extend(self.spec.preseed or self.spec.batch)
        f = frames(history)
        self.pandas_source = PandasBlockSource(spark, f["header"], f["txs"], f["receipts"], f["logs"])
        source = self.pandas_source
        store_cls = LogStore if self.backend == "log" else ParquetStore
        store = store_cls(spark, os.path.join(self.root, "store"))
        if self.tracer is not None:
            store = TracedStore(store, self.tracer)
            source = TracedSource(source, self.tracer, self._rows_for)
        self.store = store
        subs = spark.createDataFrame(pd.DataFrame(ch.subscriptions_rows()), RAW_SCHEMAS["subscriptions"])
        erc20 = spark.createDataFrame(pd.DataFrame(ch.erc20_rows()), RAW_SCHEMAS["erc20"])
        self.ingestor = BlockIngestor(spark, store, source, subs, erc20)
        self._pending = [b["header"] for b in history]
        if self.spec.preseed:
            # one delivery: the ingestor splits it into chunks, the first of
            # which stamps every subscription
            self._deliver("preseed", self._pending, "bootstrap")
            self._pending = []
        # subscriptions are stamped at the end of the first ingested chunk
        self.stamp = min(len(history), MAX_BLOCKS_PER_BATCH)

    def _rows_for(self, hashes: list[str]) -> int:
        bs = [self.chain.blocks[h] for h in hashes if h in self.chain.blocks]
        return sum(1 + len(b["txs"]) + len(b["receipts"]) + len(b["logs"]) for b in bs)

    def _register(self, blocks: list[dict]) -> None:
        f = frames(blocks)
        self.pandas_source.extend(headers=f["header"], transactions=f["txs"],
                                  receipts=f["receipts"], logs=f["logs"])

    # -- the writer --------------------------------------------------------

    def _deliver(self, kind: str, headers: list[dict], expect: str | None) -> float:
        self.input_bytes += sum(_logical_bytes(self.chain.blocks[h["hash"]]) for h in headers)
        if self.tracer is not None:
            with self.tracer.span("ingest.batch", kind=kind, blocks=len(headers)) as rec:
                t0 = time.perf_counter()
                action = self.ingestor.process_headers(headers)
                dt = time.perf_counter() - t0
                rec["action"] = action
            self.tracer.resolve()
        else:
            t0 = time.perf_counter()
            action = self.ingestor.process_headers(headers)
            dt = time.perf_counter() - t0
        if expect is not None and action != expect:
            self.failures.append(f"{kind}: expected {expect}, got {action}")
        return dt

    def _op(self, kind: str, depth: int) -> None:
        ch = self.chain
        if kind == "sync":
            headers, self._pending = self._pending, []
            if not headers:
                blocks = ch.extend(self.spec.batch)
                self._register(blocks)
                headers = [b["header"] for b in blocks]
            dt = self._deliver(kind, headers, None)
            self.commits.append((kind, dt, len(headers)))
            return
        if kind == "append":
            blocks = ch.extend(self.spec.batch)
            deliver = [b["header"] for b in blocks]
        else:
            # a fork never reaches the subscription stamp block
            depth = min(depth, ch.head["header"]["number"] - self.stamp - 1)
            if depth < 1:
                blocks = ch.extend(1)
                kind, deliver = "append", [blocks[0]["header"]]
            else:
                blocks = ch.fork(depth, kind != "lose", extra=3 if kind == "gapwin" else 1)
                deliver = [blocks[-1]["header"]]  # the tip only: the ingestor walks back
                self.wins += kind != "lose"
        self._register(blocks)
        dt = self._deliver(kind, deliver, EXPECTED_ACTION[kind])
        self.commits.append((kind, dt, len(blocks) if kind != "lose" else 0))

    def _maintain(self) -> None:
        for t in MAINTAIN_TABLES:
            if self.store.exists(t):
                self.store.optimize(t)
        self.store.vacuum()

    def run(self, seconds: float) -> float:
        """Closed loop for ``seconds`` (at least one op), with the reader
        beside it; returns the measured wall time."""
        stop = threading.Event()
        reader = None
        if self.spec.reader:
            reader = threading.Thread(target=self._reader, args=(stop,), daemon=True)
        self.head_before = self.chain.head["header"]["number"] if self.spec.preseed else 0
        first_span = len(self.tracer.spans) if self.tracer is not None else 0
        t0 = time.perf_counter()
        if reader is not None:
            reader.start()
        i = 0
        try:
            while time.perf_counter() - t0 < seconds or not self.commits:
                kind, depth = self.spec.schedule[i % len(self.spec.schedule)]
                self._op(kind, depth)
                i += 1
                if self.spec.maintain_every and i % self.spec.maintain_every == 0:
                    if self.tracer is not None:
                        with self.tracer.span("ingest.maintain"):
                            self._maintain()
                    else:
                        self._maintain()
        finally:
            stop.set()
            if reader is not None:
                reader.join()
            elapsed = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.resolve()
                self.window = self.tracer.spans[first_span:]
        return elapsed

    # -- the reader --------------------------------------------------------

    def _reader(self, stop: threading.Event) -> None:
        """Closed-loop EP3 reads until ``stop`` is set."""
        from eth_indexer_spark.plans.queries import StoreQueries
        from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

        rng = random.Random(self.seed * 7919 + 1)
        asof_cache: dict[str, tuple[list[dict], AsOf]] = {}
        ch = self.chain
        tokens = [ETH] + ch.registered()

        while not stop.is_set():
            q = StoreQueries(self.store).snapshot()
            head = None
            for kind in READ_KINDS:
                if stop.is_set():
                    break
                try:
                    ok, head = self._read(q, kind, head, rng, tokens, asof_cache)
                except SnapshotExpiredError:
                    # a vacuum passed the pin: the next cycle re-pins, as a
                    # client would
                    self.snapshot_retries += 1
                    break
                except Exception as e:  # a failed read is counted, the loop goes on
                    ok = False
                    self.failures.append(f"read {kind}: {type(e).__name__}: {e}")
                if not ok:
                    self.read_failures += 1
                if head is None:
                    break
            if self.tracer is not None:
                self.tracer.resolve()

    def _timed(self, kind: str, fn):
        if self.tracer is not None:
            with self.tracer.span(f"queries.{kind}"):
                t0 = time.perf_counter()
                rows = fn().collect()
                dt = time.perf_counter() - t0
        else:
            t0 = time.perf_counter()
            rows = fn().collect()
            dt = time.perf_counter() - t0
        self.reads.append((kind, dt))
        return rows

    def _read(self, q, kind, head, rng, tokens, cache):
        """One read, checked against the chain whose tip the snapshot shows."""
        ch = self.chain
        if kind == "latest_header":
            rows = self._timed(kind, q.latest_header)
            if len(rows) != 1 or rows[0]["hash"] not in ch.blocks:
                return False, None
            return True, rows[0]["hash"]
        if head not in cache:
            prefix = ch.prefix(head)
            cache.clear()
            cache[head] = (prefix, AsOf(ch, prefix))
        prefix, asof = cache[head]
        top = len(prefix)
        if kind == "header_by_number":
            n = rng.randint(1, top)
            rows = self._timed(kind, lambda: q.header_by_number(n))
            return [r["hash"] for r in rows] == [prefix[n - 1]["header"]["hash"]], head
        if kind == "page100":
            lo = rng.randint(1, max(1, top - 99))
            rows = self._timed(kind, lambda: q.headers_in_range(lo, lo + 99))
            got = sorted((r["number"], r["hash"]) for r in rows)
            want = [(b["header"]["number"], b["header"]["hash"]) for b in prefix[lo - 1: lo + 99]]
            return got == want, head
        n = rng.randint(self.stamp, top)
        token = rng.choice(tokens)
        if kind == "account_asof":
            addr = rng.choice(ch.subs)
            rows = self._timed(kind, lambda: q.find_account(token, addr, n))
            got = int(rows[0]["balance"]) if rows else None
            return got == asof.balance(token, addr, n), head
        group = rng.randrange(ch.traffic.n_groups)
        rows = self._timed(kind, lambda: q.find_total_balance(n, token, group))
        got = int(rows[0]["balance"]) if rows else 0
        return got == asof.total(token, group, n), head

    # -- the final check ---------------------------------------------------

    def verify(self) -> list[str]:
        """Compare the store with the chain's expected ledger."""
        exp = self.chain.expected_state()
        st = self.store
        bad = []
        heads = st.read("block_headers").select("number", "hash").collect()
        got_blocks = {r["number"]: r["hash"] for r in heads}
        if got_blocks != {n: h for n, (h, _) in exp["blocks"].items()}:
            bad.append(f"block_headers differ from the canonical chain ({len(got_blocks)} stored)")
        txs = (st.read("transactions").groupBy("block_number", "block_hash").count().collect())
        got_txs = {r["block_number"]: (r["block_hash"], r["count"]) for r in txs}
        want_txs = {n: v for n, v in exp["blocks"].items() if v[1]}
        if got_txs != want_txs:
            bad.append("transactions differ from the canonical chain (retracted rows left?)")
        if st.max_block("block_headers") != exp["head_number"]:
            bad.append("stored head number differs")
        td = st.read_range("total_difficulty", exp["head_number"], exp["head_number"]).collect()
        if [(r["hash"], int(r["td"])) for r in td] != [(exp["head_hash"], exp["td"])]:
            bad.append(f"total difficulty at head: got {[tuple(r) for r in td]}, want {exp['td']}")
        bad += self._latest_matches("balances", ["token", "address"], exp["balances"], 0)
        bad += self._latest_matches("total_balances", ["token", "group"], exp["totals"], 0)
        n_reorgs = st.read("reorgs").count() if st.exists("reorgs") else 0
        if n_reorgs != self.wins:
            bad.append(f"reorgs audit rows: got {n_reorgs}, want {self.wins}")
        return bad

    def _latest_matches(self, table, keys, want: dict, default: int) -> list[str]:
        w = W.partitionBy(*keys).orderBy(F.desc("block_number"))
        rows = (
            self.store.read(table).withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").select(*keys, "balance").collect()
        )
        got = {tuple(r[k] for k in keys): int(r["balance"]) for r in rows}
        wrong = [k for k, v in want.items() if got.get(k, default) != v]
        extra = [k for k in got if k not in want]
        if wrong or extra:
            return [f"{table}: {len(wrong)} keys differ from the ledger, {len(extra)} unexpected"]
        return []
