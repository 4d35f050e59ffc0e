"""Analytics workload: the registry queries of ``plans.analytics`` and
``plans.extensions`` over seeded TPC-H-shaped tables, each answer checked
against its DuckDB oracle (``__spark_entry__.oracle_sql()``)."""

from __future__ import annotations

import hashlib
import os
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A cross-section of bench.py's BENCH_QUERIES: scan aggregation and running
# sum (plans.analytics), MinHash LSH dedup and cosine top-k
# (plans.extensions over operators). The whole
# set does not fit the benchmark's per-run time budget on a 4-core host:
# its cold first pass alone takes about 33 s there.
QUERIES = (
    "q1_pricing_summary",
    "a10_global_running_sum",
    "x_dedup_minhash_lsh",
    "x_ann_cosine_topk",
)
# set-up runs checked passes, the cold one first, for WARM_S: a fresh
# process's passes get about a third faster over its first ~30 s (JIT
# warm-up). A fixed span, not a level-off rule: pass-to-pass noise of about
# 15% on a shared host makes such a rule stop at random, and set-up time
# with it.
WARM_S = 30.0

VOCAB = (
    "key agg row scan slow fast table value part hash a merge batch the line "
    "sort window spark order data column join small customer query big filter "
    "group vector stream"
).split()
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _us(t: datetime) -> int:
    return (t - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def _ts(days: np.ndarray, base: datetime) -> pa.Array:
    return pa.array(_us(base) + days.astype(np.int64) * 86_400 * 10**6, type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, scale: float = 0.003) -> None:
    """Write the ten tables as parquet under ``out_dir``; ``scale`` follows
    the TPC-H scale factor (0.01 = 60k lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_ev = int(1_500_000 * scale), int(1_000_000 * scale)
    n_doc = n_vec = int(100_000 * scale)

    def write(name, cols: dict, schema: pa.Schema):
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    write("region", {"r_regionkey": list(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    write("nation", {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": [i % 5 for i in range(25)]},
          pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    write("customer", {
        "c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
                  ("c_mktsegment", s)]))
    write("supplier", {
        "s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    adj, noun = ["small", "red", "big", "shiny", "old"], ["ring", "widget", "bolt", "gear", "pipe"]
    write("part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 5, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"])[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))
    base = datetime(1995, 1, 1)
    o_days = rng.integers(0, 2404, n_ord)
    write("orders", {
        "o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(o_days, base),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", s)]))
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(float)
    flags = np.array([("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"), ("A", "O"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_li)]
    write("lineitem", {
        "l_orderkey": okey, "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": lnum,
        "l_quantity": qty, "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0, "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": fl[:, 0], "l_linestatus": fl[:, 1],
        "l_shipdate": _ts(o_days[okey] + rng.integers(1, 122, n_li), base),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                  ("l_shipdate", pa.timestamp("us"))]))
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)) + _us(datetime(2024, 1, 1))
    write("events", {
        "event_id": np.arange(n_ev), "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", pa.timestamp("us")), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]))
    # documents: random word runs, with exact and near duplicates so the
    # dedup and clustering operators have work to do
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]))
    write("documents", {
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": np.array(["en", "zh", "de", "es", "fr"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts]),
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    emb = rng.normal(0, 0.12, (n_vec, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vec), "embedding": list(emb),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


def signature(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the values, canonicalised
    by the test suite's ``frame_signature`` so the benchmark checks answers
    exactly as ``tests/test_oracle_parity.py`` does."""
    from tests.conftest import frame_signature

    n, cols, rows = frame_signature(pdf)
    return n, hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def oracle_signatures(data_dir: str, names) -> dict[str, tuple[int, str]]:
    """DuckDB answers for every query that has oracle SQL."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {n: signature(con.execute(sql[n]).df()) for n in names if n in sql}
    finally:
        con.close()


class AnalyticsRun:
    def __init__(self, spark, data_dir: str, tracer=None):
        import __spark_entry__ as entry

        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.registry = entry.queries()
        self.oracle: dict[str, tuple[int, str]] = {}
        self.samples: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.passes: list[float] = []  # wall seconds per measured pass
        self.warm: list[float] = []  # wall seconds per set-up pass, the cold one first
        self.jobs: dict[str, list[int]] = {q: [] for q in QUERIES}
        self.rows: dict[str, set[int]] = {q: set() for q in QUERIES}
        self.failures: list[str] = []
        self.attempted = 0

    def setup(self) -> None:
        """Oracle answers, then checked but unmeasured passes for ``WARM_S``:
        the JIT and codegen warm-up every fresh process pays."""
        self.oracle = oracle_signatures(self.data_dir, QUERIES)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < WARM_S:
            p0 = time.perf_counter()
            for name in QUERIES:
                self._one(name, record=False)
            self.warm.append(time.perf_counter() - p0)

    def _one(self, name: str, record: bool = True) -> None:
        self.attempted += 1
        try:
            if self.tracer is not None and record:
                with self.tracer.span(f"analytics.{name}") as rec:
                    t0 = time.perf_counter()
                    pdf = self.registry[name](self.spark, self.data_dir).toPandas()
                    dt = time.perf_counter() - t0
                self.tracer.resolve()
                self.jobs[name].append(rec["jobs"])
            else:
                t0 = time.perf_counter()
                pdf = self.registry[name](self.spark, self.data_dir).toPandas()
                dt = time.perf_counter() - t0
        except Exception as e:  # a failing query is counted, the pass goes on
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            return
        finally:
            self.spark.catalog.clearCache()
        got = signature(pdf)
        want = self.oracle.get(name)
        if want is not None and got != want:
            self.failures.append(f"{name}: {got[0]} rows do not match the oracle's {want[0]}")
        elif want is None and got[0] == 0:
            self.failures.append(f"{name}: empty result")
        self.rows[name].add(got[0])
        if record:
            self.samples[name].append(dt)

    def run(self, seconds: float, min_passes: int = 2) -> float:
        """Whole passes over the query set until ``seconds`` have elapsed and
        at least ``min_passes`` passes ran; returns the measured wall time."""
        t0 = time.perf_counter()
        while len(self.passes) < min_passes or time.perf_counter() - t0 < seconds:
            p0 = time.perf_counter()
            for name in QUERIES:
                self._one(name)
            self.passes.append(time.perf_counter() - p0)
        for name, counts in self.rows.items():
            if len(counts) > 1:
                self.failures.append(f"{name}: row count changed between passes {sorted(counts)}")
        return time.perf_counter() - t0
