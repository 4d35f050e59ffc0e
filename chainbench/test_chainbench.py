"""Self-tests of the benchmark: ``python -m pytest chainbench -q``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chainbench.chain import ETH, AsOf, Chain, Traffic  # noqa: E402
from chainbench.trace import (  # noqa: E402
    TracedSnapshot, TracedStore, Tracer, beyond, percentile, tail_level,
)
from eth_indexer_spark.sinks.backend import StoreBackend  # noqa: E402

SMALL = Traffic(tx_per_block=(3, 6), n_addresses=200, n_tokens=2, n_subs=20, n_groups=3)


def _history(seed: int) -> list:
    ch = Chain(seed, SMALL)
    ch.extend(5)
    ch.fork(2, win=True)
    ch.fork(1, win=False)
    ch.extend(2)
    return [(h, ch.blocks[h]["txs"], ch.blocks[h]["logs"], ch.blocks[h]["deltas"])
            for h in sorted(ch.blocks)], ch.canonical


def test_generator_is_deterministic_per_seed():
    assert _history(7) == _history(7)
    assert _history(7) != _history(8)


def test_winning_fork_becomes_canonical_and_losing_fork_does_not():
    ch = Chain(1, SMALL)
    ch.extend(6)
    old = list(ch.canonical)
    lost = ch.fork(2, win=False)
    assert ch.canonical == old and all(b["header"]["hash"] not in old for b in lost)
    won = ch.fork(2, win=True)
    assert ch.canonical[:4] == old[:4]
    assert ch.canonical[4:] == [b["header"]["hash"] for b in won]
    assert len(ch.canonical) == 7


def test_expected_state_sums_canonical_deltas_only():
    ch = Chain(3, SMALL)
    ch.extend(4)
    ch.fork(1, win=True)
    exp = ch.expected_state()
    asof = AsOf(ch, ch.canonical_blocks())
    for (token, addr), bal in exp["balances"].items():
        assert bal == asof.balance(token, addr, exp["head_number"])
    assert exp["td"] == sum(b["header"]["difficulty"] for b in ch.canonical_blocks())
    assert sum(exp["totals"].values()) == sum(exp["balances"].values())
    assert any(v for (t, _), v in exp["balances"].items() if t == ETH)


def test_big_token_amounts_exceed_30_digits():
    ch = Chain(2, Traffic(tx_per_block=(50, 50), big_token=True, token_share=1.0))
    ch.extend(2)
    big = ch.big_tokens[0]
    values = [int.from_bytes(lg["data"], "big") for b in ch.canonical_blocks()
              for lg in b["logs"] if lg["contract_address"] == big]
    assert values and all(len(str(v)) > 30 for v in values)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert tail_level(10) is None
    assert tail_level(20) == 50.0
    assert tail_level(44) == 75.0
    assert tail_level(100) == 90.0
    assert tail_level(10_000) == 99.9
    for n in (20, 37, 44, 99, 100, 250, 1000):
        p = tail_level(n)
        assert beyond(n, p) >= 10
        higher = [q for q in (75.0, 90.0, 95.0, 99.0, 99.9) if q > p]
        assert all(beyond(n, q) < 10 for q in higher)
    xs = list(range(1, 101))
    assert percentile(xs, 90.0) == 90 and percentile(xs, 50.0) == 50


def test_benchmark_json_lists_the_gated_per_layer_metrics():
    import json

    from chainbench.workloads import adhoc_units, per_layer_units

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    assert declared == per_layer_units()
    assert not set(adhoc_units()) & set(declared)


class _FakeSC:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group


class _FakeSpark:
    sparkContext = _FakeSC()


class _Recorder:
    """Answers every method with its own name and arguments; its snapshot
    is another recorder."""

    def snapshot(self):
        return _Recorder()

    def __getattr__(self, name):
        return lambda *a, **k: (name, a, k)


def test_traced_store_satisfies_the_backend_contract():
    assert not TracedStore.__abstractmethods__
    missing = [m for m in StoreBackend.__abstractmethods__ if m not in TracedStore.__dict__]
    assert not missing, missing
    tracer = Tracer(_FakeSpark())
    store = TracedStore(_Recorder(), tracer)
    assert isinstance(store, StoreBackend)
    assert store.read_range("balances", 1, 9) == ("read_range", ("balances", 1, 9), {})
    assert store.write_blocks({"t": 1}, (2, 3)) == ("write_blocks", ({"t": 1}, (2, 3)), {})
    assert store.optimize("balances") == ("optimize", ("balances",), {})
    assert [s["name"] for s in tracer.spans] == ["sink.read_range", "sink.write_blocks",
                                                 "sink.optimize"]
    assert _FakeSpark.sparkContext.props["spark.jobGroup.id"] is None


def test_traced_snapshot_keeps_the_guard_surface():
    tracer = Tracer(_FakeSpark())
    snap = TracedStore(_Recorder(), tracer).snapshot()
    assert isinstance(snap, TracedSnapshot)
    assert snap.guard() == ("guard", (), {})
    assert snap.check() == ("check", (), {})
    assert snap.collect("df") == ("collect", ("df",), {})
    assert snap.read_eq("block_headers", 4) == ("read_eq", ("block_headers", 4), {})
    assert snap.snapshot() is snap
    with tracer.span("outer"):
        snap.max_block("block_headers")
    outer = tracer.named("outer")[0]
    assert tracer.named("sink.max_block")[-1]["parent"] == outer["id"]
    assert outer["child_s"] <= outer["s"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from eth_indexer_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    return get_spark("chainbench-test", cpus=2, extra_conf={"spark.local.dir": str(local)})


def test_ledger_matches_the_indexer_on_a_chain_with_forks(spark, tmp_path):
    """The expected ledger and the indexer agree after appends, a losing
    fork, a winning fork and a fork that opens a gap; a tampered ledger
    is caught."""
    from chainbench.ingest import IngestRun, Spec
    from chainbench.trace import reorg_spans

    spec = Spec(traffic=SMALL, preseed=5, schedule=())
    tracer = Tracer(spark)
    r = IngestRun(spark, str(tmp_path / "run"), 5, spec, tracer)
    with reorg_spans(tracer):
        r.setup()
        for op in (("append", 1), ("append", 1), ("append", 1), ("lose", 1), ("win", 2),
                   ("append", 1), ("gapwin", 1)):
            r._op(*op)
    assert r.failures == []
    assert r.verify() == []
    assert r.wins == 2
    actions = [s["action"] for s in tracer.named("reorg.check")]
    assert actions == ["bootstrap", "append", "append", "append", "ignore_losing_fork",
                       "reorg", "append", "gap", "reorg"]
    assert len(tracer.named("source.header_by_hash")) >= 3
    some_sub = r.chain.subs[0]
    r.chain.head["deltas"][(ETH, some_sub)] = r.chain.head["deltas"].get((ETH, some_sub), 0) + 1
    assert any("balances" in msg for msg in r.verify())
