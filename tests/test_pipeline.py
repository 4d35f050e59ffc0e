"""Golden tests: Spark pipeline transforms vs the independent pure-Python
model in fixtures.py (the strategy of store/transfer_processor_test.go —
hand-computable fee/reward/balance math over deterministic blocks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_indexer_spark.functions.hexutils import abi_uint256
from eth_indexer_spark.pipeline import transform as tr
from eth_indexer_spark.schema import ETH_TOKEN
from tests.fixtures import ETH, T1, A1, A2, A3, A9, RAW_SCHEMAS, build_raw, expected_model


@pytest.fixture(scope="module")
def raw(spark):
    pdfs = build_raw()
    dfs = {}
    for name, pdf in pdfs.items():
        dfs[name] = spark.createDataFrame(pdf, schema=RAW_SCHEMAS[name])
    return dfs


@pytest.fixture(scope="module")
def model():
    return expected_model()


@pytest.fixture(scope="module")
def headers(raw):
    return tr.compute_header_rewards(
        raw["block_headers_raw"], raw["transactions"], raw["transaction_receipts"]
    )


@pytest.fixture(scope="module")
def events(raw, headers):
    # the state-diff path: covers top-level value transfers AND internal
    # (contract-executed) ether moves the fixtures include at block 102
    eth = tr.eth_transfer_events(raw["transfer_logs"])
    erc = tr.extract_erc20_transfers(raw["receipt_logs"], raw["erc20"])
    rew = tr.reward_events(headers)
    return eth.unionByName(erc).unionByName(rew)


def test_internal_transfer_visible_only_to_state_diff(raw):
    """The block-102 internal transfer (tx.amount == 0) appears in the
    state-diff events and NOT in the tx.value fallback — the exact gap the
    reference closes with debug_getTransferLogs (indexer.go:443-467)."""
    from tests.fixtures import CONTRACT

    diff_ev = tr.eth_transfer_events(raw["transfer_logs"]).filter(
        (F.col("block_number") == 102) & (F.col("from") == CONTRACT)
    )
    assert diff_ev.count() == 1
    assert diff_ev.collect()[0]["value"] == "55"
    fallback = tr.extract_eth_transfers(raw["transactions"]).filter(
        F.col("block_number") == 102
    )
    assert fallback.count() == 0


def test_header_rewards(headers, model):
    got = {
        r["number"]: r
        for r in headers.select(
            "number", "txs_fee", "uncles_inclusion_reward", "miner_reward",
            "uncle1_reward", "uncle2_reward",
        ).collect()
    }
    for number, exp in model["header_rewards"].items():
        row = got[number]
        for col, v in exp.items():
            assert row[col] == str(v), f"block {number} {col}: {row[col]} != {v}"


def test_events_match_model(events, model):
    got = {
        (r["token"], r["block_number"], r["tx_hash"], r["from"], r["to"], int(r["value"]))
        for r in events.collect()
    }
    want = {(t, n, h, f, to, v) for t, n, h, f, to, v in model["events"]}
    assert got == want


def test_unregistered_token_ignored(raw):
    """FIXTURES scenario 2: Transfer-shaped logs from unregistered contracts
    are dropped (store/event_erc20.go:42)."""
    erc = tr.extract_erc20_transfers(raw["receipt_logs"], raw["erc20"])
    tokens = {r["token"] for r in erc.select("token").distinct().collect()}
    assert tokens == {T1}


def test_exact_uint256_values(events):
    """FIXTURES scenario 6: values > 1e38 survive extraction exactly."""
    big = {
        int(r["value"])
        for r in events.filter(F.col("block_number") == 104).collect()
    }
    assert 10**39 in big          # ERC20 ABI-decoded
    assert 2 * 10**39 in big      # ETH amount passthrough


def test_abi_uint256_matches_python_int(spark):
    """The JVM decode equals ``str(int.from_bytes(b, "big"))`` across the
    full uint256 range, NULL and empty data, and a payload longer than one
    ABI word."""
    payloads = [
        None,
        b"",
        b"\x07",
        bytes(31) + b"\x0a",
        bytes(20) + (2**96 - 1).to_bytes(12, "big"),
        (10**38).to_bytes(32, "big"),
        (2**255 + 12345).to_bytes(32, "big"),
        (2**256 - 1).to_bytes(32, "big"),
        b"\x01" + (2**256 - 1).to_bytes(32, "big"),
    ]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(payloads)], "i int, data binary")
    got = {r["i"]: r["v"] for r in df.select("i", abi_uint256("data").alias("v")).collect()}
    want = {
        i: None if b is None else str(int.from_bytes(b, "big"))
        for i, b in enumerate(payloads)
    }
    assert got == want


def test_erc20_extraction_runs_no_python_udf(raw):
    plan = tr.extract_erc20_transfers(
        raw["receipt_logs"], raw["erc20"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_tx_fees(raw, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    got = {(r["block_number"], r["address"]): int(r["fee"]) for r in fees.collect()}
    assert got == {k: v for k, v in model["fees"].items()}


def test_changed_addresses(raw, events, model):
    got = {
        (r["block_number"], r["address"])
        for r in tr.changed_addresses(raw["transactions"], events).collect()
    }
    want = set()
    for t, n, _h, f, to, v in model["events"]:
        if f not in (tr.MINER_REWARD_FROM, tr.UNCLE_REWARD_FROM):
            want.add((n, f))
        want.add((n, to))
    for (n, a) in model["fees"]:
        want.add((n, a))
    assert got == want


def test_subscribed_events_filter(raw, events):
    """J5: only events touching a subscribed address are persisted
    (transfer_processor.go:163-177)."""
    sub_evts = tr.subscribed_events(events, raw["subscriptions"])
    subscribed = {A1, A2, A3}
    rows = sub_evts.collect()
    assert rows, "no subscribed events"
    for r in rows:
        assert r["from"] in subscribed or r["to"] in subscribed
    # miner reward of block 104 goes to unsubscribed A9 → excluded
    b104 = [r for r in rows if r["block_number"] == 104 and r["from"] == tr.MINER_REWARD_FROM]
    assert not b104


def test_subscribed_events_keeps_genuine_duplicates(spark, raw):
    """Two identical-value transfers to a subscribed address in one tx are
    BOTH kept — the filter must be a membership test, not a dedup."""
    ev = spark.createDataFrame(
        [("tok", 100, "tx1", A9, A1, "5"), ("tok", 100, "tx1", A9, A1, "5")],
        "token string, block_number long, tx_hash string, "
        "`from` string, `to` string, value string",
    )
    assert tr.subscribed_events(ev, raw["subscriptions"]).count() == 2


def test_ledger_deltas(raw, events, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    deltas = tr.ledger_deltas(events, fees)
    got = {
        (r["token"], r["block_number"], r["address"]): int(r["delta"])
        for r in deltas.collect()
    }
    assert got == dict(model["deltas"])


def test_ledger_deltas_fast_path_matches_exact(raw, events):
    """The DECIMAL(38,0) fast path and the exact pandas path must agree
    wherever both are valid. Block 104 carries >1e38 values (forcing the
    exact path on the full batch — covered by test_ledger_deltas); here the
    small-value sub-batch is computed via both forced paths."""
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    small_events = events.filter(F.col("block_number") != 104)
    small_fees = fees.filter(F.col("block_number") != 104)

    def collect(df):
        return {
            (r["token"], r["block_number"], r["address"]): int(r["delta"])
            for r in df.collect()
        }

    fast = collect(tr.ledger_deltas(small_events, small_fees, exact=False))
    slow = collect(tr.ledger_deltas(small_events, small_fees, exact=True))
    assert fast == slow and fast

    # auto-detect: small batch takes the fast path (same result), big batch
    # must not overflow-null anything
    auto = collect(tr.ledger_deltas(small_events, small_fees))
    assert auto == fast
    full_auto = collect(tr.ledger_deltas(events, fees))
    assert all(v is not None for v in full_auto.values())
    assert any(abs(v) >= 10**39 for v in full_auto.values())


def test_balance_snapshots(raw, events, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    deltas = tr.ledger_deltas(events, fees)
    snaps = tr.balance_snapshots(deltas, raw["subscriptions"], raw["seed_balances"])
    got = {
        (r["token"], r["block_number"], r["address"]): (int(r["balance"]), r["group"])
        for r in snaps.collect()
    }
    want = {(t, n, a): (b, g) for t, n, a, b, g in model["snapshots"]}
    assert got == want


def test_snapshots_and_rollup_fast_path_matches_exact(raw, events):
    """The JVM DECIMAL(38,0) window prefix sums must agree with the exact
    pandas paths wherever both are valid (no >30-digit values) — the
    extension of the ledger_deltas fast path to the remaining carry-forward
    stages."""
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    small_events = events.filter(F.col("block_number") != 104)
    small_fees = fees.filter(F.col("block_number") != 104)
    deltas = tr.ledger_deltas(small_events, small_fees, exact=False)
    small_seed = raw["seed_balances"].filter(F.length("balance") <= 30)

    def snap(exact):
        return {
            (r["token"], r["block_number"], r["address"]): (int(r["balance"]), r["group"])
            for r in tr.balance_snapshots(
                deltas, raw["subscriptions"], small_seed, exact=exact
            ).collect()
        }

    assert snap(False) == snap(True) and snap(False)

    subs = raw["subscriptions"]
    sd = deltas.join(F.broadcast(subs.select("address", "group")), "address")

    def roll(exact):
        return {
            (r["token"], r["block_number"], r["group"]): int(r["balance"])
            for r in tr.total_balance_rollup(sd, small_fees, small_events, subs, exact=exact).collect()
        }

    assert roll(False) == roll(True) and roll(False)

    # auto-probe: >1e38 values route the whole stage through the exact path
    big_deltas = tr.ledger_deltas(events, fees)
    auto = tr.balance_snapshots(big_deltas, subs, raw["seed_balances"]).collect()
    assert all(r["balance"] is not None for r in auto)
    assert any(abs(int(r["balance"])) >= 10**39 for r in auto)


def test_total_balance_rollup(raw, events, model):
    fees = tr.tx_fees(raw["transactions"], raw["transaction_receipts"])
    deltas = tr.ledger_deltas(events, fees)
    subs = raw["subscriptions"]
    sd = deltas.join(F.broadcast(subs.select("address", "group")), "address")
    totals = tr.total_balance_rollup(sd, fees, events, subs)
    got = {
        (r["token"], r["block_number"], r["group"]): (
            int(r["balance"]), int(r["tx_fee"]), int(r["miner_reward"]), int(r["uncles_reward"])
        )
        for r in totals.collect()
    }
    want = {
        (t, n, g): (b, f, m, u) for t, n, g, b, f, m, u in model["totals"]
    }
    assert got == want


def test_new_token_backfill(raw, spark):
    """A8: registering T1 at block 100 seeds per-group totals from the
    latest stored balances (SEED_BALANCES: A1@90=1e40, A2@95=1e4 in group 1;
    A3@95=50 in group 2; the A3@80 row is superseded)."""
    totals = tr.new_token_backfill(raw["seed_balances"], raw["subscriptions"], T1, 100)
    got = {
        (r["token"], r["block_number"], r["group"]): int(r["balance"])
        for r in totals.collect()
    }
    assert got == {(T1, 100, 1): 10**40 + 10000, (T1, 100, 2): 50}
    fees = {(r["tx_fee"], r["miner_reward"], r["uncles_reward"]) for r in totals.collect()}
    assert fees == {("0", "0", "0")}


def test_total_difficulty(raw, headers, model):
    td = tr.total_difficulty(headers)
    got = {(r["block"], r["hash"]): int(r["td"]) for r in td.collect()}
    want = {(n, h): v for n, h, v in model["td"]}
    assert got == want


def test_eth_token_sentinel():
    assert ETH == ETH_TOKEN
