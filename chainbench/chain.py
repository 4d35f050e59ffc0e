"""Seeded synthetic chain generator and its expected ledger.

The generator produces geth-shaped raw tables (headers, transactions,
receipts, ERC20 logs) for a canonical chain plus fork branches, in the
column layout of ``eth_indexer_spark.schema.RAW_SCHEMAS``. Its parameters
are the traffic dimensions the indexer's cost depends on (:class:`Traffic`).

The ledger side is plain Python ints, written independently of the
pipeline: per block it records the balance delta of every subscribed
``(token, address)``, so the expected final state of any canonical chain
(balances, group totals, total difficulty, head) and any as-of read can be
computed without Spark. It follows the same rules as the engine's reference
model in ``tests/fixtures.py::expected_model``: tx value moves ether, every
tx pays ``gas_price * gas_used``, registered-token Transfer logs move
tokens, the miner earns base + fees + uncle inclusion and each uncle's
coinbase earns ``(8 + uncle_n - n) * base / 8``.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass
from datetime import datetime

import numpy as np

ETH = "0000000000000000000000000000000000455448"
TRANSFER_SIG = "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
BASE_REWARD = 5 * 10**18  # every generated block is below Byzantium
NOW = datetime(2024, 1, 1)

# difficulty per block: canonical blocks draw from CANON_DIFF; a winning fork
# uses WIN_DIFF per block so it outweighs the blocks it replaces, a losing
# fork LOSE_DIFF so it never does
CANON_DIFF = (100, 150)
WIN_DIFF = 400
LOSE_DIFF = 10


@dataclass(frozen=True)
class Traffic:
    """The traffic dimensions of one generated chain.

    Only ``tx_per_block`` follows a public figure. The others have no
    measured source; README.md ("Chain traffic") shows that the gated
    ``head`` metrics do not move when all of them go to their low or high
    ends together, although the balance rows per block change 70-fold.
    """

    # mainnet density: Etherscan's daily transaction and block counts give
    # roughly 150-200 transactions per block over 2021-2023
    tx_per_block: tuple[int, int] = (100, 200)
    # no source: a scaled-down universe; it only sets how often a draw hits
    # a subscribed address
    n_addresses: int = 20_000
    # no source: skew of address activity (rank ** -s); heavy-tailed
    # activity is widely reported, its exponent is not reproduced here
    zipf_s: float = 1.1
    n_tokens: int = 4  # no source: registered ERC20 tokens, amounts below 1e22
    big_token: bool = False  # one more registered token with >30-digit amounts
    token_share: float = 0.3  # no source: share of txs that are ERC20 transfers
    # no source: the reference indexes whatever addresses its users
    # subscribe; bench_ingest.py uses 100 subscriptions
    n_subs: int = 400
    n_groups: int = 8  # no source
    n_miners: int = 16  # no source: only picks which address earns the reward
    # no source: the order of the pre-merge uncle rate (a few to ten percent
    # of blocks), not checked against a dataset
    uncle_share: float = 0.1


def address(i: int) -> str:
    # a fixed odd multiplier scatters activity rank over the address space
    return f"{(i * 0x9E3779B97F4A7C15 + 0x1F) % (1 << 160):040x}"


def block_hash(branch: int, number: int) -> str:
    return f"{branch:08x}{number:056x}"


class Chain:
    """A seeded chain: canonical blocks plus any fork branches made so far.

    ``blocks`` maps block hash to the block record; ``canonical`` lists the
    hashes of the current canonical chain in number order (index 0 is block
    1). Every random draw comes from one generator seeded by ``seed``, so
    the same seed and the same call sequence give the same chain.
    """

    def __init__(self, seed: int, traffic: Traffic):
        self.traffic = traffic
        self.rng = np.random.default_rng(seed)
        t = traffic
        w = 1.0 / np.arange(1, t.n_addresses + 1) ** t.zipf_s
        self._p = w / w.sum()
        subs = self.rng.choice(t.n_addresses, size=t.n_subs, replace=False, p=self._p)
        self.subs = [address(int(i)) for i in subs]
        self.group = {a: i % t.n_groups for i, a in enumerate(self.subs)}
        self.miners = [address(int(i)) for i in self.rng.choice(64, size=t.n_miners, replace=False)]
        self.tokens = [address(t.n_addresses + 1 + k) for k in range(t.n_tokens)]
        self.big_tokens = [address(t.n_addresses + 100)] if t.big_token else []
        self.unregistered = address(t.n_addresses + 200)
        self.blocks: dict[str, dict] = {}
        self.canonical: list[str] = []
        self._next_branch = 1

    # -- dimensions handed to the ingestor --------------------------------

    def registered(self) -> list[str]:
        return self.tokens + self.big_tokens

    def subscriptions_rows(self) -> list[dict]:
        """All subscriptions start new (block_number 0): the first batch
        stamps them with opening balances derived from the ledger."""
        return [
            {"id": i + 1, "block_number": 0, "group": self.group[a], "address": a,
             "created_at": NOW, "updated_at": NOW}
            for i, a in enumerate(self.subs)
        ]

    def erc20_rows(self) -> list[dict]:
        return [
            {"address": a, "block_number": 0, "total_supply": str(10**33),
             "decimals": 18, "name": f"Token{k}"}
            for k, a in enumerate(self.registered())
        ]

    # -- block generation ---------------------------------------------------

    @property
    def head(self) -> dict | None:
        return self.blocks[self.canonical[-1]] if self.canonical else None

    def _make_block(self, number: int, parent: str, branch: int, difficulty: int) -> dict:
        t, rng = self.traffic, self.rng
        h = block_hash(branch, number)
        n_tx = int(rng.integers(t.tx_per_block[0], t.tx_per_block[1] + 1))
        frm = rng.choice(t.n_addresses, size=n_tx, p=self._p)
        to = rng.choice(t.n_addresses, size=n_tx, p=self._p)
        is_tok = rng.random(n_tx) < t.token_share
        gas_price = rng.integers(10**9, 10**11, size=n_tx)
        gas_used = rng.integers(21_000, 200_000, size=n_tx)
        coinbase = self.miners[int(rng.integers(0, len(self.miners)))]
        registered = self.registered()
        # token choice per tx: index into registered + unregistered
        tok_idx = rng.integers(0, len(registered) + 1, size=n_tx)
        # no source: ether below 1e18 wei, tokens below 1e21 units, so every
        # value stays under the pipeline's 30-digit guard and only big_token
        # sends a batch down the exact uint256 path
        eth_amt = rng.integers(0, 10**6, size=n_tx)
        tok_amt = rng.integers(1, 10**6, size=n_tx)
        uncle = rng.random() < t.uncle_share
        uncle_cb = self.miners[int(rng.integers(0, len(self.miners)))]
        uncle_n = number - 1 - int(rng.integers(0, 2))

        deltas: dict[tuple[str, str], int] = {}
        sub = self.group

        def credit(token: str, a: str, v: int) -> None:
            if a in sub and v:
                deltas[(token, a)] = deltas.get((token, a), 0) + v

        txs, receipts, logs = [], [], []
        fee_total, cum_gas = 0, 0
        for i in range(n_tx):
            a_from, a_to = address(int(frm[i])), address(int(to[i]))
            if a_from == a_to:
                a_to = address((int(to[i]) + 1) % t.n_addresses)
            th = f"{branch:08x}{number:024x}{i:032x}"
            fee = int(gas_price[i]) * int(gas_used[i])
            fee_total += fee
            cum_gas += int(gas_used[i])
            credit(ETH, a_from, -fee)
            amount = 0
            contract = None
            if is_tok[i]:
                contract = (registered + [self.unregistered])[int(tok_idx[i])]
                if contract in self.big_tokens:
                    value = int(tok_amt[i]) * 10**30 + int(tok_amt[i])
                else:
                    value = int(tok_amt[i]) * 10**15
                logs.append({
                    "tx_hash": th, "block_number": number, "contract_address": contract,
                    "event_name": TRANSFER_SIG, "topic1": a_from.rjust(64, "0"),
                    "topic2": a_to.rjust(64, "0"), "topic3": None,
                    "data": value.to_bytes(32, "big"), "log_index": 0,
                })
                if contract in registered:
                    credit(contract, a_from, -value)
                    credit(contract, a_to, value)
            else:
                amount = int(eth_amt[i]) * 10**12
                credit(ETH, a_from, -amount)
                credit(ETH, a_to, amount)
            txs.append({
                "hash": th, "block_hash": h, "from": a_from,
                "to": contract if contract is not None else a_to, "nonce": i,
                "gas_price": int(gas_price[i]), "gas_limit": int(gas_used[i]) * 2,
                "amount": str(amount), "payload": b"", "block_number": number,
            })
            receipts.append({
                "root": "55" * 32, "status": 1, "cumulative_gas_used": cum_gas,
                "bloom": b"\x00" * 8, "tx_hash": th, "contract_address": None,
                "gas_used": int(gas_used[i]), "block_number": number,
            })

        incl = BASE_REWARD // 32 if uncle else 0
        credit(ETH, coinbase, BASE_REWARD + fee_total + incl)
        if uncle:
            credit(ETH, uncle_cb, (8 + uncle_n - number) * BASE_REWARD // 8)
        header = {
            "hash": h, "parent_hash": parent, "uncle_hash": "00" * 32,
            "coinbase": coinbase, "root": "11" * 32, "tx_hash": "22" * 32,
            "receipt_hash": "33" * 32, "difficulty": difficulty, "number": number,
            "gas_limit": 30_000_000, "gas_used": cum_gas,
            "time": 1_700_000_000 + 12 * number, "extra_data": b"",
            "mix_digest": "44" * 32, "nonce": f"{number:016x}",
            "uncle1_hash": f"{branch:08x}{number:024x}{'f' * 32}" if uncle else "",
            "uncle1_coinbase": uncle_cb if uncle else "",
            "uncle1_number": uncle_n if uncle else None,
            "uncle2_hash": "", "uncle2_coinbase": "", "uncle2_number": None,
            "created_at": NOW,
        }
        return {
            "header": header, "txs": txs, "receipts": receipts, "logs": logs,
            "deltas": deltas, "branch": branch,
        }

    def _new_branch(self) -> int:
        b = self._next_branch
        self._next_branch += 1
        return b

    def _build(self, parent: str | None, first_n: int, count: int, difficulty) -> list[dict]:
        branch = self._new_branch()
        out = []
        for k in range(count):
            diff = difficulty if isinstance(difficulty, int) else int(
                self.rng.integers(difficulty[0], difficulty[1] + 1)
            )
            b = self._make_block(first_n + k, parent or "00" * 32, branch, diff)
            self.blocks[b["header"]["hash"]] = b
            parent = b["header"]["hash"]
            out.append(b)
        return out

    def extend(self, count: int) -> list[dict]:
        """Append ``count`` canonical blocks on the current head."""
        head = self.head
        first = head["header"]["number"] + 1 if head else 1
        out = self._build(head["header"]["hash"] if head else None, first, count, CANON_DIFF)
        self.canonical += [b["header"]["hash"] for b in out]
        return out

    def fork(self, depth: int, win: bool, extra: int = 1) -> list[dict]:
        """A branch off block ``head - depth``. A winning branch has
        ``depth + extra`` heavy blocks and becomes canonical; a losing one
        has ``depth`` light blocks and changes nothing."""
        fork_n = self.head["header"]["number"] - depth
        parent = self.canonical[fork_n - 1]
        if win:
            out = self._build(parent, fork_n + 1, depth + extra, WIN_DIFF)
            self.canonical = self.canonical[:fork_n] + [b["header"]["hash"] for b in out]
        else:
            out = self._build(parent, fork_n + 1, depth, LOSE_DIFF)
        return out

    # -- expected ledger ---------------------------------------------------

    def canonical_blocks(self) -> list[dict]:
        return [self.blocks[h] for h in self.canonical]

    def prefix(self, tip: str) -> list[dict]:
        """The chain ending at block ``tip``, oldest first."""
        out = []
        while tip in self.blocks:
            out.append(self.blocks[tip])
            tip = self.blocks[tip]["header"]["parent_hash"]
        return out[::-1]

    def expected_state(self) -> dict:
        """Final state of the canonical chain: latest balance per subscribed
        ``(token, address)``, latest total per ``(token, group)``, total
        difficulty and hash of the head."""
        tokens = [ETH] + self.registered()
        bal = {(t, a): 0 for t in tokens for a in self.subs}
        td = 0
        for b in self.canonical_blocks():
            td += b["header"]["difficulty"]
            for k, v in b["deltas"].items():
                bal[k] += v
        totals: dict[tuple[str, int], int] = {}
        for (t, a), v in bal.items():
            key = (t, self.group[a])
            totals[key] = totals.get(key, 0) + v
        return {
            "balances": bal,
            "totals": totals,
            "td": td,
            "head_number": self.head["header"]["number"],
            "head_hash": self.head["header"]["hash"],
            "blocks": {b["header"]["number"]: (b["header"]["hash"], len(b["txs"]))
                       for b in self.canonical_blocks()},
        }


class AsOf:
    """As-of balances and group totals over one chain (``blocks``, oldest
    first), for checking point reads: the value of a key at block ``n`` is
    the sum of its deltas over the chain's blocks ``<= n``."""

    def __init__(self, chain: Chain, blocks: list[dict]):
        self._acct: dict[tuple[str, str], tuple[list[int], list[int]]] = {}
        self._group: dict[tuple[str, int], tuple[list[int], list[int]]] = {}
        for b in blocks:
            n = b["header"]["number"]
            gsum: dict[tuple[str, int], int] = {}
            for (t, a), v in b["deltas"].items():
                self._push(self._acct, (t, a), n, v)
                g = (t, chain.group[a])
                gsum[g] = gsum.get(g, 0) + v
            for g, v in gsum.items():
                self._push(self._group, g, n, v)

    @staticmethod
    def _push(index: dict, key, n: int, v: int) -> None:
        ns, cum = index.setdefault(key, ([], []))
        ns.append(n)
        cum.append((cum[-1] if cum else 0) + v)

    @staticmethod
    def _at(index: dict, key, n: int) -> int:
        ns, cum = index.get(key, ([], []))
        i = bisect.bisect_right(ns, n)
        return cum[i - 1] if i else 0

    def balance(self, token: str, addr: str, n: int) -> int:
        return self._at(self._acct, (token, addr), n)

    def total(self, token: str, group: int, n: int) -> int:
        return self._at(self._group, (token, group), n)
