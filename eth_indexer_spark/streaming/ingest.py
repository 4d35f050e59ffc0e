"""Streaming ingest shell (SURVEY §2.1 S1/S6, §2.9, §7.5): the EP1 lifecycle
(service/indexer/indexer.go:122-327) as Structured Streaming ``foreachBatch``
over micro-batches of block headers.

Per micro-batch:

1. **Order + dedup** — sort by number, drop (number, hash) duplicates, drop
   headers already stored verbatim (old-block skip, indexer.go:141-144).
2. **Reorg check** (:mod:`eth_indexer_spark.streaming.reorg`) — parent-hash
   continuity against the stored head; fork ⇒ TD race ⇒ either ignore or
   retract [fork+1, head] and replay the new branch; gap ⇒ backfill headers
   from the source first (indexer.go:218-246).
3. **Ingest** in chunks of ≤ ``MAX_BLOCKS_PER_BATCH`` (= the reference's
   ``maxBlocksToInsert`` 50, indexer.go:39): fetch the raw tables for the
   chunk's block hashes (S2/S3 seam), run the batch transform pipeline
   (pipeline/transform.py) seeded from the store's current state, and commit
   through the idempotent partition-overwrite sink (sinks/store.py).

Scale notes: only the *headers* of a micro-batch are driver-resident (tiny,
bounded by the trigger); the raw tables, pipeline, and sink writes are all
distributed. The strictly-sequential constraint the reference enforces with
a single consumer thread (indexer.go:137-139) is needed only for the
carry-forward aggregates, which the pipeline expresses as per-key windowed
prefix sums *within* the batch and seeds *across* batches from the store —
batches commit in order because foreachBatch is serial per query.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from eth_indexer_spark.pipeline import transform as X
from eth_indexer_spark.schema import (
    BLOCK_HEADERS,
    ERC20,
    ETH_TOKEN,
    RAW_SCHEMAS,
    REORGS,
)
from eth_indexer_spark.sinks.store import ParquetStore
from eth_indexer_spark.streaming.reorg import ReorgDecision, check_reorg

# the reference's maxBlocksToInsert (indexer.go:38-40)
MAX_BLOCKS_PER_BATCH = 50
# stored-header lookup window for fork detection = max detectable reorg depth
REORG_WINDOW = 512

_HEADER_COLS = [f.name for f in BLOCK_HEADERS.fields]


class BlockIngestor:
    """Drives source → pipeline → sink for one chain. Holds no state beyond
    the store — head/TD are re-read per batch, so a restarted job resumes
    exactly where the store left off (checkpoint-free idempotency; the
    streaming checkpoint only positions the *source*)."""

    def __init__(
        self,
        spark: SparkSession,
        store: ParquetStore,
        source,
        subscriptions: DataFrame,
        erc20: DataFrame,
        balancer=None,
        metadata_fn=None,
    ):
        self.spark = spark
        self.store = store
        self.source = source
        self.subscriptions = subscriptions
        self.erc20 = erc20
        # chain-state lookup seam (sources/chain.py LookupFn) for
        # new-subscription opening balances — the DEFAULT deploy path, like
        # the reference's batched balance RPC (client/balancer.go:43-116):
        # O(new subs × tokens) per batch. Passing balancer=None explicitly
        # falls back to deriving openings from the engine's own stored
        # ledger — an O(stored history) scan per new-sub batch, acceptable
        # only where no node RPC is reachable
        self.balancer = balancer
        # optional token-metadata seam (sources/chain.py MetadataFn) backing
        # register_token when the caller omits name/total_supply/decimals —
        # the reference reads them from the contract (client/client.go:112-148)
        self.metadata_fn = metadata_fn

    # -- stored-chain state ---------------------------------------------------

    def _stored_recent(self) -> dict[int, dict]:
        head = self.store.max_block("block_headers")
        if head is None:
            return {}
        rows = (
            self.store.read_range("block_headers", head - REORG_WINDOW, head)
            .select("number", "hash", "parent_hash")
            .collect()
        )
        return {r["number"]: r.asDict() for r in rows}

    def _td_at(self, n: int) -> int:
        if n < 0 or not self.store.exists("total_difficulty"):
            return 0
        row = self.store.read_range("total_difficulty", n, n).collect()
        return int(row[0]["td"]) if row else 0

    # -- entry points ----------------------------------------------------------

    def process_headers(self, headers: list[dict]) -> str:
        """Apply one micro-batch of raw header dicts. Returns the action."""
        seen: dict[tuple[int, str], dict] = {}
        for h in sorted(headers, key=lambda x: x["number"]):
            seen[(h["number"], h["hash"])] = h
        incoming = list(seen.values())

        decision = check_reorg(
            self._stored_recent(), incoming, self.source.header_by_hash, self._td_at
        )
        self._apply(decision)
        return decision.action

    def process_batch(self, headers_df: DataFrame, batch_id: int | None = None) -> str:
        """foreachBatch adapter."""
        return self.process_headers([r.asDict() for r in headers_df.collect()])

    # -- EP2: token registration ------------------------------------------------

    def register_token(
        self,
        address: str,
        name: str | None = None,
        total_supply: str | None = None,
        decimals: int | None = None,
        at_block: int | None = None,
    ) -> None:
        """EP2 (service/indexer/indexer.go:88-120, store/account/account.go:
        81-123, store/new_erc20.go:41-175): register an ERC20 token — upsert
        the registry row stamped with the registration block, and backfill
        ``total_balances`` for every subscription group from the stored
        balances as-of that block. The reference additionally CREATEs two
        per-token tables; the token partition column makes that a no-op here
        (SURVEY §1.1).

        Metadata fields left as None are read from the contract through the
        ``metadata_fn`` seam (client/client.go:112-148 — name/totalSupply/
        decimals eth_calls; deterministic fake when no node is plugged in)."""
        if name is None or total_supply is None or decimals is None:
            from eth_indexer_spark.sources.chain import fetch_token_metadata

            meta = fetch_token_metadata(address, self.metadata_fn)
            name = meta["name"] if name is None else name
            total_supply = meta["total_supply"] if total_supply is None else total_supply
            decimals = meta["decimals"] if decimals is None else decimals
        if at_block is None:
            stored = self._stored_recent()
            at_block = max(stored) if stored else 0

        row = {
            "address": address,
            "block_number": at_block,
            "total_supply": total_supply,
            "decimals": decimals,
            "name": name,
        }
        new = self.spark.createDataFrame([row], ERC20)
        if self.store.exists("erc20"):
            merged = (
                self.store.read("erc20")
                .filter(F.col("address") != address)
                .localCheckpoint()
                .unionByName(new)
            )
        else:
            merged = new
        self.store.update_dimension("erc20", merged)
        self.erc20 = self.store.read("erc20")

        if not self.store.exists("balances"):
            return
        backfill = X.new_token_backfill(
            self.store.read("balances"), self.subscriptions, address, at_block
        ).localCheckpoint()

        # per-address opening rows for the token — the reference's
        # new_erc20.go inserts a balance row for every subscription page
        # (new_erc20.go:41-175, balancer-fetched); ledger-derived here:
        # latest stored token balance as-of the registration block, 0 for
        # non-holders. Keeps the old-sub missing-prev guard satisfiable for
        # post-registration activity.
        w = W.partitionBy("address").orderBy(F.desc("block_number"))
        latest_tok = (
            self.store.read("balances")
            .filter((F.col("token") == address) & (F.col("block_number") <= at_block))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("address", F.col("balance").alias("__b"))
        )
        init_bal = (
            self.subscriptions.filter(F.col("block_number") > 0)
            .select("address", "group")
            .join(latest_tok, "address", "left")
            .select(
                F.lit(address).alias("token"),
                F.lit(at_block).cast("long").alias("block_number"),
                "address",
                F.coalesce(F.col("__b"), F.lit("0")).alias("balance"),
                "group",
            )
            .localCheckpoint()
        )
        others_bal = (
            self.store.read_range("balances", at_block, at_block)
            .filter(F.col("token") != address)
            .localCheckpoint()
        )
        # one version_hold across both table writes: the snapshot boundary
        # rewinds below at_block for the duration and advances ONCE after
        # balances AND total_balances have landed — a snapshot taken midway
        # must not see the new token's balances beside the old totals
        with self.store.version_hold():
            self.store.write_blocks(
                {"balances": init_bal.unionByName(others_bal)},
                block_range=(at_block, at_block),
            )
            if self.store.exists("latest_balances"):
                dim = self.store.read("latest_balances")
                self.store.update_dimension(
                    "latest_balances",
                    dim.filter(F.col("token") != address).unionByName(init_bal),
                )
            # preserve other tokens' totals already written at this block:
            # the sink's overwrite unit is the whole block range, so fold
            # them in
            to_write = backfill
            if self.store.exists("total_balances"):
                others = (
                    self.store.read_range("total_balances", at_block, at_block)
                    .filter(F.col("token") != address)
                    .localCheckpoint()
                )
                to_write = backfill.unionByName(others)
            self.store.write_blocks(
                {"total_balances": to_write}, block_range=(at_block, at_block)
            )
        # keep the latest-state dim consistent: the new token's backfill rows
        # are its only totals, so they are by definition its latest
        if self.store.exists("latest_totals"):
            dim = self.store.read("latest_totals")
            self.store.update_dimension(
                "latest_totals",
                dim.filter(F.col("token") != address).unionByName(backfill),
            )

    # -- decision application ---------------------------------------------------

    def _apply(self, d: ReorgDecision, _gap_retry: bool = False) -> None:
        if d.action.startswith("ignore"):
            return
        if d.action == "gap":
            # The backfilled headers are NOT trusted blindly: the combined
            # run (backfill + fresh) goes back through check_reorg, because
            # a reorg below the stored head can happen exactly while a gap
            # forms — the reference routes every synced block through
            # addBlockMaybeReorg (indexer.go:218-246,331-440). On a clean
            # extension this resolves to "append"; on a fork it retracts.
            if _gap_retry:
                raise RuntimeError(
                    "gap backfill did not close the gap — source is missing "
                    f"headers in {d.gap}"
                )
            backfill = self.source.headers_range(*d.gap)
            combined = backfill + d.replay
            d2 = check_reorg(
                self._stored_recent(), combined, self.source.header_by_hash, self._td_at
            )
            self._apply(d2, _gap_retry=True)
            return
        replay = d.replay
        if d.action == "reorg":
            self.store.retract_blocks(d.retract_from, d.retract_to)
            # reset subscriptions stamped on the retracted range back to
            # "new" so the replay re-initializes them on the winning branch;
            # their totals were deleted by the retraction
            # (store/subscription/subscription.go:62-63,131-146)
            stamped_in_range = self.subscriptions.filter(
                (F.col("block_number") >= d.retract_from)
                & (F.col("block_number") <= d.retract_to)
            )
            if stamped_in_range.limit(1).count() > 0:
                self._persist_subscriptions(
                    self.subscriptions.withColumn(
                        "block_number",
                        F.when(
                            (F.col("block_number") >= d.retract_from)
                            & (F.col("block_number") <= d.retract_to),
                            F.lit(0).cast("long"),
                        ).otherwise(F.col("block_number")),
                    )
                )
            row = dict(d.reorg_row, created_at=datetime.now(timezone.utc).replace(tzinfo=None))
            self.store.append_dimension(
                "reorgs", self.spark.createDataFrame([row], REORGS)
            )
        for i in range(0, len(replay), MAX_BLOCKS_PER_BATCH):
            self._ingest(replay[i : i + MAX_BLOCKS_PER_BATCH])

    # -- subscription lifecycle (store/subscription/subscription.go:50,96-102;
    # store/transfer_processor.go:258-313) -------------------------------------

    def _persist_subscriptions(self, subs: DataFrame) -> None:
        subs = subs.localCheckpoint()
        self.store.update_dimension("subscriptions", subs)
        self.subscriptions = subs

    def _init_new_subscriptions(self, batch_deltas: DataFrame, last_n: int):
        """Initialize NEW subscriptions (block_number == 0): write an opening
        balance row per (token, address) at the batch head, stamp the
        subscription with that block, and return the opening rows so the
        caller folds them into snapshots and group totals — the reference's
        per-block `insertNewSubscriptions` (transfer_processor.go:258-313)
        at batch granularity.

        Opening balance: the balancer seam (chain truth over RPC at the
        batch-head block, client/balancer.go:43-116) is the default path —
        each request row carries ``block_number`` so the lookup has the
        reference's at-block semantics, and the fan-out is O(new subs ×
        tokens). Only an explicit ``balancer=None`` derives openings from
        the engine's own ledger instead — stored transfer/fee history plus
        this batch's deltas (O(stored history) scan; the documented
        no-node-available fallback).

        Guard: a new subscription must have NO stored balance rows
        (ErrHasPrevBalance, transfer_processor.go:295-301) — its address was
        never tracked, so rows imply a corrupted lifecycle.

        Returns ``None`` when there are no new subscriptions (the common
        case; one tiny driver-side check per batch)."""
        new_rows = self.subscriptions.filter(F.col("block_number") == 0).collect()
        if not new_rows:
            return None
        addrs = [r["address"] for r in new_rows]
        groups = {r["address"]: r["group"] for r in new_rows}

        if self.store.exists("balances"):
            prev = (
                self.store.read("balances")
                .filter(F.col("address").isin(addrs))
                .limit(1)
                .count()
            )
            if prev:
                raise ValueError(
                    "has-prev-balance: a NEW subscription (block_number=0) "
                    "already has stored balance rows (reference "
                    "ErrHasPrevBalance, store/transfer_processor.go:295-301)"
                )

        tokens = [ETH_TOKEN] + [
            r["address"] for r in self.erc20.select("address").distinct().collect()
        ]
        addr_df = self.spark.createDataFrame([(a,) for a in addrs], "address string")
        reqs = self.spark.createDataFrame(
            [(t, a, last_n) for t in tokens for a in addrs],
            "token string, address string, block_number long",
        )
        if self.balancer is not None:
            from eth_indexer_spark.sources.chain import fetch_balances

            opening = fetch_balances(reqs, self.balancer)
        else:
            # ledger-derived: Σ stored deltas + Σ batch deltas per key
            parts = batch_deltas.select("token", "address", "delta")
            if self.store.exists("transfers"):
                stored_fees = (
                    X.tx_fees(
                        self.store.read("transactions"),
                        self.store.read("transaction_receipts"),
                    )
                    if self.store.exists("transactions")
                    else None
                )
                stored_d = X.ledger_deltas(
                    self.store.read("transfers"), stored_fees
                ).select("token", "address", "delta")
                parts = parts.unionByName(stored_d)
            parts = parts.join(F.broadcast(addr_df), "address", "left_semi")
            # uint256 policy (schema.py): JVM DECIMAL(38,0) unless any value
            # needs the exact Python-int path
            digits = F.length(F.regexp_replace("delta", "-", ""))
            if parts.filter(digits > 30).limit(1).count() == 0:
                summed = parts.groupBy("token", "address").agg(
                    F.sum(F.col("delta").cast("decimal(38,0)")).cast("string").alias("balance")
                )
            else:
                import pandas as pd

                def _sum_exact(pdf: pd.DataFrame) -> pd.DataFrame:
                    head = pdf.iloc[0]
                    return pd.DataFrame(
                        {
                            "token": [head["token"]],
                            "address": [head["address"]],
                            "balance": [str(sum(int(v) for v in pdf["delta"]))],
                        }
                    )

                summed = parts.groupBy("token", "address").applyInPandas(
                    _sum_exact, "token string, address string, balance string"
                )
            opening = (
                reqs.join(summed, ["token", "address"], "left")
                .withColumn("balance", F.coalesce(F.col("balance"), F.lit("0")))
            )

        group_map = F.create_map(
            *[F.lit(x) for kv in groups.items() for x in kv]
        )
        init = opening.select(
            "token",
            F.lit(last_n).cast("long").alias("block_number"),
            "address",
            "balance",
            group_map[F.col("address")].cast("long").alias("group"),
        ).localCheckpoint()

        stamped = self.subscriptions.withColumn(
            "block_number",
            F.when(F.col("block_number") == 0, F.lit(last_n).cast("long")).otherwise(
                F.col("block_number")
            ),
        )
        self._persist_subscriptions(stamped)
        return init

    def _guard_old_subscriptions(self, deltas: DataFrame, old_subs: DataFrame, seed_bal) -> None:
        """ErrMissingPrevBalance (transfer_processor.go:303-310): an OLD
        subscription (block_number > 0) whose (token, address) has activity
        this batch must have a prior balance row — it was written at
        initialization (new-sub path) or token backfill (register_token)."""
        touched = (
            deltas.select("token", "address")
            .distinct()
            .join(F.broadcast(old_subs.select("address")), "address", "left_semi")
        )
        if seed_bal is None:
            missing = touched
        else:
            missing = touched.join(
                seed_bal.select("token", "address"), ["token", "address"], "left_anti"
            )
        row = missing.limit(1).collect()
        if row:
            raise ValueError(
                "missing-prev-balance: old subscription "
                f"(token={row[0]['token']}, address={row[0]['address']}) has "
                "activity but no prior balance row (reference "
                "ErrMissingPrevBalance, store/transfer_processor.go:303-310)"
            )

    # -- latest-state dimensions (O(batch) seeding, not O(table)) --------------

    def _latest_state(self, dim_table: str, source_table: str, keys: list[str], first_n: int):
        """Seed frame for the carry-forward aggregates: one row per key with
        the latest value strictly before ``first_n``.

        Steady state reads the maintained dimension — O(#keys), independent
        of chain length. Self-healing paths:

        - dim behind the store (crash between batch commit and dim update):
          top-up from a bucket-pruned source read of just the gap;
        - dim ahead of the replay position (a retraction moved the store
          below it — reorg): the dim holds retracted state, rebuild from the
          source as-of ``first_n - 1`` (O(table), reorg-only);
        - no dim yet: same full read (first batch only).

        Result is reduced to latest-per-key and pinned (localCheckpoint) so
        downstream writes can safely overwrite the files it was read from.
        """
        w = W.partitionBy(*keys).orderBy(F.desc("block_number"))

        def _reduce(df):
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        have_src = self.store.exists(source_table)
        full = (
            _reduce(self.store.read_range(source_table, None, first_n - 1))
            if have_src
            else None
        )
        if not self.store.exists(dim_table):
            return full.localCheckpoint() if full is not None else None
        dim = self.store.read(dim_table)
        dim_max = dim.agg(F.max("block_number").alias("m")).collect()[0]["m"]
        if dim_max is None:
            return full.localCheckpoint() if full is not None else None
        if dim_max > first_n - 1:  # retracted state in the dim → rebuild
            return full.localCheckpoint() if full is not None else None
        if have_src and dim_max < first_n - 1:  # stale dim → bounded top-up
            topup = self.store.read_range(source_table, dim_max + 1, first_n - 1)
            dim = _reduce(dim.unionByName(topup))
        return dim.localCheckpoint()

    def _merged_latest_dim(self, keys: list[str], seed, batch_df) -> DataFrame:
        """Fold a batch's output into the latest-state dimension: batch keys
        take their newest row, untouched keys keep the seed's row. ``seed``
        is the pinned frame `_latest_state` returned — already consistent
        as-of the batch start, so the merge is O(#keys + batch)."""
        w = W.partitionBy(*keys).orderBy(F.desc("block_number"))
        batch_latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if seed is not None:
            return seed.join(
                batch_latest.select(*keys).distinct(), keys, "left_anti"
            ).unionByName(batch_latest)
        return batch_latest

    def _write_latest_dim(self, dim_table: str, keys: list[str], seed, batch_df) -> None:
        self.store.update_dimension(
            dim_table, self._merged_latest_dim(keys, seed, batch_df)
        )

    # -- the distributed pipeline for one chunk ---------------------------------

    def _ingest(self, branch: list[dict]) -> None:
        if not branch:
            return
        first_n = branch[0]["number"]
        raw = self.source.raw_tables_for([h["hash"] for h in branch])
        txs, receipts, logs = (
            raw["transactions"],
            raw["transaction_receipts"],
            raw["receipt_logs"],
        )
        # headers and events each feed several consumers (reward events, TD,
        # the header write; the probe + deltas, the transfers write, the
        # rollup) — pin both once per chunk instead of re-running their
        # lineage per action
        headers = X.compute_header_rewards(
            raw["block_headers_raw"], txs, receipts
        ).localCheckpoint()

        # ether events: the node's state-diff transfer logs are authoritative
        # (they see ether moved INSIDE contract execution, indexer.go:443-467);
        # only a source without debug_getTransferLogs support falls back to
        # tx.value, which misses internal transfers
        if "transfer_logs" in raw:
            eth_events = X.eth_transfer_events(raw["transfer_logs"])
        else:
            eth_events = X.extract_eth_transfers(txs)
        events = (
            eth_events
            .unionByName(X.extract_erc20_transfers(logs, self.erc20))
            .unionByName(X.reward_events(headers))
        ).localCheckpoint()
        fees = X.tx_fees(txs, receipts)
        # deltas feed both the snapshot and rollup branches — materialize
        # once (micro-batch sized) instead of recomputing the event→delta
        # lineage (and its fast-path probe) per consumer
        deltas = X.ledger_deltas(events, fees).localCheckpoint()

        last_n = int(branch[-1]["number"])
        # subscription lifecycle: new subs get opening rows + a stamp, old
        # subs must already be tracked (guards mirror the reference's
        # has-prev/missing-prev errors); snapshots/rollups run over OLD subs
        # only — a new sub's opening balance already prices in this batch
        init_rows = self._init_new_subscriptions(deltas, last_n)
        old_subs = self.subscriptions.filter(F.col("block_number") > 0)
        if init_rows is not None:
            # exclude the just-stamped subs from the old path this batch
            old_subs = old_subs.join(
                init_rows.select("address").distinct(), "address", "left_anti"
            ).localCheckpoint()

        seed_bal = self._latest_state(
            "latest_balances", "balances", ["token", "address"], first_n
        )
        self._guard_old_subscriptions(deltas, old_subs, seed_bal)
        # pinned: the dim update after the write re-uses these rows, and the
        # write invalidates the files their lineage read
        snapshots = X.balance_snapshots(deltas, old_subs, seed_bal)
        if init_rows is not None:
            snapshots = snapshots.unionByName(init_rows)
        snapshots = snapshots.localCheckpoint()

        subs_g = F.broadcast(old_subs.select("address", "group"))
        snap_deltas = deltas.join(subs_g, "address")
        if init_rows is not None:
            # a new member's opening wealth enters its group's total at the
            # stamp block (the reference's balance-diff-from-nothing)
            snap_deltas = snap_deltas.unionByName(
                init_rows.filter(F.col("balance") != "0").select(
                    "token",
                    "block_number",
                    "address",
                    F.col("balance").alias("delta"),
                    "group",
                )
            )
        seed_tot = self._latest_state(
            "latest_totals", "total_balances", ["token", "group"], first_n
        )
        prev_totals = (
            seed_tot.select("token", "group", "balance") if seed_tot is not None else None
        )
        totals = X.total_balance_rollup(
            snap_deltas, fees, events, self.subscriptions, prev_totals
        ).localCheckpoint()
        td = X.total_difficulty(headers, seed_td=str(self._td_at(first_n - 1)))

        # WRITE ORDER IS THE CRASH-RECOVERY PROTOCOL: block_headers goes
        # LAST as the commit marker. The stored head (max block_headers
        # number) decides whether a resent batch is a duplicate — so a crash
        # anywhere before the header write leaves the head unadvanced, the
        # resend takes the append path, and overwrite-by-range repairs every
        # partially-written table idempotently. Headers-first would instead
        # classify the resend as a duplicate and leave holes. (ParquetStore
        # enforces this order; the LogStore publishes every table in one
        # commit, so there a crash before it leaves nothing visible.)
        self.store.write_blocks(
            block_range=(int(first_n), int(branch[-1]["number"])),
            tables={
                "transactions": txs,
                "transaction_receipts": receipts,
                "receipt_logs": logs,
                "transfers": events,
                "balances": snapshots,
                "total_balances": totals,
                "total_difficulty": td,
                "block_headers": headers.select(*_HEADER_COLS),
            }
        )
        # maintain the latest-state dims AFTER the commit marker: a crash
        # here leaves them one batch behind, which `_latest_state` heals with
        # a bucket-pruned top-up on the next batch. One call, both dims'
        # files staged concurrently by either backend (store.update_dimensions)
        # — a full write-job latency off every micro-batch vs two sequential
        # updates
        self.store.update_dimensions(
            {
                "latest_balances": self._merged_latest_dim(
                    ["token", "address"], seed_bal, snapshots
                ),
                "latest_totals": self._merged_latest_dim(
                    ["token", "group"], seed_tot, totals
                ),
            }
        )


def start_stream(
    spark: SparkSession,
    ingestor: BlockIngestor,
    headers_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source Structured Streaming wrapper: each parquet file landing in
    ``headers_dir`` is a batch of raw block headers (the WS subscription
    channel stand-in, client/subscriber.go:28-31). ``foreachBatch`` routes
    into the ingestor; `availableNow` drains-and-stops for tests, continuous
    deployments drop it and set a processingTime trigger."""
    stream = (
        spark.readStream.schema(RAW_SCHEMAS["block_headers_raw"])
        .option("maxFilesPerTrigger", 1)
        .parquet(headers_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            lambda df, bid: ingestor.process_batch(df, bid) and None
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
