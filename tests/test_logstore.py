"""MVCC commit-log backend tests (sinks/logstore.py).

The LogStore closes the two documented deviations the ParquetStore carries
vs the reference (SURVEY "known deviations"): the reorg-rewind reader race
becomes PREVENTED (snapshot = immutable file set — the MySQL isolation of
store/store.go:115-173 by construction) and multi-writer coordination is
optimistic commit-log concurrency instead of an exclusive flock (the
reference's swallowed-duplicate-key tolerance, common/errors.go:26-57).

Coverage mirrors the ParquetStore matrix where semantics coincide
(overwrite-by-range, retraction, dimension swaps, delta exactly-once,
crash/replay convergence, randomized model sweep) and diverges exactly
where the contract is STRONGER (prevention instead of detection; holds
publish nothing until clean exit, even rewinds).
"""

from __future__ import annotations

import json
import os
import random
import uuid

import pytest
from pyspark.sql import functions as F

from eth_indexer_spark.schema import RAW_SCHEMAS
from eth_indexer_spark.sinks.logstore import LogStore, _LOG_DIR
from eth_indexer_spark.sinks.store import ParquetStore
from tests.test_sink import headers_df, transfers_df


@pytest.fixture()
def lstore(spark, tmp_path):
    return LogStore(spark, str(tmp_path / "log"))


def _commit_versions(store: LogStore) -> list[int]:
    return sorted(
        int(n.split(".", 1)[0])
        for n in os.listdir(os.path.join(store.root, _LOG_DIR))
        if n.endswith(".json")
        and not n.endswith(".checkpoint.json")
        and ".tmp." not in n
    )


def _numbers(store, table="block_headers", col="number"):
    return sorted(r[col] for r in store.read(table).select(col).collect())


def test_implements_backend_seam():
    from eth_indexer_spark.sinks.backend import StoreBackend

    assert issubclass(LogStore, StoreBackend)
    missing = {
        m
        for m in StoreBackend.__abstractmethods__
        if getattr(LogStore, m) is getattr(StoreBackend, m)
    }
    assert not missing, missing
    assert not getattr(LogStore, "__abstractmethods__", None)


def test_write_idempotent_and_overwrite_by_range(spark, lstore):
    batch = {"block_headers": headers_df(spark, range(100, 106))}
    lstore.write_blocks(batch)
    lstore.write_blocks(batch)  # replay converges (M5)
    assert _numbers(lstore) == list(range(100, 106))
    assert lstore.read_version() == 105
    # interior replay replaces exactly the replayed range
    lstore.write_blocks(
        {"block_headers": headers_df(spark, [103])}, block_range=(103, 103)
    )
    assert _numbers(lstore) == list(range(100, 106))
    # wider replay drops rows the replay no longer produces
    lstore.write_blocks(
        {"block_headers": headers_df(spark, [104])}, block_range=(104, 105)
    )
    assert _numbers(lstore) == list(range(100, 105))
    assert lstore.max_block("block_headers") == 104


def test_retraction_boundary_and_interior(spark, lstore):
    lstore.write_blocks({"block_headers": headers_df(spark, range(100, 140))})
    lstore.retract_blocks(105, 131, tables=("block_headers",))
    assert _numbers(lstore) == list(range(100, 105)) + list(range(132, 140))
    assert lstore.read_version() == 104  # rewound below the retraction
    assert lstore.read_rewind_epoch() == 1


def test_token_table_stats_prune_and_survive(spark, lstore):
    rows = [
        (tok, n, f"t{tok}{n}", "a", "b", "1")
        for tok in ("AAAA", "BBBB")
        for n in range(100, 120)
    ]
    lstore.write_blocks({"transfers": transfers_df(spark, rows)})
    lstore.retract_blocks(103, 111, tables=("transfers",))
    got = lstore.read("transfers")
    assert got.count() == 2 * 11
    per_tok = {
        r["token"]: r["n"]
        for r in got.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    assert per_tok == {"AAAA": 11, "BBBB": 11}


def test_read_range_prunes_files_by_log_stats(spark, lstore):
    """File pruning is driven by log metadata: a narrow range read must
    hand Spark only the files whose [lo, hi] stats intersect — the
    data-skipping economics (Delta paper §4.1) replacing bucket dirs."""
    for base in (100, 200, 300):
        lstore.write_blocks(
            {"block_headers": headers_df(spark, range(base, base + 50))},
            block_range=(base, base + 49),
        )
    df = lstore.read_range("block_headers", lo=205, hi=210)
    # the plan's scan must list only the middle batch's files
    files = [f for f in df.inputFiles()]
    assert files and all("/data/block_headers/" in f for f in files)
    st = lstore._state(refresh=True)
    mid = {
        lstore._abs(m.path)
        for m in st.files["block_headers"].values()
        if m.lo is not None and m.lo >= 200 and m.hi <= 249
    }
    norm = {"/" + f.split("://", 1)[-1].lstrip("/") for f in files}
    assert norm <= mid
    assert sorted(r["number"] for r in df.collect()) == list(range(205, 211))
    # max_block answers from stats with zero file reads
    assert lstore.max_block("block_headers") == 349


def test_snapshot_prevents_reorg_rewind_race(spark, lstore):
    """THE headline: a snapshot pinned before a reorg retraction keeps
    returning its pin-time rows — no SnapshotRetractedError, no retracted
    rows, nothing to detect. Prevention by immutable file sets (the
    reference's DB isolation, store/store.go:115-173), where the
    ParquetStore can only detect-and-raise."""
    lstore.write_blocks({"block_headers": headers_df(spark, range(100, 110))})
    snap = lstore.snapshot()
    df = snap.read("block_headers")

    # reorg: retract + replace blocks 105.. while the snapshot is live
    lstore.retract_blocks(105, 109, tables=("block_headers",))
    lstore.write_blocks(
        {"block_headers": headers_df(spark, range(105, 112))},
        block_range=(105, 111),
    )

    # the pinned frame AND fresh reads from the pin: pre-reorg state, clean
    assert sorted(r["number"] for r in df.collect()) == list(range(100, 110))
    assert sorted(
        r["number"] for r in snap.read("block_headers").collect()
    ) == list(range(100, 110))
    assert snap.max_block("block_headers") == 109
    snap.check()  # never raises
    with snap.guard():
        assert len(snap.collect(snap.read_range("block_headers", lo=105))) == 5
    # live reads see the post-reorg chain
    assert lstore.max_block("block_headers") == 111


def test_multi_table_batch_is_one_commit(spark, lstore):
    """Multi-table atomicity is exact: one write_blocks = ONE commit file,
    so no reader version can ever hold table A's batch without table B's."""
    before = _commit_versions(lstore)
    lstore.write_blocks(
        {
            "block_headers": headers_df(spark, range(100, 105)),
            "transfers": transfers_df(
                spark, [("AAAA", n, f"t{n}", "a", "b", "1") for n in range(100, 105)]
            ),
        }
    )
    after = _commit_versions(lstore)
    assert len(after) == len(before) + 1
    with open(
        os.path.join(lstore.root, _LOG_DIR, f"{after[-1]:020d}.json")
    ) as f:
        commit = json.load(f)
    assert set(commit["tables"]) == {"block_headers", "transfers"}


def _logs_df(spark, rows):
    """rows: (block_number, log_index) — log_index may be None"""
    return spark.createDataFrame(
        [(f"t{n}", n, "c", "e", "a", "b", None, b"\x01", i) for n, i in rows],
        RAW_SCHEMAS["receipt_logs"],
    )


def _batch(spark, lo, hi, bad_log_index=False):
    return {
        "block_headers": headers_df(spark, range(lo, hi + 1)),
        "transfers": transfers_df(
            spark, [("AAAA", n, f"t{n}", "a", "b", "1") for n in range(lo, hi + 1)]
        ),
        "receipt_logs": _logs_df(
            spark, [(n, None if bad_log_index and n == hi else 0) for n in range(lo, hi + 1)]
        ),
    }


def test_concurrent_staging_failure_publishes_nothing(spark, lstore):
    """The tables of a batch stage side by side, yet one table failing its
    null guard still fails the whole batch: the same ValueError, no commit,
    and the files its sibling tables staged are orphans vacuum removes."""
    lstore.write_blocks(_batch(spark, 100, 102), block_range=(100, 102))
    version, commits = lstore.read_version(), _commit_versions(lstore)
    with pytest.raises(ValueError, match=r"receipt_logs: NULL in required column"):
        lstore.write_blocks(
            _batch(spark, 103, 105, bad_log_index=True), block_range=(103, 105)
        )
    assert lstore.read_version() == version
    assert _commit_versions(lstore) == commits

    reopened = LogStore(spark, lstore.root)
    for table, col in [
        ("block_headers", "number"),
        ("transfers", "block_number"),
        ("receipt_logs", "block_number"),
    ]:
        assert sorted(set(_numbers(reopened, table, col))) == [100, 101, 102]
    live = {p for fs in reopened._state(refresh=True).files.values() for p in fs}
    data_root = os.path.join(reopened.root, "data")

    def on_disk():
        return {
            os.path.join("data", t, n)
            for t in os.listdir(data_root)
            for n in os.listdir(os.path.join(data_root, t))
        }

    orphans = on_disk() - live
    assert orphans  # the sibling tables did stage before the batch failed
    assert reopened.vacuum(retain_versions=0) == len(orphans)
    assert on_disk() == live


@pytest.mark.parametrize("backend", ["log", "parquet"])
def test_concurrent_staging_jobs_keep_caller_job_group(spark, tmp_path, backend):
    """Staging jobs launched from the pool threads carry the caller's job
    group, so ``cancelJobGroup`` and per-group job accounting reach them."""
    store = (
        LogStore(spark, str(tmp_path / "log"))
        if backend == "log"
        else ParquetStore(spark, str(tmp_path / "pq"), bucket_size=10)
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"staging-{backend}-{uuid.uuid4().hex[:8]}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "concurrent staging")
    try:
        store.write_blocks(_batch(spark, 100, 102), block_range=(100, 102))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert len(tracker.getJobIdsForGroup(group)) >= 3  # >= one write per table


def test_occ_two_writers_converge(spark, tmp_path):
    """Multi-writer optimistic concurrency: writer B commits BETWEEN
    writer A's plan and A's publish (the exact flock-fatal interleaving).
    A must lose the version race, re-plan against B's state, and land —
    both batches visible, no lock, no error. This is the coordination the
    reference gets from swallowed duplicate-key errors between concurrent
    indexers (common/errors.go:26-57, service/indexer/indexer.go:152-158)."""
    root = str(tmp_path / "shared")
    a = LogStore(spark, root)
    b = LogStore(spark, root)
    a.write_blocks({"block_headers": headers_df(spark, range(100, 105))})
    assert b.max_block("block_headers") == 104  # B observes A's commit

    # interpose: when A next tries to publish, B has already taken the slot
    original = a._try_publish
    fired = {"n": 0}

    def racing_publish(version, commit):
        if fired["n"] == 0:
            fired["n"] += 1
            b.write_blocks(
                {"block_headers": headers_df(spark, range(105, 110))},
                block_range=(105, 109),
            )
        return original(version, commit)

    a._try_publish = racing_publish
    # duplicate-writer replay: A writes the SAME range B just wrote — the
    # reference's duplicate-key scenario; convergence, not duplication
    a.write_blocks(
        {"block_headers": headers_df(spark, range(105, 110))},
        block_range=(105, 109),
    )
    a._try_publish = original
    assert fired["n"] == 1
    assert _numbers(a) == list(range(100, 110))
    assert _numbers(b) == list(range(100, 110))
    assert a.read("block_headers").groupBy("number").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_delta_append_exactly_once(spark, lstore):
    df1 = spark.createDataFrame([("d1", "x")], "id string, v string")
    df2 = spark.createDataFrame([("d2", "y")], "id string, v string")
    lstore.append_dimension_delta("doc_index", df1, "batch-1")
    lstore.append_dimension_delta("doc_index", df1, "batch-1")  # replay no-op
    lstore.append_dimension_delta("doc_index", df2, "batch-2")
    assert lstore.read("doc_index").count() == 2
    assert "ingest_delta" not in lstore.read("doc_index").columns
    deltas = {
        r["ingest_delta"] for r in lstore.read_deltas("doc_index").collect()
    }
    assert deltas == {"batch-1", "batch-2"}
    with pytest.raises(ValueError, match="must be non-empty"):
        lstore.append_dimension_delta("doc_index", df1, "bad/name")


def test_dimension_update_and_append(spark, lstore):
    dim = spark.createDataFrame(
        [("0xaa", "TokA", 18)], "address string, name string, decimals long"
    )
    lstore.update_dimension("erc20", dim)
    assert lstore.read("erc20").count() == 1
    lstore.append_dimension(
        "erc20",
        spark.createDataFrame(
            [("0xaa", "TokA", 18), ("0xbb", "TokB", 6)],
            "address string, name string, decimals long",
        ),
    )
    got = {r["address"] for r in lstore.read("erc20").collect()}
    assert got == {"0xaa", "0xbb"}  # dedup on unique key held
    # multi-dim swap is one commit (atomic across dims)
    before = _commit_versions(lstore)
    lstore.update_dimensions(
        {
            "erc20": dim,
            "subscriptions": spark.createDataFrame(
                [(1, "0xcc", 1, 0)],
                "id long, address string, `group` long, block_number long",
            ),
        }
    )
    assert len(_commit_versions(lstore)) == len(before) + 1


def test_version_hold_publishes_nothing_until_clean_exit(spark, tmp_path):
    """Holds are STRONGER here than on the version-pointer backend: a
    second reader handle (another process's view) sees no effect — not
    even rewinds — until the single commit at clean exit; an aborted hold
    publishes nothing at all (no floor file, no repair protocol)."""
    root = str(tmp_path / "hold")
    owner = LogStore(spark, root)
    other = LogStore(spark, root)
    owner.write_blocks({"block_headers": headers_df(spark, range(100, 110))})

    with owner.version_hold():
        owner.write_blocks(
            {"block_headers": headers_df(spark, [105])}, block_range=(105, 109)
        )
        # read-your-own-writes: the owner sees its buffered overwrite...
        assert _numbers(owner) == list(range(100, 106))
        # ...while the outside world still sees the pre-hold state
        assert _numbers(other) == list(range(100, 110))
        assert other.read_version() == 109
    # clean exit: one commit, everything lands at once
    assert _numbers(other) == list(range(100, 106))

    # aborted hold: nothing published, owner state rolls back to committed
    with pytest.raises(RuntimeError, match="boom"):
        with owner.version_hold():
            owner.write_blocks(
                {"block_headers": headers_df(spark, [103])}, block_range=(103, 105)
            )
            raise RuntimeError("boom")
    assert _numbers(owner) == list(range(100, 106))
    assert _numbers(other) == list(range(100, 106))


def test_crash_before_publish_is_invisible_and_replay_converges(
    spark, tmp_path, monkeypatch
):
    """Crash simulation at the only commit point: staged data files exist
    on disk but no log entry references them — a fresh store (the restart)
    sees the pre-crash state exactly; replaying the batch converges; the
    orphans are vacuumable."""
    root = str(tmp_path / "crash")
    store = LogStore(spark, root)
    store.write_blocks({"block_headers": headers_df(spark, range(100, 105))})

    def die(version, commit):
        raise OSError("simulated crash before commit publish")

    monkeypatch.setattr(store, "_try_publish", die)
    with pytest.raises(OSError, match="simulated crash"):
        store.write_blocks(
            {"block_headers": headers_df(spark, range(105, 110))},
            block_range=(105, 109),
        )
    monkeypatch.undo()

    reopened = LogStore(spark, root)
    assert _numbers(reopened) == list(range(100, 105))
    assert reopened.read_version() == 104
    # replay converges (the staged orphans never interfere)
    reopened.write_blocks(
        {"block_headers": headers_df(spark, range(105, 110))},
        block_range=(105, 109),
    )
    assert _numbers(reopened) == list(range(100, 110))
    removed = reopened.vacuum(retain_versions=0)
    assert removed >= 1  # the crash's orphaned files are collectable
    assert _numbers(reopened) == list(range(100, 110))


def test_optimize_compacts_and_vacuum_respects_retention(spark, lstore):
    for base in range(100, 160, 10):
        lstore.write_blocks(
            {"block_headers": headers_df(spark, range(base, base + 10))},
            block_range=(base, base + 9),
        )
    st = lstore._state(refresh=True)
    n_before = len(st.files["block_headers"])
    assert n_before >= 6
    snap = lstore.snapshot()  # pinned across optimize + vacuum
    lstore.optimize("block_headers")
    st2 = lstore._state(refresh=True)
    assert len(st2.files["block_headers"]) < n_before
    assert _numbers(lstore) == list(range(100, 160))
    # within retention the pinned snapshot still reads its old files
    lstore.vacuum(retain_versions=10)
    assert snap.read("block_headers").count() == 60
    # past retention the old files go away (the documented contract)
    lstore.vacuum(retain_versions=0)
    assert _numbers(lstore) == list(range(100, 160))


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    """> CHECKPOINT_EVERY commits: a fresh store folds checkpoint + tail,
    and the state matches a full-log fold."""
    root = str(tmp_path / "ckpt")
    store = LogStore(spark, root)
    for i in range(12):
        store.write_blocks(
            {"block_headers": headers_df(spark, [100 + i])},
            block_range=(100 + i, 100 + i),
        )
    names = os.listdir(os.path.join(root, _LOG_DIR))
    assert any(n.endswith(".checkpoint.json") for n in names)
    fresh = LogStore(spark, root)
    assert _numbers(fresh) == list(range(100, 112))
    assert fresh.read_version() == 111


class LogStoreModel:
    """Sequential model of the LogStore visibility contract for the
    randomized sweep: overwrite/delete/boundary semantics shared with the
    ParquetStore model, hold semantics strictly deferred (nothing —
    not even rewinds — visible outside until clean exit), snapshots
    immutable forever."""

    def __init__(self):
        self.blocks: set[int] = set()
        self.version: int | None = None
        self.epoch = 0
        self.hold = False
        self.staged: list[tuple[str, int, int]] = []

    def _apply(self, op: str, lo: int, hi: int) -> None:
        if op == "write":
            pre = self.version
            if pre is not None and lo <= pre:
                self.epoch += 1
            self.blocks -= set(range(lo, hi + 1))
            self.blocks |= set(range(lo, hi + 1))
            self.version = hi if pre is None else max(hi, pre)
        else:  # delete
            if self.version is not None and self.version >= lo:
                self.version = lo - 1
                self.epoch += 1
            self.blocks -= set(range(lo, hi + 1))

    def write(self, lo, hi):
        if self.hold:
            self.staged.append(("write", lo, hi))
        else:
            self._apply("write", lo, hi)

    def delete(self, lo, hi):
        if self.hold:
            self.staged.append(("delete", lo, hi))
        else:
            self._apply("delete", lo, hi)

    def own_view(self) -> "LogStoreModel":
        """What the OWNING store reads mid-hold (committed + staged)."""
        m = LogStoreModel()
        m.blocks, m.version, m.epoch = set(self.blocks), self.version, self.epoch
        for op, lo, hi in self.staged:
            m._apply(op, lo, hi)
        return m

    def hold_enter(self):
        self.hold = True

    def hold_exit(self, clean: bool):
        self.hold = False
        staged, self.staged = self.staged, []
        if clean:
            for op, lo, hi in staged:
                self._apply(op, lo, hi)


@pytest.mark.parametrize("seed", [7, 31])
def test_logstore_protocol_matches_model_under_random_interleavings(
    spark, tmp_path, seed
):
    """The randomized protocol sweep over the MVCC backend (the LogStore
    analog of test_store_model.py): visible rows via a SECOND handle track
    the model after every op; a snapshot pinned mid-sequence returns its
    pin-time rows FOREVER — across any number of later writes, deletes and
    holds — and never raises (prevention; where the ParquetStore model
    asserts raise-iff-rewound)."""
    rng = random.Random(seed)
    root = str(tmp_path / "m")
    owner = LogStore(spark, root)
    reader = LogStore(spark, root)
    model = LogStoreModel()
    pinned = None  # (snapshot, frozen block set)
    in_hold = False
    hold_cm = None

    def visible(store):
        if not store.exists("block_headers"):
            return set()
        return {r["number"] for r in store.read("block_headers").collect()}

    for step in range(14):
        op = rng.choice(["write", "write", "delete", "hold", "snap"])
        if op == "write":
            lo = rng.randrange(100, 140)
            hi = lo + rng.randrange(0, 8)
            owner.write_blocks(
                {"block_headers": headers_df(spark, range(lo, hi + 1))},
                block_range=(lo, hi),
            )
            model.write(lo, hi)
        elif op == "delete":
            lo = rng.randrange(100, 140)
            hi = lo + rng.randrange(0, 10)
            owner.retract_blocks(lo, hi, tables=("block_headers",))
            model.delete(lo, hi)
        elif op == "hold" and not in_hold:
            hold_cm = owner.version_hold()
            hold_cm.__enter__()
            model.hold_enter()
            in_hold = True
        elif op == "hold" and in_hold:
            hold_cm.__exit__(None, None, None)
            model.hold_exit(clean=True)
            in_hold = False
        elif op == "snap" and not in_hold and pinned is None:
            snap = owner.snapshot()
            pinned = (snap, set(model.blocks))

        # OUTSIDE view tracks the committed model exactly
        assert visible(reader) == (model.blocks if not in_hold else model.blocks), (
            f"step {step} external visibility diverged"
        )
        assert reader.read_version() == model.version
        assert reader.read_rewind_epoch() == model.epoch
        # OWNER view includes its own staged writes mid-hold
        own = model.own_view() if in_hold else model
        assert visible(owner) == own.blocks, f"step {step} owner view diverged"
        # the pinned snapshot never moves and never raises
        if pinned is not None:
            snap, frozen = pinned
            snap.check()
            got = (
                {r["number"] for r in snap.read("block_headers").collect()}
                if snap.exists("block_headers")
                else set()
            )
            assert got == frozen, f"step {step} snapshot drifted"
    if in_hold:
        hold_cm.__exit__(None, None, None)
        model.hold_exit(clean=True)
        assert visible(reader) == model.blocks


def test_append_dimension_concurrent_writer_no_lost_update(spark, tmp_path):
    """Read-modify-write under OCC: writer B appends to the SAME dimension
    between A's read-merge and A's publish. A's merge is stale — re-planning
    removes alone would land it and silently drop B's row (lost update) —
    so A must detect the read-set change, redo the whole read-merge-stage
    loop, and converge with BOTH rows present."""
    root = str(tmp_path / "shared")
    a = LogStore(spark, root)
    b = LogStore(spark, root)
    dim = lambda addr, name: spark.createDataFrame(  # noqa: E731
        [(addr, name, 18)], "address string, name string, decimals long"
    )
    a.update_dimension("erc20", dim("0xaa", "TokA"))

    original = a._try_publish
    fired = {"n": 0}

    def racing_publish(version, commit):
        if fired["n"] == 0:
            fired["n"] += 1
            b.append_dimension("erc20", dim("0xbb", "TokB"))
        return original(version, commit)

    a._try_publish = racing_publish
    a.append_dimension("erc20", dim("0xcc", "TokC"))
    a._try_publish = original
    assert fired["n"] == 1
    for store in (a, b):
        got = {r["address"] for r in store.read("erc20").collect()}
        assert got == {"0xaa", "0xbb", "0xcc"}, got


def test_version_hold_publish_conflict_detected(spark, tmp_path):
    """A hold's buffered remove/merge sets are computed at buffer time; if
    ANOTHER writer touches one of the same tables before the hold's single
    publish, landing them would lose or duplicate the winner's rows. The
    publish must raise ConcurrentWriteConflict (the Delta paper's §3.3
    check) — and replaying the batch against current state converges.
    Writes to UNRELATED tables must NOT trip it."""
    from eth_indexer_spark.sinks.logstore import ConcurrentWriteConflict

    root = str(tmp_path / "shared")
    a = LogStore(spark, root)
    b = LogStore(spark, root)
    a.write_blocks({"block_headers": headers_df(spark, range(100, 105))})

    with pytest.raises(ConcurrentWriteConflict):
        with a.version_hold():
            a.write_blocks(
                {"block_headers": headers_df(spark, range(105, 110))},
                block_range=(105, 109),
            )
            # B lands an overlapping batch on the SAME table mid-hold
            b.write_blocks(
                {"block_headers": headers_df(spark, range(103, 108))},
                block_range=(103, 107),
            )
    # nothing from the failed hold leaked; B's batch is intact
    assert _numbers(a) == list(range(100, 108))
    # the engine's standard recovery — replay the batch — converges
    a.write_blocks(
        {"block_headers": headers_df(spark, range(105, 110))},
        block_range=(105, 109),
    )
    assert _numbers(a) == list(range(100, 110))

    # unrelated-table concurrency does NOT conflict — and it must not be
    # CLOBBERED either: B advances the published boundary (109 -> 111) on a
    # table the hold never touches, so the hold's publish must re-derive
    # boundary/epoch against publish-time state (its buffer-time absolutes
    # say boundary=109; replaying them verbatim would silently rewind the
    # head to 109 without an epoch bump — a lost update). The buffered write
    # sits ABOVE both heads (block 115), so no below-head overwrite bump
    # applies either: boundary and epoch must both pass through untouched.
    epoch_before = a.read_rewind_epoch()
    with a.version_hold():
        a.write_blocks(
            {
                "transfers": transfers_df(
                    spark, [("0xt", 115, "0xh1", "0xf", "0xto", "1")]
                )
            },
            block_range=(115, 115),
        )
        b.write_blocks(
            {"block_headers": headers_df(spark, range(110, 112))},
            block_range=(110, 111),
        )
        assert b.read_version() == 111
    assert a.read("transfers").count() == 1
    assert _numbers(a) == list(range(100, 112))
    assert a.read_version() == 111, "hold publish rewound the external head"
    assert b.read_version() == 111
    assert a.read_rewind_epoch() == epoch_before, (
        "above-head marker-less hold publish must not bump the rewind epoch"
    )


def test_hold_delta_replay_skips_externally_landed_delta(spark, tmp_path):
    """Exactly-once for delta appends ACROSS writers and holds: if the same
    delta name lands externally between buffering and the hold's publish,
    the buffered op is a replay of an already-committed batch — it must
    no-op, never double-append."""
    root = str(tmp_path / "shared")
    a = LogStore(spark, root)
    b = LogStore(spark, root)
    df = spark.createDataFrame([("d1", "x")], "id string, v string")
    with a.version_hold():
        a.append_dimension_delta("doc_index", df, "batch-1")
        b.append_dimension_delta("doc_index", df, "batch-1")
    assert a.read("doc_index").count() == 1
    assert b.read("doc_index").count() == 1


def test_vacuum_retires_log_and_stale_cache_refolds(spark, tmp_path):
    """Log retention: commits folded into a checkpoint at-or-below the
    vacuum horizon are deleted (the log dir stays O(retention + tail), not
    O(history)); a fresh store folds correctly from the surviving
    checkpoint, and an instance whose cached state predates the cut
    detects the gap and refolds instead of silently skipping the retired
    commits' effects."""
    root = str(tmp_path / "log")
    a = LogStore(spark, root)
    for i in range(3):
        a.write_blocks(
            {"block_headers": headers_df(spark, [100 + i])},
            block_range=(100 + i, 100 + i),
        )
    stale = LogStore(spark, root)
    assert stale.read_version() == 102  # cache pinned at version 3

    for i in range(3, 25):
        a.write_blocks(
            {"block_headers": headers_df(spark, [100 + i])},
            block_range=(100 + i, 100 + i),
        )
    a.vacuum(retain_versions=0)  # horizon 25 -> cut = checkpoint 20

    vs = _commit_versions(a)
    assert vs == list(range(21, 26)), vs  # commits <= 20 retired
    ckpts = sorted(
        int(n.split(".", 1)[0])
        for n in os.listdir(os.path.join(root, _LOG_DIR))
        if n.endswith(".checkpoint.json")
    )
    assert 20 in ckpts and 10 not in ckpts, ckpts

    fresh = LogStore(spark, root)
    assert _numbers(fresh) == list(range(100, 125))
    assert fresh.read_version() == 124
    # the stale instance refreshes across the gap via refold, not skip
    assert stale.read_version() == 124
    assert _numbers(stale) == list(range(100, 125))
    # a second vacuum after the cleanup still folds and deletes nothing live
    assert a.vacuum(retain_versions=0) == 0
    assert _numbers(a) == list(range(100, 125))


def test_pinned_snapshot_outliving_vacuum_raises_loud(spark, tmp_path):
    """The retention contract's failure mode, pinned as a NAMED error: a
    snapshot pinned, then > retain_versions commits plus a vacuum — the
    snapshot's files are gone, and reads must raise SnapshotExpiredError
    (loud, recognizable, says how to recover) instead of an arbitrary
    Spark FileNotFound mid-job. A snapshot still inside the retention
    window keeps reading fine across the same vacuum."""
    from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

    store = LogStore(spark, str(tmp_path / "log"))
    store.write_blocks(
        {"block_headers": headers_df(spark, range(100, 105))},
        block_range=(100, 104),
    )
    old_pin = store.snapshot()  # pinned at version 1

    # churn: overwrite the SAME range repeatedly so the pin's files become
    # dead weight, far past the retention window
    for i in range(12):
        store.write_blocks(
            {"block_headers": headers_df(spark, range(100, 105))},
            block_range=(100, 104),
        )
    fresh_pin = store.snapshot()  # inside the window at vacuum time
    deleted = store.vacuum(retain_versions=2)
    assert deleted > 0, "churned files should have been vacuumed"

    # the in-window snapshot still reads (retention protected its files)
    assert fresh_pin.read("block_headers").count() == 5
    # the expired snapshot fails LOUDLY on every read form
    with pytest.raises(SnapshotExpiredError, match="vacuum"):
        old_pin.read("block_headers")
    with pytest.raises(SnapshotExpiredError):
        old_pin.read_range("block_headers", lo=100, hi=104)
    with pytest.raises(SnapshotExpiredError):
        old_pin.read_eq("block_headers", 102)
    with pytest.raises(SnapshotExpiredError):
        old_pin.read_deltas("block_headers")
    # stats-only answers never touch files and stay available
    assert old_pin.max_block("block_headers") == 104
    # recovery is as documented: re-pin and read current state
    assert store.snapshot().read("block_headers").count() == 5


_OCC_CHILD = r"""
import os, sys, time
sys.path.insert(0, os.environ["OCC_REPO"])
from eth_indexer_spark.session import get_spark
from eth_indexer_spark.sinks.logstore import LogStore
from tests.test_sink import headers_df

spark = get_spark("occ-child", cpus=2)
store = LogStore(spark, os.environ["OCC_ROOT"])
ready, go = os.environ["OCC_READY"], os.environ["OCC_GO"]
open(ready, "w").write("ready")
for _ in range(600):
    if os.path.exists(go):
        break
    time.sleep(0.1)
else:
    raise SystemExit("parent never signalled go")
for i in range(int(os.environ["OCC_BATCHES"])):
    lo = 2000 + 5 * i
    store.write_blocks(
        {"block_headers": headers_df(spark, range(lo, lo + 5))},
        block_range=(lo, lo + 4),
    )
store.append_dimension_delta(
    "shared_dim",
    spark.createDataFrame([("d1", "x"), ("d2", "y")], "id string, v string"),
    "shared-delta",
)
spark.stop()
print("OCC-CHILD-OK")
"""


@pytest.mark.local_cluster
def test_two_os_process_occ_convergence(spark, tmp_path):
    """Cross-OS-process OCC (r8 verdict 'What's wrong #4'): the multi-writer
    claim rests on ``os.link`` put-if-absent, but every prior two-writer
    test raced two LogStore instances in ONE Python process. Here a child
    process (own Spark JVM) and this process race interleaved
    ``write_blocks`` commits on one store root, plus the SAME delta name —
    the deployment story: two independent indexer processes on one store.
    Assert convergence (all blocks from both writers, exactly once), a
    contiguous commit history, and delta exactly-once across processes."""
    import subprocess
    import sys as _sys
    import time

    if _sys.platform != "linux" or not os.environ.get("JAVA_HOME"):
        pytest.skip("needs Linux + JAVA_HOME (second Spark JVM)")
    root = str(tmp_path / "shared")
    batches = 6
    store = LogStore(spark, root)
    # seed so both writers contend against existing state
    store.write_blocks(
        {"block_headers": headers_df(spark, range(100, 105))},
        block_range=(100, 104),
    )
    script = tmp_path / "occ_child.py"
    script.write_text(_OCC_CHILD)
    ready, go = str(tmp_path / "ready"), str(tmp_path / "go")
    env = dict(
        os.environ,
        OCC_REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        OCC_ROOT=root,
        OCC_READY=ready,
        OCC_GO=go,
        OCC_BATCHES=str(batches),
        MASTER="local[2]",
    )
    proc = subprocess.Popen(
        [_sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
    )
    try:
        for _ in range(1200):  # child session spin-up
            if os.path.exists(ready) or proc.poll() is not None:
                break
            time.sleep(0.1)
        assert proc.poll() is None, proc.communicate()[1][-3000:]
        open(go, "w").write("go")
        # parent writes interleave with the child's: disjoint block ranges,
        # same log — every commit version is contended
        for i in range(batches):
            lo = 3000 + 5 * i
            store.write_blocks(
                {"block_headers": headers_df(spark, range(lo, lo + 5))},
                block_range=(lo, lo + 4),
            )
        store.append_dimension_delta(
            "shared_dim",
            spark.createDataFrame(
                [("d1", "x"), ("d2", "y")], "id string, v string"
            ),
            "shared-delta",
        )
        out, err = proc.communicate(timeout=600)
        assert proc.returncode == 0, err[-3000:]
        assert "OCC-CHILD-OK" in out
    finally:
        if proc.poll() is None:
            proc.kill()

    expected = (
        list(range(100, 105))
        + [n for i in range(batches) for n in range(2000 + 5 * i, 2005 + 5 * i)]
        + [n for i in range(batches) for n in range(3000 + 5 * i, 3005 + 5 * i)]
    )
    assert _numbers(store) == sorted(expected)
    # delta exactly-once ACROSS processes: one copy, not two
    assert store.read("shared_dim").count() == 2
    # commit history is contiguous — every contended version resolved to
    # exactly one winner and every loser re-planned onto the next version;
    # 1 seed + 6 parent + 6 child batches + ONE delta commit (the losing
    # process's same-name append no-ops) = versions 1..14 exactly
    assert _commit_versions(store) == list(range(1, 15))
    fresh = LogStore(spark, root)
    assert _numbers(fresh) == sorted(expected)
    assert fresh.read_version() == max(expected)


def test_stale_cache_refolds_when_all_commits_retired(spark, tmp_path):
    """The nastier retention shape: a vacuum at an exact checkpoint
    version with retain 0 retires EVERY commit into the checkpoint — the
    commit list goes empty, so the gap heuristic (`newer[0] != cache+1`)
    never fires. A stale instance must still notice the checkpoint PAST its
    cached version and refold, or it silently answers from stale stats and
    references vacuumed files."""
    root = str(tmp_path / "log")
    a = LogStore(spark, root)
    for i in range(3):
        a.write_blocks(
            {"block_headers": headers_df(spark, [100 + i])},
            block_range=(100 + i, 100 + i),
        )
    stale = LogStore(spark, root)
    assert stale.read_version() == 102  # cache pinned at version 3

    # advance to EXACTLY a checkpoint version (20), then retire everything
    for i in range(3, 20):
        a.write_blocks(
            {"block_headers": headers_df(spark, [100 + i])},
            block_range=(100 + i, 100 + i),
        )
    a.vacuum(retain_versions=0)  # horizon 20 -> cut = checkpoint 20
    assert _commit_versions(a) == [], "all commits should fold into ckpt 20"

    # stale instance: no commits newer than its cache exist, but the
    # checkpoint is ahead — it must refold, not answer from version 3
    assert stale.read_version() == 119
    assert stale.max_block("block_headers") == 119
    assert _numbers(stale) == list(range(100, 120))


def test_second_optimize_is_noop(spark, lstore):
    """r9 ADVICE (medium): ceil-division packing wrote sub-target output
    files that RE-QUALIFIED as candidates, so every maintenance cadence
    re-read and rewrote the whole sub-target bulk — O(table) per round.
    Floor-division bin-packing makes outputs at-or-above target: a file one
    optimize wrote never re-enters the next one's candidate set, so the
    second optimize right after a compaction commits NOTHING."""
    for base in range(100, 160, 10):
        lstore.write_blocks(
            {"block_headers": headers_df(spark, range(base, base + 10))},
            block_range=(base, base + 9),
        )
    lstore.optimize("block_headers", target_file_rows=25)
    st1 = lstore._state(refresh=True)
    files1 = dict(st1.files["block_headers"])
    # 60 rows at target 25 -> floor(60/25)=2 output files of ~30 rows,
    # each at-or-above target: neither is a candidate again
    assert len(files1) == 2
    lstore.optimize("block_headers", target_file_rows=25)
    st2 = lstore._state(refresh=True)
    assert st2.version == st1.version, "second optimize must not commit"
    assert dict(st2.files["block_headers"]) == files1
    assert _numbers(lstore) == list(range(100, 160))


def test_optimize_max_files_bounds_backlog_and_converges(spark, lstore):
    """`max_files` (r9 verdict #4): a cadence enabled LATE on accumulated
    micro-file residue amortizes the backlog over several bounded calls
    instead of one O(accumulated) spike — and repeated capped calls still
    converge to the steady compacted shape with no data loss."""
    for base in range(100, 180, 10):
        lstore.write_blocks(
            {"block_headers": headers_df(spark, range(base, base + 10))},
            block_range=(base, base + 9),
        )
    st = lstore._state(refresh=True)
    assert len(st.files["block_headers"]) == 8
    # each capped call reads at most 3 files -> bounded cadence cost
    lstore.optimize("block_headers", target_file_rows=1000, max_files=3)
    n1 = len(lstore._state(refresh=True).files["block_headers"])
    assert n1 == 6  # 3 merged into 1
    # repeated capped cadences converge to a single file
    for _ in range(6):
        lstore.optimize("block_headers", target_file_rows=1000, max_files=3)
    assert len(lstore._state(refresh=True).files["block_headers"]) == 1
    assert _numbers(lstore) == list(range(100, 180))


def test_log_fold_invariant_violation_raises_loud(spark, tmp_path):
    """r9 ADVICE (low): the FileNotFoundError retry in _load_state relies
    on the covering-checkpoint invariant; when the invariant is VIOLATED
    (a listed commit that never becomes readable and no checkpoint
    appears), the fold must raise a diagnostic naming the missing file
    instead of spinning forever."""
    root = str(tmp_path / "log")
    store = LogStore(spark, root)
    store.write_blocks(
        {"block_headers": headers_df(spark, [100])}, block_range=(100, 100)
    )
    # simulate the violated invariant: the listing forever names a commit
    # whose file does not exist and no checkpoint covers it
    store._list_log = lambda: (None, [999])
    with pytest.raises(FileNotFoundError, match="invariant"):
        store._load_state()


_VACUUM_CHILD = r"""
import os, sys, time
sys.path.insert(0, os.environ["VAC_REPO"])
from eth_indexer_spark.session import get_spark
from eth_indexer_spark.sinks.logstore import LogStore
from tests.test_sink import headers_df

spark = get_spark("vac-child", cpus=2)
store = LogStore(spark, os.environ["VAC_ROOT"])
ready, go = os.environ["VAC_READY"], os.environ["VAC_GO"]
open(ready, "w").write("ready")
for _ in range(600):
    if os.path.exists(go):
        break
    time.sleep(0.1)
else:
    raise SystemExit("parent never signalled go")
for i in range(int(os.environ["VAC_BATCHES"])):
    n = 2000 + i
    store.write_blocks(
        {"block_headers": headers_df(spark, [n])}, block_range=(n, n)
    )
    if i % 5 == 4:
        # rewrite files so later vacuums have something to DELETE (adds
        # alone never orphan a pinned snapshot's file set)
        store.optimize("block_headers", target_file_rows=1000)
    store.vacuum(retain_versions=0)  # maximum log churn: retire eagerly
spark.stop()
print("VAC-CHILD-OK")
"""


@pytest.mark.local_cluster
def test_two_os_process_vacuum_vs_reader_race(spark, tmp_path):
    """Cross-OS-process vacuum-vs-reader race (r9 verdict 'Next round #5'):
    the FileNotFoundError retry paths (_load_state, _state incremental fold,
    vacuum's protection walk) were only ever raced in-process. Here a child
    process (own Spark JVM) loops write -> optimize -> vacuum(retain 0) —
    maximum log churn, commits retired into checkpoints while files are
    rewritten and deleted — while THIS process repeatedly cold-folds the log
    (fresh LogStore per iteration) and reads through pinned snapshots.
    Asserts: no reader ever crashes with anything but the NAMED expiry
    error (including the sub-second window where vacuum lands between the
    driver-side existence check and the job's file opens — guard()
    translates the raw Spark FileNotFound), observed versions are
    monotone, expired pins recover by re-pinning, and the final state
    converges in both processes."""
    import subprocess
    import sys as _sys
    import time

    if _sys.platform != "linux" or not os.environ.get("JAVA_HOME"):
        pytest.skip("needs Linux + JAVA_HOME (second Spark JVM)")
    from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

    root = str(tmp_path / "shared")
    batches = 20
    store = LogStore(spark, root)
    store.write_blocks(
        {"block_headers": headers_df(spark, range(100, 110))},
        block_range=(100, 109),
    )
    script = tmp_path / "vac_child.py"
    script.write_text(_VACUUM_CHILD)
    ready, go = str(tmp_path / "ready"), str(tmp_path / "go")
    env = dict(
        os.environ,
        VAC_REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        VAC_ROOT=root,
        VAC_READY=ready,
        VAC_GO=go,
        VAC_BATCHES=str(batches),
        MASTER="local[2]",
    )
    proc = subprocess.Popen(
        [_sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
    )
    versions, expired, folds = [], 0, 0
    try:
        for _ in range(1200):
            if os.path.exists(ready) or proc.poll() is not None:
                break
            time.sleep(0.1)
        assert proc.poll() is None, proc.communicate()[1][-3000:]
        open(go, "w").write("go")

        from eth_indexer_spark.plans import queries as q

        pinned = q.StoreQueries(store).snapshot()
        while proc.poll() is None:
            # cold fold: a fresh instance lists the log and replays it —
            # the exact read that races the child's log retirement
            fresh = LogStore(spark, root)
            v = fresh.read_version()
            assert v is not None and v >= 109
            versions.append(v)
            folds += 1
            # a pinned EP3 read across the churn: either serves its
            # immutable view or raises the NAMED expiry (never a raw
            # Spark FileNotFound — guard() translates the mid-job window
            # too), recovered by re-pinning
            try:
                assert pinned.headers_in_range(100, 5000).count() >= 10
            except SnapshotExpiredError:
                expired += 1
                pinned = q.StoreQueries(fresh).snapshot()
            # incremental refold on a warm instance races retirement too
            store._state(refresh=True)
        out, err = proc.communicate(timeout=600)
        assert proc.returncode == 0, err[-3000:]
        assert "VAC-CHILD-OK" in out
    finally:
        if proc.poll() is None:
            proc.kill()

    assert folds >= 5, "race never overlapped the child's loop"
    assert versions == sorted(versions), "a cold fold observed a version rewind"
    expected = list(range(100, 110)) + list(range(2000, 2000 + batches))
    assert _numbers(store) == expected
    fresh = LogStore(spark, root)
    assert _numbers(fresh) == expected
    # the log dir stayed O(retention + tail), not O(history): vacuum's
    # retirement actually ran under the race
    assert len(_commit_versions(store)) <= 15


def test_vacuum_horizon_marker_gates_post_action_verification(spark, lstore):
    """The silent-partial defense (vacuum-vs-reader race): Spark's file
    listing skips concurrently-deleted paths with only a warning, so a
    vacuum racing a pinned scan can truncate results with no error. Vacuum
    therefore publishes its horizon BEFORE deleting; a snapshot's check()
    sweeps its pinned file set iff the horizon reached its version —
    cheap JSON stat in the happy path, loud named error when files are
    actually gone."""
    from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

    lstore.write_blocks(
        {"block_headers": headers_df(spark, range(100, 110))},
        block_range=(100, 109),
    )
    snap = lstore.snapshot()
    v = snap._st.version
    snap.check()  # no marker yet: nothing to verify
    # the verification sweep is SCOPED to tables the pin actually served —
    # register the read (lazy: no job) so the sweep covers block_headers
    snap.read("block_headers")

    # a vacuum horizon BELOW the pin never triggers the sweep (no vacuum
    # has passed this pin, so its files are contractually protected)
    lstore._publish_vacuum_horizon(v - 1)
    snap.check()

    # horizon AT the pin with all files present: still clean
    lstore._publish_vacuum_horizon(v)
    snap.check()

    # the marker is monotonic: a racing lower publish cannot regress it
    lstore._publish_vacuum_horizon(v - 5)
    assert lstore._read_vacuum_horizon() == v

    # now the failure shape: a pinned file is gone AND the horizon reached
    # the pin -> post-action verification raises the NAMED error
    meta = next(iter(snap._st.files["block_headers"].values()))
    os.remove(lstore._abs(meta.path))
    with pytest.raises(SnapshotExpiredError, match="horizon passed the pin"):
        snap.check()
    # the guard's post-body check carries the same detection, so even an
    # action that silently skipped the deleted file raises before the
    # caller sees a truncated result
    with pytest.raises(SnapshotExpiredError):
        with snap.guard():
            pass  # stand-in for an action whose listing skipped the file


def test_read_construction_runs_zero_spark_jobs(spark, lstore):
    """The log-served-schema economics (Delta design): the commit log is
    the schema authority, so building a read DataFrame must run ZERO Spark
    jobs — no footer-inference pass over candidate files. At 100 TB a
    footer-merge job per cold read is a real per-query tax (and its
    eager file opens were how vacuum races surfaced as construction-time
    Java stacks); the scan itself should be the first job."""
    for base in (100, 200, 300):
        lstore.write_blocks(
            {"block_headers": headers_df(spark, range(base, base + 20))},
            block_range=(base, base + 19),
        )
    sc = spark.sparkContext
    sc.setJobGroup("graft-construct-probe", "read construction must be lazy")
    try:
        df = lstore.read_range("block_headers", lo=205, hi=210)
        snap_df = lstore.snapshot().read("block_headers")
        jobs = sc.statusTracker().getJobIdsForGroup("graft-construct-probe")
        assert list(jobs) == [], f"construction ran Spark jobs: {list(jobs)}"
    finally:
        sc.setJobGroup(None, None)
    # the frames are real: schema comes from the log, rows from the scan
    assert df.columns == ["hash", "parent_hash", "number", "difficulty"]
    assert df.count() == 6
    assert snap_df.count() == 60

def test_expiry_scoped_to_tables_the_snapshot_read(spark, lstore):
    """A vacuumed file of a table this pin NEVER scanned cannot have
    truncated any answer, so it must not expire complete, correct answers
    about other tables. The sweep is scoped to ``_tables_read``: the pin
    stays healthy for the table it served, and the table that actually
    lost files still fails LOUDLY at its own read (per-read pre-check)."""
    from eth_indexer_spark.sinks.logstore import SnapshotExpiredError

    lstore.write_blocks(
        {
            "block_headers": headers_df(spark, range(100, 110)),
            "transfers": transfers_df(
                spark,
                [
                    ("ab" * 20, n, f"{n:064x}", "aa" * 20, "bb" * 20, "1")
                    for n in range(100, 110)
                ],
            ),
        },
        block_range=(100, 109),
    )
    snap = lstore.snapshot()
    assert snap.read("block_headers").count() == 10  # registers block_headers

    # vacuum horizon passes the pin; a transfers file (never read through
    # this pin) is deleted by retention
    lstore._publish_vacuum_horizon(snap._st.version)
    meta = next(iter(snap._st.files["transfers"].values()))
    os.remove(lstore._abs(meta.path))

    # complete answers about the table this pin served stay accepted
    snap.check()
    with snap.guard():
        pass
    assert snap.read("block_headers").count() == 10

    # the table that lost files is loud at its own read
    with pytest.raises(SnapshotExpiredError, match="transfers"):
        snap.read("transfers")


def test_vacuum_horizon_publish_cannot_regress_under_any_interleaving(lstore):
    """The marker is the SOLE trigger for the silent-partial
    re-verification, so it must be monotone under every interleaving of
    concurrent publishes — including the adversarial one a read-then-
    replace JSON loses (P publishes 100, Q then lands 50 over it). The
    directory-of-immutable-markers design makes regression structurally
    impossible: a publish only ever ADDS a member to the max, and cleanup
    only deletes non-max members."""
    # out-of-order publishes simulate the worst interleaving: the LOWER
    # horizon lands strictly AFTER the higher one was published
    lstore._publish_vacuum_horizon(100)
    assert lstore._read_vacuum_horizon() == 100
    lstore._publish_vacuum_horizon(50)
    assert lstore._read_vacuum_horizon() == 100
    # duplicate publish of the max is a no-op, not an error
    lstore._publish_vacuum_horizon(100)
    assert lstore._read_vacuum_horizon() == 100
    lstore._publish_vacuum_horizon(101)
    assert lstore._read_vacuum_horizon() == 101

    # legacy single-file marker (roots written by older code) folds into
    # the max instead of being ignored
    import json as _json

    with open(os.path.join(lstore.root, "_vacuum_horizon.json"), "w") as f:
        _json.dump({"horizon": 500}, f)
    assert lstore._read_vacuum_horizon() == 500
