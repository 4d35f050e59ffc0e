"""MVCC commit-log store — the lakehouse :class:`StoreBackend` (SURVEY §2.7).

The :class:`~eth_indexer_spark.sinks.store.ParquetStore` gives the engine
O(batch) mutations and a version-pointer snapshot, but two semantic deltas
vs the reference's MySQL remain (SURVEY "known deviations"): a reader
pinned before a reorg rewind can race the retraction of its files
(detected via the rewind epoch, not prevented), and the store is
single-writer (flock). Both are properties of mutating files in place.

:class:`LogStore` removes the mutation. It is a from-scratch, dependency-
free implementation of the lakehouse transaction-log design published in
the Delta Lake paper (Armbrust et al., "Delta Lake: High-Performance ACID
Table Storage over Cloud Object Stores", VLDB 2020) — the same public
design Iceberg/Hudi share:

- **Data files are immutable.** Every write lands NEW parquet files under
  ``data/<table>/``; nothing ever rewrites or renames a live file.
- **The log is the table.** A commit is one JSON file
  ``_log/<version>.json`` listing per-table file adds/removes (with
  per-file min/max stats). State at version V = fold of commits 1..V.
  A checkpoint every ``CHECKPOINT_EVERY`` commits bounds log replay.
- **Snapshot isolation by construction**: a snapshot pins a log version
  and therefore an immutable FILE SET. A reorg retraction after the pin
  only writes a new commit removing files logically — the pinned reader
  keeps listing and reading the old files, which stay on disk until
  ``vacuum``. The reorg-rewind reader race is PREVENTED (the reader can
  never observe retracted state mid-read), not merely detected:
  ``LogSnapshot.check()`` never raises. This is the isolation the
  reference gets from MySQL transactions (store/store.go:115-173).
- **Multi-writer optimistic concurrency**: committing version V+1 is an
  atomic put-if-absent (``os.link`` — fails with EEXIST if a concurrent
  writer won). The loser re-reads the log, re-validates its transaction
  against the new state (all files it removes still live, its delta names
  still unused), re-plans if not, and retries. This replaces both the
  flock and the reference's swallowed-duplicate-key coordination between
  concurrent indexers (common/errors.go:26-57).
- **Multi-TABLE atomicity is exact, not staged**: one commit carries every
  table of a batch, so readers can never observe table A post-batch beside
  table B pre-batch — strictly stronger than the ParquetStore's
  marker-ordered per-table commits under one version pointer.

100 TB shape
------------
File pruning is driven by LOG METADATA (per-file min/max of the block
column, captured from parquet footers at commit time — the paper's
"data skipping"): ``read_eq``/``read_range`` select candidate files
driver-side in O(live files of the table) dict scans and hand Spark an
explicit file list, so a point read opens O(batch-sized) files no matter
how large history grows — the same economics the ParquetStore gets from
bucket directories, without requiring a physical layout. ``max_block``
answers from stats alone (zero Spark jobs, zero file opens). Small-file
accumulation from micro-batches is handled by :meth:`optimize`
(rewrite-and-swap in one commit, snapshot-safe — the paper's OPTIMIZE),
garbage by :meth:`vacuum` (bounded retention so pinned snapshots keep
reading). On a real cluster the ONLY driver-side state is the log fold —
O(files), kilobytes per thousand files; stats capture would ride the
write job (executor-side footers) where here it reads local footers.

Local-FS scope: put-if-absent is ``os.link`` (atomic on POSIX); an object
store deployment swaps that single primitive for its conditional-put (the
paper's LogStore seam — S3 put-if-absent, ABFS etag) without touching
anything else in this file.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from eth_indexer_spark.sinks.backend import StoreBackend, stage_concurrently
from eth_indexer_spark.sinks.store import (
    BLOCK_COLUMN,
    EXTRA_PARTITIONS,
    REQUIRED_NON_NULL,
    UNIQUE_KEYS,
)

_LOG_DIR = "_log"
_DATA_DIR = "data"
_STAGING_DIR = "_staging"
# monotonic vacuum high-water mark (log-version horizon), published BEFORE
# any data-file deletion — snapshots pinned at-or-below it re-verify their
# file set after every action (see LogSnapshot.check). The DIRECTORY holds
# one immutable empty file per published horizon (monotone max by
# construction); the single-file JSON name is the legacy location, still
# read for roots written by older code.
_VACUUM_MARKER_DIR = "_vacuum_horizon"
_VACUUM_MARKER = "_vacuum_horizon.json"
CHECKPOINT_EVERY = 10
# log-read retry cap: FileNotFoundError during a fold is normally a benign
# race with another process's vacuum (retry converges via the covering
# checkpoint); past this many re-lists it is an invariant violation and the
# reader raises a diagnostic instead of spinning forever
_LOG_READ_RETRIES = 50
_COMMIT_WIDTH = 20  # zero-padded version in file names → lexicographic order


class ConcurrentWriteConflict(RuntimeError):
    """A ``version_hold`` transaction could not publish: between buffering
    an operation and the hold's single commit, ANOTHER writer changed a
    table this transaction read or overwrites (the buffered remove/merge
    sets are stale). Publishing anyway would silently drop or duplicate the
    other writer's rows, so the publish fails LOUDLY instead — the Delta
    paper's §3.3 conflict check (ConcurrentAppend/ConcurrentDelete). The
    engine's recovery is its standard one: replay the batch (every mutation
    is idempotent), which re-reads current state and converges."""


class SnapshotExpiredError(RuntimeError):
    """A pinned :class:`LogSnapshot` outlived the vacuum retention: a
    ``vacuum`` ran more than ``retain_versions`` commits after the pin and
    physically deleted data files the snapshot still references. This is
    the documented retention contract (the Delta paper's VACUUM semantics)
    — the snapshot's isolation guarantee holds only within the retention
    window. Raised LOUDLY at read time (a driver-side existence check over
    the pruned candidate files) instead of surfacing as an arbitrary Spark
    FileNotFound mid-job. Recovery: re-pin (``store.snapshot()``) and
    re-run the read against current state."""


class _RetryConflict(Exception):
    """Internal: a read-modify-write commit saw its read set change;
    recompute from fresh state and retry (never escapes this module)."""


@dataclass
class _FileMeta:
    """Log-recorded metadata of one immutable data file."""

    path: str  # rel to store root
    rows: int
    lo: int | None = None  # min of the table's block column
    hi: int | None = None
    tlo: str | None = None  # min/max of the token column, when present
    thi: str | None = None

    def to_json(self) -> dict:
        d = {"p": self.path, "n": self.rows}
        if self.lo is not None:
            d["lo"], d["hi"] = self.lo, self.hi
        if self.tlo is not None:
            d["tlo"], d["thi"] = self.tlo, self.thi
        return d

    @staticmethod
    def from_json(d: dict) -> "_FileMeta":
        return _FileMeta(
            d["p"], d["n"], d.get("lo"), d.get("hi"), d.get("tlo"), d.get("thi")
        )


@dataclass
class _State:
    """Fold of the log through one version — everything a reader needs."""

    version: int = 0  # log version (commit count), NOT the block boundary
    boundary: int | None = None  # committed batch boundary (read_version)
    epoch: int = 0  # published-boundary rewind count (API parity)
    files: dict[str, dict[str, _FileMeta]] = field(default_factory=dict)
    schemas: dict[str, dict] = field(default_factory=dict)  # StructType json
    deltas: dict[str, list[str]] = field(default_factory=dict)

    def copy(self) -> "_State":
        return _State(
            self.version,
            self.boundary,
            self.epoch,
            {t: dict(fs) for t, fs in self.files.items()},
            dict(self.schemas),
            {t: list(v) for t, v in self.deltas.items()},
        )

    def apply(self, commit: dict) -> None:
        self.version = commit["v"]
        self.boundary = commit["boundary"]
        self.epoch = commit["epoch"]
        for table, ops in commit.get("tables", {}).items():
            fs = self.files.setdefault(table, {})
            for p in ops.get("rm", []):
                fs.pop(p, None)
            for fj in ops.get("add", []):
                fm = _FileMeta.from_json(fj)
                fs[fm.path] = fm
        for table, sch in commit.get("schemas", {}).items():
            self.schemas[table] = sch
        for table, names in commit.get("deltas", {}).items():
            have = self.deltas.setdefault(table, [])
            for n in names:
                if n not in have:
                    have.append(n)

    def to_checkpoint(self) -> dict:
        return {
            "v": self.version,
            "boundary": self.boundary,
            "epoch": self.epoch,
            "files": {
                t: [fm.to_json() for fm in fs.values()]
                for t, fs in self.files.items()
            },
            "schemas": self.schemas,
            "deltas": self.deltas,
        }

    @staticmethod
    def from_checkpoint(d: dict) -> "_State":
        st = _State(d["v"], d["boundary"], d["epoch"])
        st.files = {
            t: {fm["p"]: _FileMeta.from_json(fm) for fm in fs}
            for t, fs in d["files"].items()
        }
        st.schemas = dict(d.get("schemas", {}))
        st.deltas = {t: list(v) for t, v in d.get("deltas", {}).items()}
        return st


def _file_stats(abs_path: str, block_col: str | None, token_col: str | None):
    """Exact per-file min/max from the parquet footer (the commit-time stats
    capture — O(footer) local reads, no Spark job; on a cluster this rides
    the write job executor-side as in the Delta paper §4.1)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    rows = md.num_rows
    lo = hi = tlo = thi = None
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if name == block_col:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            elif name == token_col:
                tlo = st.min if tlo is None else min(tlo, st.min)
                thi = st.max if thi is None else max(thi, st.max)
    return rows, lo, hi, tlo, thi


class LogStore(StoreBackend):
    """Commit-log MVCC backend over a local directory (module docstring)."""

    def __init__(self, spark: SparkSession, root: str, bucket_size: int = 1000):
        self.spark = spark
        self.root = root
        # kept for constructor parity with ParquetStore; the log prunes by
        # per-file stats, so no physical bucketing exists to size
        self.bucket_size = bucket_size
        self._mutex = threading.RLock()  # in-process commit/state cache lock
        self._hold_depth = 0
        self._hold_ops: list[dict] = []  # buffered commits during a hold
        self._hold_base: _State | None = None
        self._cache: _State | None = None
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)

    # -- log fold --------------------------------------------------------------

    def _log_path(self, version: int, checkpoint: bool = False) -> str:
        name = f"{version:0{_COMMIT_WIDTH}d}" + (
            ".checkpoint.json" if checkpoint else ".json"
        )
        return os.path.join(self.root, _LOG_DIR, name)

    def _list_log(self) -> tuple[int | None, list[int]]:
        """(latest checkpoint version, sorted commit versions)."""
        ckpt = None
        commits = []
        for n in os.listdir(os.path.join(self.root, _LOG_DIR)):
            if n.endswith(".checkpoint.json"):
                v = int(n.split(".", 1)[0])
                ckpt = v if ckpt is None else max(ckpt, v)
            elif n.endswith(".json") and not n.endswith(".tmp.json"):
                commits.append(int(n.split(".", 1)[0]))
        return ckpt, sorted(commits)

    def _load_state(self) -> _State:
        """Fold the log: latest checkpoint + tail commits. O(tail), not
        O(history) — the checkpoint bounds replay for long crawl loops.

        Retries on FileNotFoundError: a vacuum in ANOTHER process may
        retire a listed commit between the list and the open (log
        retention made log reads non-append-only). Each retry re-lists,
        so it converges — a retired commit is always covered by a
        surviving checkpoint. The retry is CAPPED (``_LOG_READ_RETRIES``):
        if the covering-checkpoint invariant is violated (half-written log
        dir, manual deletion, a vacuum crashed between commit removal and
        checkpoint visibility), a loud diagnostic beats an infinite spin."""
        last_missing: FileNotFoundError | None = None
        for _ in range(_LOG_READ_RETRIES):
            try:
                ckpt_v, commits = self._list_log()
                if ckpt_v is not None:
                    with open(self._log_path(ckpt_v, checkpoint=True)) as f:
                        st = _State.from_checkpoint(json.load(f))
                else:
                    st = _State()
                for v in commits:
                    if v <= st.version:
                        continue
                    with open(self._log_path(v)) as f:
                        st.apply(json.load(f))
                return st
            except FileNotFoundError as e:
                last_missing = e
                continue  # concurrent vacuum raced the fold: re-list, refold
        raise FileNotFoundError(
            f"log fold failed {_LOG_READ_RETRIES} times at {self.root!r}: "
            f"{last_missing.filename!r} is listed but unreadable and no "
            f"covering checkpoint appeared — the log-retention invariant "
            f"(every retired commit is folded by a surviving checkpoint) is "
            f"violated (half-written log dir, manual deletion, or a vacuum "
            f"that crashed between commit removal and checkpoint publish)"
        ) from last_missing

    def _state(self, refresh: bool = False) -> _State:
        """Current committed state. The in-process cache is advanced by our
        own commits; ``refresh`` re-folds the log tail (cheap — commits past
        the cached version only) to observe OTHER writers."""
        with self._mutex:
            if self._cache is None or refresh:
                if self._cache is None:
                    self._cache = self._load_state()
                else:
                    ckpt, commits = self._list_log()
                    newer = [v for v in commits if v > self._cache.version]
                    if (newer and newer[0] != self._cache.version + 1) or (
                        ckpt is not None and ckpt > self._cache.version
                    ):
                        # another writer's vacuum retired the commits in the
                        # gap (log retention) — incremental fold would skip
                        # their effects; refold from the newest checkpoint.
                        # The checkpoint comparison matters even when `newer`
                        # is EMPTY: a vacuum with retain 0 can retire every
                        # commit into a checkpoint at the current version,
                        # and without it a stale instance would keep
                        # answering from its old cached state (and reference
                        # vacuumed files) with no error.
                        self._cache = self._load_state()
                    else:
                        try:
                            for v in newer:
                                with open(self._log_path(v)) as f:
                                    self._cache.apply(json.load(f))
                        except FileNotFoundError:
                            # a concurrent vacuum retired a listed commit
                            # between the list and the open — refold from
                            # the checkpoint that replaced it
                            self._cache = self._load_state()
            return self._cache

    def _visible_state(self) -> _State:
        """State the OWNING store reads through: committed state, plus the
        buffered ops of an open ``version_hold`` (read-your-own-writes —
        the backfill flow writes balances then reads them back inside one
        hold). Other readers see nothing until the hold's single commit."""
        with self._mutex:
            st = self._state(refresh=True)
            if self._hold_depth == 0 or not self._hold_ops:
                return st
            pending = st.copy()
            for commit in self._hold_ops:
                self._apply_buffered(pending, commit)
            return pending

    @staticmethod
    def _apply_buffered(state: _State, op: dict) -> None:
        """Fold ONE buffered hold op into ``state``, re-deriving boundary
        and epoch RELATIVE to the state being folded into (the op's
        ``bound`` intent) rather than applying its buffer-time absolutes
        verbatim. The absolutes are stale the moment an EXTERNAL writer
        advances the boundary on a table the hold never touched (which the
        ``expect`` file-set check deliberately does not constrain):
        replaying them would silently rewind the published head — a lost
        update with no epoch bump. Intents:

        - ``write``: a markered batch advances the boundary to
          ``max(hi, pre)`` and bumps the epoch iff its low edge overwrites
          already-published blocks (``lo <= pre``) — evaluated against the
          FOLD-TIME boundary, exactly as ``write_blocks`` evaluates it
          against commit state in the direct path;
        - ``retract``: rewinds to ``lo - 1`` (with an epoch bump) iff the
          fold-time boundary reaches ``lo``;
        - absent / ``keep``: boundary and epoch pass through unchanged
          (dimension swaps, delta appends, optimize)."""
        bound = op.get("bound") or {"kind": "keep"}
        pre, epoch = state.boundary, state.epoch
        kind = bound["kind"]
        if kind == "write":
            rewound = pre is not None and bound["lo"] <= pre
            if bound["marker"]:
                boundary = bound["hi"] if pre is None else max(bound["hi"], pre)
            else:
                boundary = pre  # marker-less writes only restore, never lead
            if rewound:
                epoch += 1
        elif kind == "retract":
            rewind = pre is not None and pre >= bound["lo"]
            boundary = (bound["lo"] - 1) if rewind else pre
            if rewind:
                epoch += 1
        else:
            boundary = pre
        # buffered ops carry no log version yet (they publish as ONE commit
        # at hold exit); fold at the current one with the re-derived head
        state.apply({**op, "v": state.version, "boundary": boundary, "epoch": epoch})

    # -- commit protocol ---------------------------------------------------------

    def _try_publish(self, version: int, commit: dict) -> bool:
        """Atomic put-if-absent of ``_log/<version>.json`` (Delta paper
        §3.2): the content is fully written to a private tmp first, then
        ``os.link`` makes it appear whole-or-not-at-all under the final
        name — and fails with EEXIST if a concurrent writer took the
        version. The one primitive an object-store port replaces."""
        final = self._log_path(version)
        tmp = final + f".{uuid.uuid4().hex}.tmp.json"
        with open(tmp, "w") as f:
            json.dump(commit, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def _commit(self, build):
        """Run ``build(state) -> ops-dict-or-None`` and publish it as one
        commit, with optimistic retry: on losing the version race the state
        is re-folded and ``build`` re-planned against it (survivor file
        sets may differ). ``build`` returning None means no-op (e.g. a
        delta replay). Inside a ``version_hold`` the ops are buffered and
        published as ONE commit at clean exit."""
        with self._mutex:
            if self._hold_depth > 0:
                base = self._visible_state()
                ops = build(base)
                if ops is not None:
                    self._hold_ops.append(ops)
                return
        while True:
            st = self._state(refresh=True)
            ops = build(st)
            if ops is None:
                return
            # "expect" (the touched tables' read sets) and "bound" (the
            # boundary-intent record) only matter for HOLD-buffered ops at
            # publish; a direct commit re-plans against fresh state on every
            # OCC retry, so its absolute boundary/epoch are already derived
            # from the state it extends and the log stays free of the noise
            ops.pop("expect", None)
            ops.pop("bound", None)
            commit = {"v": st.version + 1, "writer": f"{os.getpid()}", **ops}
            if self._try_publish(st.version + 1, commit):
                with self._mutex:
                    self._cache = st.copy()
                    self._cache.apply(commit)
                    self._maybe_checkpoint(self._cache)
                return
            # lost the race: another writer owns version+1. Re-fold and
            # re-plan — build() recomputes removes/survivors against the
            # winner's state, so replay converges (the M5 semantic between
            # concurrent indexers, without swallowed duplicate-key errors).

    def _maybe_checkpoint(self, st: _State) -> None:
        if st.version % CHECKPOINT_EVERY != 0:
            return
        path = self._log_path(st.version, checkpoint=True)
        tmp = path + f".{uuid.uuid4().hex}.tmp.json"
        with open(tmp, "w") as f:
            json.dump(st.to_checkpoint(), f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # checkpoints are derived data: last wins

    # -- staging -----------------------------------------------------------------

    def _stage_files(self, table: str, df: DataFrame) -> list[_FileMeta]:
        """Write ``df`` to new immutable files under ``data/<table>/`` and
        return their log metadata. The files are INVISIBLE until a commit
        references them (readers only list the log), so a crash here
        leaves only vacuumable orphans — no manifest, no recovery step."""
        txid = uuid.uuid4().hex[:12]
        stage = os.path.join(self.root, _STAGING_DIR, txid, table)
        df.write.mode("overwrite").parquet(stage)
        dest_dir = os.path.join(self.root, _DATA_DIR, table)
        os.makedirs(dest_dir, exist_ok=True)
        block_col = BLOCK_COLUMN.get(table)
        token_col = "token" if "token" in (EXTRA_PARTITIONS.get(table) or []) else None
        metas: list[_FileMeta] = []
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".parquet"):
                continue
            final_name = f"{txid}-{name}"
            abs_dest = os.path.join(dest_dir, final_name)
            os.rename(os.path.join(stage, name), abs_dest)
            rows, lo, hi, tlo, thi = _file_stats(abs_dest, block_col, token_col)
            if rows == 0:
                os.remove(abs_dest)  # empty part: never worth a log entry
                continue
            metas.append(
                _FileMeta(
                    os.path.join(_DATA_DIR, table, final_name), rows, lo, hi, tlo, thi
                )
            )
        shutil.rmtree(os.path.join(self.root, _STAGING_DIR, txid), ignore_errors=True)
        return metas

    def _abs(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    # -- read surface --------------------------------------------------------

    def _read_files(
        self, table: str, metas: list[_FileMeta], st: _State
    ) -> DataFrame:
        """Scan exactly ``metas``, with the schema served FROM THE LOG
        (the Delta design: the log's schema is authoritative). The explicit
        schema skips Spark's footer-inference pass — frame construction is
        pure driver-side metadata, no job, no file opens — so (a) every
        cold read saves one footer-merge job over the candidate files and
        (b) a concurrent vacuum deleting a pinned file surfaces at ACTION
        time, inside the snapshot guard that translates it to the named
        SnapshotExpiredError, never as a construction-time Java stack."""
        sch = st.schemas.get(table)
        if not metas:
            if sch is None:
                raise FileNotFoundError(f"unknown table {table!r} (never committed)")
            return self.spark.createDataFrame([], StructType.fromJson(sch))
        reader = self.spark.read
        if sch is not None:
            reader = reader.schema(StructType.fromJson(sch))
        return reader.parquet(*[self._abs(m.path) for m in metas])

    def _live(self, st: _State, table: str) -> list[_FileMeta]:
        return list(st.files.get(table, {}).values())

    def exists(self, table: str) -> bool:
        st = self._visible_state()
        return bool(st.files.get(table)) or table in st.schemas

    def read(self, table: str) -> DataFrame:
        st = self._visible_state()
        df = self._read_files(table, self._live(st, table), st)
        if table in st.deltas and "ingest_delta" in df.columns:
            df = df.drop("ingest_delta")
        return df

    def read_range(
        self, table: str, lo: int | None = None, hi: int | None = None
    ) -> DataFrame:
        """Metadata-pruned range scan: candidate files are selected from
        the LOG's per-file [lo, hi] stats driver-side — O(live files) dict
        scan, no listing, no footer reads — then the row predicate applies
        on top. Files with no stats (freak all-null column) stay candidates
        (pruning must never change results)."""
        st = self._visible_state()
        col = BLOCK_COLUMN[table]
        metas = [
            m
            for m in self._live(st, table)
            if (lo is None or m.hi is None or m.hi >= lo)
            and (hi is None or m.lo is None or m.lo <= hi)
        ]
        df = self._read_files(table, metas, st)
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
        return df

    def read_eq(self, table: str, number: int) -> DataFrame:
        st = self._visible_state()
        col = BLOCK_COLUMN[table]
        metas = [
            m
            for m in self._live(st, table)
            if (m.lo is None or m.lo <= number) and (m.hi is None or m.hi >= number)
        ]
        return self._read_files(table, metas, st).filter(F.col(col) == number)

    def max_block(self, table: str) -> int | None:
        """Answered from log stats alone — zero Spark jobs, zero file
        opens. The stats are exact footer min/max, so this equals
        ``agg(max(col))`` whenever stats exist; the (pathological) no-stats
        file falls back to reading just that file."""
        st = self._visible_state()
        metas = self._live(st, table)
        if not metas:
            return None
        vals = [m.hi for m in metas if m.hi is not None]
        unstats = [m for m in metas if m.hi is None]
        if unstats:
            col = BLOCK_COLUMN[table]
            row = (
                self._read_files(table, unstats, st)
                .agg(F.max(col).alias("m"))
                .collect()[0]
            )
            if row["m"] is not None:
                vals.append(row["m"])
        return max(vals) if vals else None

    def read_deltas(self, table: str) -> DataFrame:
        """Delta-appended dimension WITH its ``ingest_delta`` column — a
        DATA column here (written at append time), not a partition dir, so
        one plain multi-file read serves any number of deltas."""
        st = self._visible_state()
        return self._read_files(table, self._live(st, table), st)

    def read_version(self) -> int | None:
        return self._visible_state().boundary

    def read_rewind_epoch(self) -> int:
        """API parity with the version-pointer backend: counts published-
        boundary rewinds. LogStore snapshots never NEED it — their view is
        an immutable file set — but the counter keeps cross-backend
        observability identical."""
        return self._visible_state().epoch

    def snapshot(self) -> "LogSnapshot":
        """A read view pinned to the current log version — an immutable
        file set. PREVENTION, not detection: concurrent rewinds write new
        commits; the pinned files stay on disk (until ``vacuum`` past the
        retention), so ``check()`` never raises."""
        with self._mutex:  # copy under the lock: our own commits mutate it
            return LogSnapshot(self, self._state(refresh=True).copy())

    # -- mutations -----------------------------------------------------------

    def _prep(self, table: str, df: DataFrame) -> DataFrame:
        cols = REQUIRED_NON_NULL.get(table)
        if cols:
            cond = None
            for c in cols:
                n = F.col(c).isNull()
                cond = n if cond is None else (cond | n)
            if df.filter(cond).limit(1).count() > 0:
                raise ValueError(
                    f"{table}: NULL in required column(s) {cols} — a null "
                    "dedup key would silently collapse distinct rows"
                )
        key = UNIQUE_KEYS.get(table)
        return df.dropDuplicates(key) if key else df

    def write_blocks(
        self,
        tables: dict[str, DataFrame],
        block_range: tuple[int, int] | None = None,
    ) -> None:
        """S6 multi-table batch insert with overwrite-by-block-range
        semantics, in ONE atomic commit across every table: new files carry
        the batch rows; stored files overlapping [lo, hi] are removed, with
        their out-of-range survivor rows rewritten to fresh files. Readers
        cross the whole batch atomically (the reference's one DB
        transaction, store/store.go:115-173 — exact here, not staged).
        Replaying a failed batch recomputes the same remove-set against
        whatever committed and converges (M5). O(batch + overlapped files),
        never O(table).

        The tables' files stage concurrently (:func:`stage_concurrently`):
        staged files are invisible until the commit, so unlike the
        ParquetStore no table has to be written last as a marker, and a
        failed table leaves only vacuumable orphans behind."""

        def stage(table: str, df: DataFrame):
            df = self._prep(table, df)
            if block_range is not None:
                lo, hi = block_range
            else:
                col = BLOCK_COLUMN[table]
                row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
                lo, hi = row["lo"], row["hi"]
            if lo is None:
                return None
            # batch files stage once and are reused across OCC retries —
            # only the survivor set depends on the concurrent state
            return self._stage_files(table, df), int(lo), int(hi)

        tasks = [functools.partial(stage, t, df) for t, df in tables.items()]
        staged: dict[str, tuple[list[_FileMeta], int, int]] = {
            t: r
            for t, r in zip(tables, stage_concurrently(self.spark, tasks))
            if r is not None
        }
        if not staged:
            return
        schemas = {t: tables[t].schema.jsonValue() for t in staged}
        has_marker = "block_headers" in staged

        def build(st: _State) -> dict | None:
            pre = st.boundary
            t_ops: dict[str, dict] = {}
            expect = {
                t: sorted(st.files.get(t, {})) for t in staged
            }  # read set: validated at hold publish (stale rm = lost rows)
            rewound = False
            for table, (metas, lo, hi) in staged.items():
                col = BLOCK_COLUMN[table]
                overlapped = [
                    m
                    for m in self._live(st, table)
                    if (m.hi is None or m.hi >= lo) and (m.lo is None or m.lo <= hi)
                ]
                adds = list(metas)
                if overlapped:
                    survivors = self._read_files(table, overlapped, st).filter(
                        (F.col(col) < lo) | (F.col(col) > hi)
                    )
                    adds += self._stage_files(table, survivors)
                t_ops[table] = {
                    "add": [m.to_json() for m in adds],
                    "rm": [m.path for m in overlapped],
                }
                if pre is not None and lo <= pre:
                    rewound = True  # below-head overwrite of published blocks
            hi_all = max(hi for _, _, hi in staged.values())
            lo_all = min(lo for _, lo, _ in staged.values())
            if has_marker:
                boundary = hi_all if pre is None else max(hi_all, pre)
            else:
                boundary = pre  # marker-less writes only restore, never lead
            return {
                "boundary": boundary,
                "epoch": st.epoch + (1 if rewound else 0),
                "tables": t_ops,
                "schemas": schemas,
                "expect": expect,
                # boundary intent for hold-publish refold (_apply_buffered)
                "bound": {
                    "kind": "write",
                    "hi": hi_all,
                    "lo": lo_all,
                    "marker": has_marker,
                },
            }

        self._commit(build)

    def retract_blocks(self, lo: int, hi: int, tables=None) -> None:
        """M1/M2/M4 reorg retraction — ONE commit across every derived
        table (the reference's transactional delete loop,
        store/store.go:319-378, with exact atomicity). Files fully inside
        [lo, hi] are removed with zero data read; overlapping boundary
        files are rewritten to their survivors. Pinned snapshots keep
        reading the removed files until vacuum — the race the ParquetStore
        can only detect does not exist here."""
        names = tuple(tables) if tables is not None else tuple(BLOCK_COLUMN)

        def build(st: _State) -> dict | None:
            t_ops: dict[str, dict] = {}
            for table in names:
                col = BLOCK_COLUMN[table]
                overlapped = [
                    m
                    for m in self._live(st, table)
                    if (m.hi is None or m.hi >= lo) and (m.lo is None or m.lo <= hi)
                ]
                if not overlapped:
                    continue
                # boundary files (rows on both sides) rewrite to survivors
                partial = [
                    m
                    for m in overlapped
                    if m.lo is None or m.hi is None or m.lo < lo or m.hi > hi
                ]
                adds: list[_FileMeta] = []
                if partial:
                    survivors = self._read_files(table, partial, st).filter(
                        (F.col(col) < lo) | (F.col(col) > hi)
                    )
                    adds = self._stage_files(table, survivors)
                t_ops[table] = {
                    "add": [m.to_json() for m in adds],
                    "rm": [m.path for m in overlapped],
                }
            if not t_ops and (st.boundary is None or st.boundary < lo):
                return None  # nothing stored in range and no boundary move
            rewind = st.boundary is not None and st.boundary >= lo
            return {
                "boundary": (lo - 1) if rewind else st.boundary,
                "epoch": st.epoch + (1 if rewind else 0),
                "tables": t_ops,
                "expect": {t: sorted(st.files.get(t, {})) for t in t_ops},
                "bound": {"kind": "retract", "lo": lo},
            }

        self._commit(build)

    def update_dimension(self, table: str, df: DataFrame) -> None:
        """M3/M4: replace a small dimension wholesale — remove every live
        file, add the replacement's, one commit (never a half dimension)."""
        self.update_dimensions({table: df})

    def update_dimensions(self, tables: dict[str, DataFrame]) -> None:
        """Several dimensions in ONE commit — atomic across dims, which the
        rename-protocol backend can only approximate (its dims commit one
        swap at a time). The dimensions' files stage concurrently."""

        def stage(table: str, df: DataFrame) -> list[_FileMeta]:
            return self._stage_files(table, self._prep(table, df))

        tasks = [functools.partial(stage, t, df) for t, df in tables.items()]
        staged = dict(zip(tables, stage_concurrently(self.spark, tasks)))
        schemas = {t: df.schema.jsonValue() for t, df in tables.items()}

        def build(st: _State) -> dict | None:
            return {
                "boundary": st.boundary,
                "epoch": st.epoch,
                "tables": {
                    t: {
                        "add": [m.to_json() for m in metas],
                        "rm": [m.path for m in self._live(st, t)],
                    }
                    for t, metas in staged.items()
                },
                "schemas": schemas,
                "expect": {t: sorted(st.files.get(t, {})) for t in staged},
            }

        self._commit(build)

    def append_dimension(self, table: str, df: DataFrame) -> None:
        """Append + dedup-on-key (reorgs audit rows): read-merge-replace,
        O(dimension) — right for small audit dims; per-batch growing state
        uses :meth:`append_dimension_delta`.

        Read-modify-write under OCC: the merged DATA is computed from the
        read-time file set, so unlike the pure re-plan commits, losing a
        race to a concurrent writer of the SAME table cannot be fixed by
        re-planning removes alone — the merge itself is stale and landing
        it would drop the winner's rows (lost update). The build validates
        the read set and the whole read-merge-stage loop reruns on
        conflict (the Delta paper's §3.3 check, retried here because the
        merge function is still in hand — a hold publish, where it isn't,
        raises :class:`ConcurrentWriteConflict` instead)."""
        while True:
            st0 = self._visible_state()
            expected = set(st0.files.get(table, {}))
            if expected or table in st0.schemas:
                base = self._read_files(table, self._live(st0, table), st0)
                merged = base.unionByName(df)
            else:
                merged = df
            staged = self._stage_files(table, self._prep(table, merged))
            schema = merged.schema.jsonValue()

            def build(st: _State) -> dict | None:
                if set(st.files.get(table, {})) != expected:
                    raise _RetryConflict
                return {
                    "boundary": st.boundary,
                    "epoch": st.epoch,
                    "tables": {
                        table: {
                            "add": [m.to_json() for m in staged],
                            "rm": sorted(expected),
                        }
                    },
                    "schemas": {table: schema},
                    "expect": {table: sorted(expected)},
                }

            try:
                self._commit(build)
                return
            except _RetryConflict:
                continue  # stale staged files are vacuumable orphans

    def append_dimension_delta(self, table: str, df: DataFrame, delta: str) -> None:
        """O(batch) exactly-once append: the delta name is recorded IN the
        commit, so replaying an already-committed delta is a no-op decided
        by log state — no directory probe, and two concurrent writers
        racing the same delta name resolve through commit validation (the
        loser sees the name landed and no-ops)."""
        if not delta or not all(c.isalnum() or c in "_.-" for c in delta):
            raise ValueError(
                f"delta name {delta!r} must be non-empty [A-Za-z0-9_.-]"
            )
        st = self._visible_state()
        if delta in st.deltas.get(table, []):
            return
        tagged = df.withColumn("ingest_delta", F.lit(delta))
        metas = self._stage_files(table, tagged)
        if not metas:
            return  # empty delta: nothing to land (parity with ParquetStore)
        schema = tagged.schema.jsonValue()

        def build(st2: _State) -> dict | None:
            if delta in st2.deltas.get(table, []):
                return None  # lost a race to the same delta: exactly-once
            return {
                "boundary": st2.boundary,
                "epoch": st2.epoch,
                "tables": {table: {"add": [m.to_json() for m in metas], "rm": []}},
                "schemas": {table: schema},
                "deltas": {table: [delta]},
            }

        self._commit(build)

    @contextmanager
    def version_hold(self):
        """Group several mutations into ONE commit — and therefore one
        atomic visibility transition, which is STRONGER than the
        version-pointer form: nothing inside the hold (not even its
        rewinds) is visible to other readers until the clean exit, and a
        crash mid-hold publishes nothing (no write-ahead floor file
        needed; the orphaned staged files are vacuumable). The owning
        store reads its own buffered writes (the backfill flow's
        write-then-read works unchanged)."""
        with self._mutex:
            self._hold_depth += 1
        try:
            yield
        except BaseException:
            with self._mutex:
                self._hold_depth -= 1
                if self._hold_depth == 0:
                    self._hold_ops = []  # abort: publish nothing
            raise
        publish: list[dict] | None = None
        with self._mutex:
            self._hold_depth -= 1
            if self._hold_depth == 0:
                publish, self._hold_ops = self._hold_ops, []
        if publish:

            def build(st: _State) -> dict | None:
                merged = st.copy()
                tables: dict[str, dict] = {}
                schemas: dict[str, dict] = {}
                deltas: dict[str, list[str]] = {}
                for commit in publish:
                    # exactly-once deltas: if an external writer landed the
                    # same delta name since buffering, this op is a replay
                    # of an already-committed batch — skip it whole (the
                    # non-hold build's None), never double-append
                    if any(
                        n in merged.deltas.get(t, [])
                        for t, names in commit.get("deltas", {}).items()
                        for n in names
                    ):
                        continue
                    # §3.3 conflict check: each buffered op recorded the
                    # full live file set of every table it read/overwrites
                    # ("expect"). The fold replays ops in order, so expect
                    # matches unless ANOTHER writer touched the table since
                    # buffering — then the op's remove/merge sets are stale
                    # and publishing would lose or duplicate rows. Fail
                    # loudly; replaying the batch converges.
                    for t, paths in commit.get("expect", {}).items():
                        if set(paths) != set(merged.files.get(t, {})):
                            raise ConcurrentWriteConflict(
                                f"version_hold publish: table {t!r} was "
                                "modified by a concurrent writer after this "
                                "transaction buffered its write — replay "
                                "the batch against current state"
                            )
                    for t, ops in commit.get("tables", {}).items():
                        out = tables.setdefault(t, {"add": [], "rm": []})
                        live_before = set(merged.files.get(t, {}))
                        for p in ops.get("rm", []):
                            if p in live_before:
                                out["rm"].append(p)
                            else:
                                # removing a file an EARLIER buffered op
                                # added: cancel the add instead
                                out["add"] = [a for a in out["add"] if a["p"] != p]
                        out["add"] += ops.get("add", [])
                    for t, sch in commit.get("schemas", {}).items():
                        schemas[t] = sch
                    for t, names in commit.get("deltas", {}).items():
                        deltas.setdefault(t, []).extend(names)
                    # boundary/epoch are re-derived from PUBLISH-time state
                    # via each op's intent ("bound"), never taken verbatim
                    # from buffer time — an external writer advancing the
                    # head on an untouched table must not be rewound
                    self._apply_buffered(merged, commit)
                return {
                    "boundary": merged.boundary,
                    "epoch": merged.epoch,
                    "tables": tables,
                    **({"schemas": schemas} if schemas else {}),
                    **({"deltas": deltas} if deltas else {}),
                }

            self._commit(build)

    # -- maintenance (log-layout extras, outside the StoreBackend contract) ----

    def optimize(
        self,
        table: str,
        target_file_rows: int = 4_000_000,
        max_files: int | None = None,
    ) -> None:
        """Compact small files (micro-batch residue) into few block-sorted
        files — remove+add in one commit, fully snapshot-safe (the paper's
        OPTIMIZE). Sorting by the block column keeps row-group min/max
        tight for point reads.

        INCREMENTAL by design, in two senses. (1) Only files below the
        target size are compaction candidates, and outputs are bin-packed
        UP to the target (floor division: output files average at-or-above
        ``target_file_rows``), so a file one optimize wrote never
        re-qualifies as the next one's input — a periodic cadence inside an
        ingest loop costs O(files written since the last cadence), never
        O(table). (The previous ceil-division packing produced sub-target
        outputs that re-qualified every round, silently making maintenance
        O(table) — the exact cost this docstring claims to avoid.)
        (2) ``max_files`` bounds the candidate set per call (smallest
        files first, the highest-leverage merges): a cadence enabled LATE
        on a table with accumulated micro-file residue amortizes the
        backlog over several calls instead of paying one O(accumulated)
        spike — the r9 decade trace measured 45.6 s for the first cadence
        over an unmaintained 20k-block preseed vs 5-11 s steady-state;
        ``max_files`` caps that first-call envelope at roughly
        steady-state cost. Idempotence: a second optimize over an
        already-compacted table is a metadata-only no-op (no commit) —
        at-or-above-target outputs fail the candidate filter, and a
        single surviving sub-target file (a table smaller than the
        target) has nothing to merge with, so both exits are the
        ``len(metas) <= 1`` early return below."""
        st = self._state(refresh=True)
        metas = [
            m for m in self._live(st, table) if m.rows < target_file_rows
        ]
        if max_files is not None and len(metas) > max_files:
            metas = sorted(metas, key=lambda m: m.rows)[:max_files]
        if len(metas) <= 1:
            return
        total = sum(m.rows for m in metas)
        # floor division: >= 2 candidates each below target give
        # total < len*target, so nparts < len always — compaction strictly
        # reduces the file count, and outputs average at-or-above target
        nparts = max(1, total // target_file_rows)
        col = BLOCK_COLUMN.get(table)
        df = self._read_files(table, metas, st)
        if col is not None:
            df = df.repartitionByRange(nparts, F.col(col)).sortWithinPartitions(col)
        else:
            df = df.coalesce(nparts)
        new_metas = self._stage_files(table, df)

        def build(st2: _State) -> dict | None:
            live_now = set(st2.files.get(table, {}))
            if {m.path for m in metas} - live_now:
                return None  # a concurrent mutation rewrote some input: skip
            return {
                "boundary": st2.boundary,
                "epoch": st2.epoch,
                "tables": {
                    table: {
                        "add": [m.to_json() for m in new_metas],
                        "rm": [m.path for m in metas],
                    }
                },
            }

        self._commit(build)

    def _publish_vacuum_horizon(self, horizon: int) -> None:
        """TRULY monotonic publish: one immutable empty file per horizon
        (name carries the version), read = max over the directory listing.
        A single read-then-replace JSON would let two concurrent vacuums
        race (P publishes 100, Q then replaces it with 50) and silently
        REGRESS the marker — and the marker is the sole trigger for the
        snapshot's silent-partial re-verification, so a regression would
        disable exactly the defense it exists to provide. Immutable
        per-version files cannot regress: a concurrent publish only ever
        ADDS a member to the max. Lower markers are garbage-collected
        best-effort after each publish (deleting a non-max member never
        changes the max, so the cleanup needs no coordination)."""
        mdir = os.path.join(self.root, _VACUUM_MARKER_DIR)
        if self._read_vacuum_horizon() >= horizon:
            return
        os.makedirs(mdir, exist_ok=True)
        try:
            with open(os.path.join(mdir, f"{horizon:0{_COMMIT_WIDTH}d}"), "x"):
                pass
        except FileExistsError:
            pass  # another vacuum published the same horizon: done
        for name in os.listdir(mdir):
            try:
                if int(name) < horizon:
                    os.unlink(os.path.join(mdir, name))
            except (ValueError, FileNotFoundError):
                continue  # foreign file, or a concurrent cleanup won

    def _read_vacuum_horizon(self) -> int:
        """Max published horizon, -1 if no vacuum ever ran. Reads names
        only (no opens), so concurrent marker cleanup cannot race it."""
        horizon = -1
        try:
            for name in os.listdir(os.path.join(self.root, _VACUUM_MARKER_DIR)):
                try:
                    horizon = max(horizon, int(name))
                except ValueError:
                    continue
        except FileNotFoundError:
            pass
        # legacy single-file marker (pre-directory roots): fold it in
        try:
            with open(os.path.join(self.root, _VACUUM_MARKER)) as f:
                horizon = max(horizon, int(json.load(f).get("horizon", -1)))
        except (FileNotFoundError, json.JSONDecodeError, ValueError):
            pass
        return horizon

    def _list_checkpoints(self) -> list[int]:
        return sorted(
            int(n.split(".", 1)[0])
            for n in os.listdir(os.path.join(self.root, _LOG_DIR))
            if n.endswith(".checkpoint.json")
        )

    def vacuum(self, retain_versions: int = CHECKPOINT_EVERY) -> int:
        """Physically delete data files no state within the last
        ``retain_versions`` commits references, plus orphaned staging dirs,
        then retire log files a checkpoint at-or-below the horizon already
        folds (the paper's log cleanup) — the log dir stays
        O(retention + tail), not O(commit history). Returns the number of
        DATA files deleted. Retention is the snapshot contract: a snapshot
        older than the horizon may lose files — exactly the paper's VACUUM
        semantics."""
        st = self._state(refresh=True)
        last_missing: FileNotFoundError | None = None
        for _attempt in range(_LOG_READ_RETRIES + 1):
            if _attempt == _LOG_READ_RETRIES:
                # capped (see _load_state): a violated covering-checkpoint
                # invariant must fail loudly, not spin forever
                raise FileNotFoundError(
                    f"vacuum protection walk failed {_LOG_READ_RETRIES} "
                    f"times at {self.root!r}: {last_missing.filename!r} is "
                    f"listed but unreadable with no covering checkpoint — "
                    f"log-retention invariant violated; refusing to delete "
                    f"data files from an unreadable log"
                ) from last_missing
            # the whole protection walk retries on FileNotFoundError: a
            # vacuum in another process can retire a listed log file
            # between the list and the open; re-listing converges because
            # retired commits are always covered by a surviving checkpoint
            try:
                horizon = max(0, st.version - retain_versions)
                ckpts = self._list_checkpoints()
                _, commits = self._list_log()
                # fold base: the newest reconstructable state at or below the
                # horizon — version 0 (full replay) is available only while commit 1
                # survives log retention; afterwards retention guarantees a cut
                # checkpoint. If every base sits ABOVE the horizon (caller asked to
                # retain more than the log remembers), clamp the horizon up to the
                # oldest base: files removed before it were already deleted by the
                # earlier, shorter-retention vacuum, so the clamped fold loses
                # nothing that still exists.
                bases = (
                    [0] if (st.version == 0 or (commits and commits[0] == 1)) else []
                ) + ckpts
                if not bases:  # defensive: unreadable log shape — delete nothing
                    return 0
                below = [b for b in bases if b <= horizon]
                base_v = max(below) if below else min(bases)
                horizon = max(horizon, base_v)
                if base_v == 0:
                    walk = _State()
                else:
                    with open(self._log_path(base_v, checkpoint=True)) as f:
                        walk = _State.from_checkpoint(json.load(f))
                protected: set[str] = set()
                # files live at ANY version > horizon are protected, so
                # mid-window snapshots stay readable
                for v in commits:
                    if v <= walk.version:
                        continue
                    with open(self._log_path(v)) as f:
                        walk.apply(json.load(f))
                    if walk.version > horizon:
                        for fs in walk.files.values():
                            protected.update(fs.keys())
                for fs in walk.files.values():  # current state always protected
                    protected.update(fs.keys())
                break
            except FileNotFoundError as e:
                last_missing = e
                continue
        # publish the horizon BEFORE deleting anything: a pinned snapshot
        # racing these deletions must be able to OBSERVE that a vacuum
        # passed its version — Spark's file listing tolerates concurrently
        # deleted paths (skips them with a warning), so without this marker
        # a vacuum landing between a pinned read's existence pre-check and
        # the listing job yields a silently PARTIAL result, not an error.
        # LogSnapshot.check() reads the marker post-action and re-verifies
        # the pinned file set whenever horizon >= its version.
        self._publish_vacuum_horizon(horizon)
        deleted = 0
        data_root = os.path.join(self.root, _DATA_DIR)
        for table in os.listdir(data_root):
            tdir = os.path.join(data_root, table)
            for name in os.listdir(tdir):
                rel = os.path.join(_DATA_DIR, table, name)
                if rel not in protected:
                    os.remove(os.path.join(tdir, name))
                    deleted += 1
        shutil.rmtree(os.path.join(self.root, _STAGING_DIR), ignore_errors=True)
        # log retention: a commit folded into a checkpoint <= horizon can
        # never be needed again — state loads fold from the NEWEST
        # checkpoint, protection folds from the newest checkpoint <= the
        # (possibly clamped) horizon, and both stay available
        cut_cands = [c for c in ckpts if c <= horizon]
        if cut_cands:
            cut = max(cut_cands)
            for v in commits:
                if v <= cut:
                    try:
                        os.remove(self._log_path(v))
                    except FileNotFoundError:
                        pass  # another vacuum raced the same cleanup
            for c in ckpts:
                if c < cut:
                    try:
                        os.remove(self._log_path(c, checkpoint=True))
                    except FileNotFoundError:
                        pass
        return deleted


class LogSnapshot:
    """Immutable read view at one log version. Every read answers from the
    PINNED file set; concurrent commits (including reorg retractions) are
    invisible by construction — rewind detection can never fire. Prevention
    of the reorg-rewind reader race (the reference's MySQL isolation,
    store/store.go:115-173), where the ParquetStore detects it. The
    check/guard surface instead enforces the RETENTION contract (see the
    comment block below): it raises :class:`SnapshotExpiredError`, never
    the rewind error.

    Boundary of the guarantee: isolation holds within the VACUUM RETENTION
    window. A snapshot pinned longer than ``retain_versions`` commits
    before a vacuum may lose its files — reads then raise
    :class:`SnapshotExpiredError` (loud, named, with the re-pin recovery
    spelled out) via the existence check in :meth:`_read`."""

    def __init__(self, store: LogStore, state: _State):
        self.store = store
        self._st = state
        self.spark = store.spark
        self.version = state.boundary  # parity with StoreSnapshot.version
        self.epoch = state.epoch
        # tables this snapshot has actually served reads for: the
        # silent-partial re-verification (check) sweeps ONLY these — a
        # vacuumed file of a table this pin never scanned cannot have
        # truncated any answer, so it must not expire correct answers
        # about other tables (nor cost an all-tables exists() sweep)
        self._tables_read: set[str] = set()

    # check/guard/collect: the detection surface. Rewind detection can
    # never fire here (the pin is an immutable file set), but the RETENTION
    # contract can, in two shapes a vacuum racing a pinned action produces:
    #   (a) LOUD — the job opens a deleted file and fails with a raw
    #       FileNotFound-class error; guard() translates exactly that case
    #       (verified against the pin's actual file set, so unrelated read
    #       failures pass through) into the named SnapshotExpiredError;
    #   (b) SILENT — Spark's file listing TOLERATES concurrently-deleted
    #       paths (skips them with a warning), so a vacuum landing between
    #       the existence pre-check and the listing job yields a partial
    #       result with no error at all. check() closes this: vacuum
    #       publishes its horizon BEFORE deleting (_VACUUM_MARKER_DIR, a
    #       monotone max over immutable per-version files), and a
    #       post-action check on a pin at-or-below that horizon re-verifies
    #       the pinned file set of the TABLES THIS SNAPSHOT HAS READ (only
    #       those can have produced a partial answer) — one small dir
    #       listing in the happy path, the os.path.exists sweep only once
    #       a vacuum has actually passed the pin.
    # The EP3 surface brackets every action with guard(), so a naive
    # consumer gets the actionable re-pin error in all failure modes —
    # never a Java stack, never a silently truncated answer.
    def check(self) -> None:
        if self.store._read_vacuum_horizon() >= self._st.version:
            missing = self._missing_files()
            if missing:
                raise SnapshotExpiredError(
                    f"snapshot pinned at log version {self._st.version} "
                    f"lost {len(missing)} file(s) to a vacuum whose horizon "
                    f"passed the pin (first: {missing[0]!r}) — results read "
                    "under this condition may be partial; re-pin with "
                    "store.snapshot() and re-read"
                )

    def _missing_files(self) -> list[str]:
        """Pinned files that no longer exist, SCOPED to the tables this
        snapshot has read (``_tables_read``): only those files can have
        produced a partial answer, and an unrelated table losing files to
        retention must not reject a complete, correct result (nor grow the
        sweep to O(all tables) per action)."""
        return [
            m.path
            for table in self._tables_read
            for m in self._st.files.get(table, {}).values()
            if not os.path.exists(self.store._abs(m.path))
        ]

    @contextmanager
    def guard(self):
        try:
            yield
        except SnapshotExpiredError:
            raise
        except Exception as e:
            text = f"{type(e).__name__} {e}"
            if any(
                s in text
                for s in (
                    "FileNotFound",
                    "PATH_NOT_FOUND",
                    "FILE_NOT_FOUND",
                    "FILE_NOT_EXIST",
                )
            ):
                missing = self._missing_files()
                if missing:
                    raise SnapshotExpiredError(
                        f"snapshot pinned at log version {self._st.version} "
                        f"lost {len(missing)} file(s) to vacuum mid-action "
                        f"(first: {missing[0]!r}) — the pin outlived the "
                        "vacuum retention window; re-pin with "
                        "store.snapshot() and re-read"
                    ) from e
            raise
        # the action SUCCEEDED: rule out the silent-partial shape before
        # handing the result to the caller
        self.check()

    def collect(self, df: DataFrame) -> list:
        with self.guard():
            return df.collect()

    def snapshot(self) -> "LogSnapshot":
        return self

    def exists(self, table: str) -> bool:
        return bool(self._st.files.get(table)) or table in self._st.schemas

    def read(self, table: str) -> DataFrame:
        df = self._read(table, self._live(table))
        if table in self._st.deltas and "ingest_delta" in df.columns:
            df = df.drop("ingest_delta")
        return df

    def _live(self, table: str) -> list[_FileMeta]:
        return list(self._st.files.get(table, {}).values())

    def _read(self, table: str, metas: list[_FileMeta]) -> DataFrame:
        """Pinned read with the retention contract enforced LOUDLY: if a
        vacuum past the retention window deleted any of this snapshot's
        files, raise :class:`SnapshotExpiredError` (named, actionable)
        instead of an arbitrary Spark read failure. The check is a
        driver-side ``os.path.exists`` over the PRUNED candidate list —
        O(files this read touches), trivial beside the scan it fronts.
        Best-effort by nature: a vacuum landing between this check and the
        job's file reads still surfaces as Spark's FileNotFound — the check
        pins the overwhelmingly common failure mode (a long-pinned snapshot
        read AFTER maintenance), not a sub-second race."""
        self._tables_read.add(table)
        missing = [
            m.path for m in metas if not os.path.exists(self.store._abs(m.path))
        ]
        if missing:
            raise SnapshotExpiredError(
                f"snapshot pinned at log version {self._st.version} references "
                f"{len(missing)} file(s) of table {table!r} that vacuum has "
                f"deleted (first: {missing[0]!r}) — the pin outlived the "
                "vacuum retention window; re-pin with store.snapshot() and "
                "re-read"
            )
        # construction is lazy (log-served schema, no footer job), but any
        # residual driver-side path probe racing a vacuum must surface as
        # the named error too — same translation as the action bracket
        with self.guard():
            return self.store._read_files(table, metas, self._st)

    def read_range(
        self, table: str, lo: int | None = None, hi: int | None = None
    ) -> DataFrame:
        col = BLOCK_COLUMN[table]
        metas = [
            m
            for m in self._live(table)
            if (lo is None or m.hi is None or m.hi >= lo)
            and (hi is None or m.lo is None or m.lo <= hi)
        ]
        df = self._read(table, metas)
        if lo is not None:
            df = df.filter(F.col(col) >= lo)
        if hi is not None:
            df = df.filter(F.col(col) <= hi)
        return df

    def read_eq(self, table: str, number: int) -> DataFrame:
        col = BLOCK_COLUMN[table]
        metas = [
            m
            for m in self._live(table)
            if (m.lo is None or m.lo <= number) and (m.hi is None or m.hi >= number)
        ]
        return self._read(table, metas).filter(F.col(col) == number)

    def max_block(self, table: str) -> int | None:
        metas = self._live(table)
        if not metas:
            return None
        vals = [m.hi for m in metas if m.hi is not None]
        unstats = [m for m in metas if m.hi is None]
        if unstats:
            col = BLOCK_COLUMN[table]
            row = (
                self._read(table, unstats)
                .agg(F.max(col).alias("m"))
                .collect()[0]
            )
            if row["m"] is not None:
                vals.append(row["m"])
        return max(vals) if vals else None

    def read_deltas(self, table: str) -> DataFrame:
        return self._read(table, self._live(table))

    def read_version(self) -> int | None:
        return self.version

    def read_rewind_epoch(self) -> int:
        return self.epoch
