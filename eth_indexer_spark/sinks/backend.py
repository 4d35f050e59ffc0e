"""Store backend seam: the abstract contract between the engine and its
storage layer.

Everything above the sink — operators, plans, pipeline, streaming — talks to
the store through exactly this surface: six mutation entry points, a small
read surface, and the two consistency primitives (``snapshot`` /
``version_hold``). :class:`~eth_indexer_spark.sinks.store.ParquetStore` is
the local-FS implementation (bucket-partitioned parquet + manifest protocol
+ VERSION pointer); :class:`~eth_indexer_spark.sinks.logstore.LogStore` is
the MVCC implementation (commit-log over immutable files, the public Delta
Lake design) that supplies real snapshot isolation — closing the documented
reorg-rewind read race by prevention instead of detection, and replacing
the single-writer flock with optimistic multi-writer concurrency — without
touching a single operator: the ingest lifecycle tests run parametrized
over both backends (README "Deployment posture", SURVEY §known-deviations).

What is deliberately NOT here: parquet-layout extras (``bucket_values``,
``path``, ``compact``, ``buckets_needing_compaction``, ``delete_block_range``,
``append_blocks``) — maintenance and physical-layout concerns a lakehouse
backend replaces wholesale (OPTIMIZE, partition evolution, time travel).
Engine code outside the sink must not call them; ``tests/test_sink.py``
asserts the engine's call surface stays inside this contract.

Reference scope note: the reference's store interface is the Go ``Store``
per-table managers behind one ``store.Manager`` (store/store.go:30-113);
this seam is its engine-facing equivalent, with the DB transaction scope
re-expressed as ``snapshot``/``version_hold``.
"""

from __future__ import annotations

import abc
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, ContextManager, Iterable, Sequence, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")

# staging pool width: 4 measured faster than 8 on local[32] — table writes
# contend on the scheduler and local FS; 4 overlaps the per-write fixed cost
# without saturating either
STAGING_WORKERS = 4


def stage_concurrently(spark: SparkSession, tasks: Sequence[Callable[[], T]]) -> list[T]:
    """Run independent staging tasks (each a few Spark jobs writing its own
    directory) from a small fixed pool; return their results in order.

    Each task is wrapped with ``inheritable_thread_target(spark)`` in the
    caller's thread, one wrap per task: in pinned-thread mode a pool thread
    is a fresh JVM thread, so without it the caller's job group, tags and
    local properties never reach the task's jobs (``cancelJobGroup`` would
    miss them). Every wrap clones the properties, because each running
    query sets its own ``spark.sql.execution.id`` in them.

    All tasks finish before the first failure (in task order) re-raises, so
    a caller that publishes after staging publishes nothing on failure and
    no write is still running behind it."""
    if len(tasks) <= 1:
        return [t() for t in tasks]

    def inherit(task):
        wrap = inheritable_thread_target(spark)
        # without pinned threads the wrapper hands the session back unchanged
        return task if wrap is spark else wrap(task)

    with ThreadPoolExecutor(max_workers=min(STAGING_WORKERS, len(tasks))) as ex:
        futures = [ex.submit(inherit(t)) for t in tasks]
    return [f.result() for f in futures]


class StoreBackend(abc.ABC):
    """Abstract storage backend (see module docstring).

    Implementations must guarantee, in whatever mechanism fits the format:

    - **Atomic multi-table batches**: a ``write_blocks`` batch becomes
      visible to ``snapshot()`` readers all-or-nothing, in block order.
    - **Idempotent replay**: re-writing an already-committed batch (same
      block range) converges to the same state — crash recovery is replay.
    - **Monotone-except-retraction versioning**: ``read_version()`` is the
      committed batch boundary; ``retract_blocks`` moves it down before any
      retracted row disappears, everything else only moves it up.
    - **Delta appends are exactly-once by key**: ``append_dimension_delta``
      with an existing ``delta`` key is a no-op.
    """

    # -- read surface --------------------------------------------------------

    @abc.abstractmethod
    def exists(self, table: str) -> bool: ...

    @abc.abstractmethod
    def read(self, table: str) -> DataFrame: ...

    @abc.abstractmethod
    def read_range(
        self, table: str, lo: int | None = None, hi: int | None = None
    ) -> DataFrame:
        """Block-keyed slice ``lo <= block <= hi``; implementations must
        prune (partitions, files, or row groups) — this is the hot path."""

    @abc.abstractmethod
    def read_eq(self, table: str, number: int) -> DataFrame: ...

    @abc.abstractmethod
    def max_block(self, table: str) -> int | None: ...

    @abc.abstractmethod
    def read_deltas(self, table: str) -> DataFrame:
        """All delta partitions of a delta-append table, with the delta key
        as an ``ingest_delta`` column."""

    @abc.abstractmethod
    def read_version(self) -> int | None: ...

    @abc.abstractmethod
    def read_rewind_epoch(self) -> int:
        """Monotone count of boundary rewinds (reorg retractions) — a
        backend with real MVCC snapshots may return a constant 0, its
        readers can never observe a retraction mid-read."""

    @abc.abstractmethod
    def snapshot(self):
        """A read view pinned at the current committed boundary, exposing
        this same read surface plus ``check``/``guard``/``collect``."""

    # -- mutation entry points (the six) --------------------------------------

    @abc.abstractmethod
    def write_blocks(
        self,
        tables: dict[str, DataFrame],
        block_range: tuple[int, int] | None = None,
    ) -> None: ...

    @abc.abstractmethod
    def retract_blocks(
        self, lo: int, hi: int, tables: Iterable[str] | None = None
    ) -> None: ...

    @abc.abstractmethod
    def update_dimension(self, table: str, df: DataFrame) -> None: ...

    @abc.abstractmethod
    def update_dimensions(self, tables: dict[str, DataFrame]) -> None: ...

    @abc.abstractmethod
    def append_dimension(self, table: str, df: DataFrame) -> None: ...

    @abc.abstractmethod
    def append_dimension_delta(self, table: str, df: DataFrame, delta: str) -> None: ...

    # -- consistency grouping --------------------------------------------------

    @abc.abstractmethod
    def version_hold(self) -> ContextManager[None]:
        """Group several mutations into one snapshot transition."""
