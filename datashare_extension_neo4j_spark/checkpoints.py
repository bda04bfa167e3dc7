"""Every executor-storage checkpoint of the package, and when its
blocks are freed. A ``localCheckpoint`` persists below the SQL cache
manager, so ``DataFrame.unpersist()`` cannot free it; its blocks are
freed here by RDD id, read off the checkpointed frame's ``LogicalRDD``.

A ``checkpoints`` scope releases the blocks of one call when it exits,
also by an exception; ``keep`` registers the blocks of a frame that
backs a returned result until ``release_long_lived_checkpoints``.

Trade-off, deliberate: a local checkpoint cannot be recomputed, so
losing an executor that holds its blocks fails the job, not a task.
The staged merges stay safe under a job retry because every combine
is idempotent (set-union, key-dedup, newest-wins). A reliable
``checkpoint()`` under ``spark.checkpoint.dir`` would regain task-level
recovery at the cost of a second write; this module is where that
choice is made.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _block_ids(df: DataFrame) -> set[int]:
    """The RDD a checkpointed frame reads, off its own plan, so
    concurrent checkpoints never claim each other's blocks (empty where
    the JVM plan is unreachable, e.g. Spark Connect: releasing is then
    a no-op). A lazy checkpoint's RDD is persisted before any job."""
    try:
        return {int(df._jdf.queryExecution().analyzed().rdd().id())}
    except Exception:  # pragma: no cover - connect/remote sessions
        return set()


def _checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    """The package's one ``localCheckpoint``."""
    return df.localCheckpoint(eager=eager)


def _persistent_rdd_ids(spark: SparkSession) -> set[int] | None:
    """ids of currently persisted RDDs (None if the JVM bridge is
    unavailable, e.g. Spark Connect)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}
    except Exception:  # pragma: no cover - connect/remote sessions
        return None


def _unpersist(spark: SparkSession, ids: set[int]) -> None:
    """Release checkpoint blocks by RDD id (non-blocking)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)
    except Exception:  # pragma: no cover - connect/remote sessions
        pass


class Checkpoints:
    """The blocks pinned inside one ``checkpoints`` scope."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._pinned: set[int] = set()

    def pin(self, df: DataFrame) -> DataFrame:
        """Eager checkpoint of ``df``, released when the scope exits."""
        out = _checkpoint(df, eager=True)
        self._pinned |= _block_ids(out)
        return out

    def _unpin(self, df: DataFrame) -> set[int]:
        ids = _block_ids(df) & self._pinned
        self._pinned -= ids
        return ids

    def release(self, df: DataFrame) -> None:
        """Free a pinned frame's blocks now; the frame is unusable
        afterwards."""
        _unpersist(self._spark, self._unpin(df))

    def keep(self, df: DataFrame) -> DataFrame:
        """Move a pinned frame into the long-lived registry."""
        _register(self._spark, self._unpin(df))
        return df


@contextmanager
def checkpoints(spark: SparkSession) -> Iterator[Checkpoints]:
    """A scope whose pinned blocks are released when it exits."""
    ck = Checkpoints(spark)
    try:
        yield ck
    finally:
        _unpersist(spark, ck._pinned)


_LOCK = threading.Lock()
_LONG_LIVED: dict[str, set[int]] = {}


def _register(spark: SparkSession, ids: set[int]) -> None:
    with _LOCK:
        _LONG_LIVED.setdefault(spark.sparkContext.applicationId, set()).update(ids)


def keep(df: DataFrame, eager: bool = True) -> DataFrame:
    """Checkpoint a frame that backs a returned result into the
    long-lived registry. ``eager=False`` runs no job: the blocks fill
    when a consumer first reads the frame, and its consumers share
    them."""
    out = _checkpoint(df, eager)
    _register(df.sparkSession, _block_ids(out))
    return out


def release_long_lived_checkpoints(spark: SparkSession) -> int:
    """Unpersist this session's registered long-lived blocks and return
    how many RDDs were released. The frames they back are unusable
    afterwards: call it once their results are consumed."""
    with _LOCK:
        ids = _LONG_LIVED.pop(spark.sparkContext.applicationId, set())
    _unpersist(spark, ids)
    return len(ids)
