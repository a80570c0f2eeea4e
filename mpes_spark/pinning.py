"""Pinning policy for intermediate relations, and its one release call.

An operator pins a relation it would otherwise recompute:

- eager ``localCheckpoint(eager=True)`` for a relation that is
  iterated over or read by several jobs (graph rounds, dedup waves,
  the relation an eager result is computed from). The checkpoint
  cuts the lineage and gives AQE exact sizes, but its blocks are not
  replicated: losing an executor that holds them fails the query
  instead of recomputing it. That is the accepted fault-tolerance
  cost on every eager checkpoint in the engine.
- lazy ``persist()`` for a relation read by several branches of ONE
  plan (e.g. both sides of a verification join). It stays
  recomputable from lineage and costs no job at construction time.

Every pinned relation has one owner that frees it with
:func:`release` as soon as the relation that consumes it is
materialized. A relation that a RETURNED lazy plan still reads
belongs to the caller, who releases it after running that plan —
for example with :func:`sweep` between queries, as ``bench.py`` does.

Streaming sinks keep their state as :class:`Parts`: eagerly pinned
increments, compacted every :data:`COMPACT_EVERY` adds into one pinned
merge that replaces them; state that never changes (a static corpus)
is pinned once with :func:`pin` and held outside the parts, so a
compaction never copies it; a per-batch temporary is pinned with
:func:`pin` and released when the batch is handled. The streaming
rule:

- a sink owns its state for its whole life;
- a relation returned by a sink's ``current()``, ``novel()`` or
  ``flagged()`` reads that state and is valid until the next batch is
  handled. Collect or checkpoint it to keep it. A reader on another
  thread — a live display polling ``current()`` while the query runs —
  must do so between batches (from the ``foreachBatch`` callback,
  after ``handle``), since a read that overlaps a ``handle`` call can
  find a part released under it;
- reading a released local checkpoint fails with an error. It never
  returns wrong rows.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame

#: adds between two compactions of a :class:`Parts`. Measured with
#: ``tools/compact_soak.py`` (20-doc batches, ``local[2]`` on a shared
#: 4-core VM, each cadence run in both orders): dup_span's mean
#: per-batch wall over 48 batches is 0.63-0.67 s at 8 and 16,
#: 0.66-0.71 s at 4, 0.70-0.81 s at 2, and without compaction its last
#: 24 batches average 0.90-0.96 s and keep climbing; neardup's (2000-doc
#: corpus, 32 batches) moves less with the cadence than with run order
#: (2.0-2.8 s). 8 is the shallower end of the flat range.
COMPACT_EVERY = 8


def release(*dfs: DataFrame) -> None:
    """Free each persisted or locally checkpointed DataFrame now,
    without waiting for the JVM to garbage-collect its handle. Any
    other DataFrame — one already released, or a plan DERIVED from a
    pinned relation, such as a union of checkpoints — is left alone.
    Blocks are dropped asynchronously."""
    for df in dfs:
        df.unpersist(blocking=False)
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def sweep(spark) -> None:
    """The caller's half of the policy: between queries, drop every
    cached table and every persisted or checkpointed RDD of the
    session, then run a JVM GC so a shuffle-heavy query's collection
    debt is not paid by the next one."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.sparkContext._jvm.System.gc()


def pin(df: DataFrame) -> DataFrame:
    """Eagerly local-checkpoint ``df``. A relation that is already
    pinned or stored — a live local checkpoint, or a plain scan of
    files — is returned as it is."""
    plan = df._jdf.queryExecution().analyzed()
    kind = plan.getClass().getSimpleName()
    if kind == "LogicalRelation":
        return df
    if kind == "LogicalRDD":
        level = plan.rdd().getStorageLevel()
        if level.useMemory() or level.useDisk():
            return df
    return df.localCheckpoint(eager=True)


class Parts:
    """One piece of streaming-sink state: a list of pinned increments
    read as their lazy union. Every :data:`COMPACT_EVERY` adds since
    the last replacement, the parts are replaced by one pinned
    ``merge(union)``, so the list never holds more than
    ``COMPACT_EVERY`` parts between adds. ``merge`` must leave the
    rows a reader sees unchanged (a re-aggregation, a ``distinct``, or
    a rewrite to storage)."""

    def __init__(self, merge: Callable[[DataFrame], DataFrame] = lambda df: df):
        self._merge = merge
        self._parts: list[DataFrame] = []
        self._adds = 0

    def add(self, df: DataFrame) -> None:
        self._parts.append(pin(df))
        self._adds += 1
        if self._adds >= COMPACT_EVERY:
            self.replace(self._merge(self.union()))

    def replace(self, df: DataFrame) -> None:
        """Pin ``df`` as the only part, then release the parts it
        supersedes (``df`` may read them)."""
        old, self._parts = self._parts, [pin(df)]
        self._adds = 0
        release(*(p for p in old if p is not self._parts[0]))

    def union(self) -> DataFrame | None:
        if not self._parts:
            return None
        return reduce(lambda a, b: a.unionByName(b), self._parts)

    def __len__(self) -> int:
        return len(self._parts)
