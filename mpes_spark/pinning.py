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
for example with the per-query sweep in ``bench.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
