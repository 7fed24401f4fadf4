"""Owned ``localCheckpoint`` generations for fixpoint loops.

``localCheckpoint`` stores partitions in executor block storage, and
PySpark exposes no handle to release them; a fixpoint that checkpoints
per round would pin EVERY round's table until the session dies. Two
measured costs (r15 optimization round):

- session pollution: a long-lived session that runs many
  checkpoint-heavy builds (the 168-row bench, the driver's window)
  accumulates hundreds of dead generations — storage competes with
  execution memory in the unified manager, and a later query's
  sort/aggregate warm time tripled (icws: 4.1 s fresh session vs
  12.9 s after four REBUILD rows had run first);
- scale: a 25-round fixpoint at 100 TB would hold 25 corpus-sized
  label tables in executor memory for no reason — only the newest
  generation is ever read again.

:class:`Generations` records the registry id of each checkpoint a loop
makes through it (a checkpointed frame's plan is a ``LogicalRDD``) and
frees only those ids, never a caller's cached input or another loop's
checkpoints. A freed checkpoint cannot be recomputed (its lineage is
truncated), so it is freed only once nothing live reads it: ``cut``
frees the previous generation once the new one has materialized; a
normal exit frees the ``hold`` scaffolding and every generation the
plan passed to ``keep`` does not read; an exception frees everything.

A lazy mark fills on the first action that reads it and must appear
exactly ONCE in that action's plan: two consumers of an unfilled mark
in one action both compute it (lazy per-round cuts measured textrank
4.6 -> 8.6 s and nn_descent 14 -> 22 s; r15, reverted in 6c40351). So
a lazy cut names its single consumer, ``probe``, which the helper runs
before it frees the previous generation.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids currently registered in the context's persistent-RDD map
    (localCheckpoint marks register at DataFrame creation, cached
    plans at materialization)."""
    jsc = spark.sparkContext._jsc
    return {int(x) for x in jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_ids(spark: SparkSession, ids: set[int]) -> None:
    """Non-blocking unpersist of the given registry ids (missing ids
    are ignored — another cleanup may have raced us between rows)."""
    if not ids:
        return
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        r = m.get(rid)
        if r is not None:
            r.unpersist(False)


class Generations:
    """The checkpoints of one fixpoint loop, as a context manager."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._owned: set[int] = set()
        self._kept: set[int] = set()
        self._gen: int | None = None

    def __enter__(self) -> Generations:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        dead = self._owned if exc_type else self._owned - self._kept
        unpersist_ids(self._spark, dead)

    def hold(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """Checkpoint of ``df`` that lives until the loop ends (a lazy
        one fills on the caller's next action)."""
        return self._mark(df, eager)[0]

    def cut(
        self, df: DataFrame, probe: Callable[[DataFrame], Any] | None = None
    ) -> Any:
        """Eager checkpoint of ``df`` as the next generation; with
        ``probe``, a lazy one filled by ``probe(mark)``, returning
        ``(mark, probe(mark))``. Frees the previous generation."""
        mark, rid = self._mark(df, eager=probe is None)
        out = mark if probe is None else (mark, probe(mark))
        if self._gen is not None:
            unpersist_ids(self._spark, {self._gen})
            self._owned.discard(self._gen)
        self._gen = rid
        return out

    def keep(self, df: DataFrame) -> DataFrame:
        """Mark the checkpoints ``df``'s plan reads as surviving a
        normal exit; returns ``df``."""
        leaves = df._jdf.queryExecution().logical().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRDD":
                self._kept.add(leaf.rdd().id())
        return df

    def _mark(self, df: DataFrame, eager: bool) -> tuple[DataFrame, int]:
        # eager = lazy mark + the one job localCheckpoint(eager=True)
        # runs, so a mark whose job fails is owned and freed too
        mark = df.localCheckpoint(eager=False)
        plan = mark._jdf.queryExecution().logical()
        if plan.nodeName() != "LogicalRDD":
            raise TypeError(f"checkpoint plan is a {plan.nodeName()}")
        rdd = plan.rdd()
        self._owned.add(rdd.id())
        if eager:
            rdd.count()
        return mark, rdd.id()
