"""The one plan cut, and the scope that releases it.

A cut replaces a DataFrame's logical plan with a leaf backed by stored
blocks. Operators need one where an iterative or fan-out plan would
otherwise grow per round or recompute an expensive producer per consumer
(graph.py's star rounds, the MinHash signature table, the curation
stages). The cut is never part of an operator's semantics: output is
identical with either storage.

``cut(df)`` picks its storage from what the session already says:

- a checkpoint dir is set (``spark-submit --conf
  spark.checkpoint.dir=<shared path>``, or ``setCheckpointDir``): reliable
  ``checkpoint(eager=False)``. The blocks live in the shared store and
  survive executor loss, at the documented price of one recompute to
  write them;
- otherwise: ``localCheckpoint(eager=False)``, executor-local and fast.

``scope(spark)`` owns release. Every ``cut()`` taken while a scope is open
on the same thread registers its RDD id with the innermost scope at call
time (a lazy local checkpoint joins the persistent-RDD registry then, not
at its first action). On exit the scope frees exactly those ids: it
unpersists local blocks and deletes reliable checkpoint files. It never
touches anything it did not record, so a caller's ``.cache()``d input
survives. Blocks that back a DataFrame an operator returns are therefore
freed by the caller's scope, after the caller's action. Iterative loops
free a superseded round early with ``release()``, once the next round's
action has stored its replacement. A cut taken outside any scope is
freed only when driver GC lets Spark's ContextCleaner reach it.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame


class _OpenScopes(threading.local):
    """Per-thread stack of the RDD-id sets of the open scopes. Operators
    take no scope argument, so ``cut()`` finds the innermost one here; a
    foreachBatch body runs on its own thread and gets its own stack."""

    def __init__(self) -> None:
        self.stack: list[set[int]] = []


_open = _OpenScopes()


def _rdd_id(df: DataFrame) -> int:
    # a cut DataFrame's logical plan is the LogicalRDD over the stored RDD
    return df._jdf.logicalPlan().rdd().id()


def _free(sc, ids) -> None:
    registry = sc._jsc.getPersistentRDDs()
    clean = sc._jvm.org.apache.spark.rdd.ReliableRDDCheckpointData.cleanCheckpoint
    for rid in ids:
        if registry.containsKey(rid):
            registry.get(rid).unpersist()
        clean(sc._jsc.sc(), rid)  # no-op without a checkpoint dir or file


def cut(df: DataFrame) -> DataFrame:
    """``df`` with its plan cut at a stored leaf (module docstring)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        out = df.checkpoint(eager=False)
    else:
        out = df.localCheckpoint(eager=False)
    if _open.stack:
        _open.stack[-1].add(_rdd_id(out))
    return out


def release(*cuts: DataFrame) -> None:
    """Free the blocks behind ``cuts`` now, before their scope closes.
    Only for DataFrames ``cut()`` returned, once nothing will read them."""
    ids = {_rdd_id(df) for df in cuts}
    for recorded in _open.stack:
        recorded -= ids
    _free(cuts[0].sparkSession.sparkContext, ids)


@contextmanager
def scope(spark):
    """Free, on exit, every cut taken inside the block on this thread."""
    recorded: set[int] = set()
    _open.stack.append(recorded)
    try:
        yield
    finally:
        _open.stack.pop()
        _free(spark.sparkContext, recorded)
