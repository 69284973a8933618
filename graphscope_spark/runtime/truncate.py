"""Lineage truncation and localCheckpoint block ownership.

``truncate`` is the engine's one lineage-truncation primitive: the
superstep runner and every driver-side loop use it.

It runs an eager ``localCheckpoint`` and reads the checkpoint's
``LogicalRDD`` off the plan. That node carries the child plan's
*estimated statistics*; Spark's size-only estimator multiplies child
``sizeInBytes`` through joins as arbitrary-precision integers, so a loop
whose state plan contains J joins would grow the carried stat's
bit-length ~J× per iteration (observed: 0.4s → 200s per Louvain round on
a 120-vertex graph, 7 GB driver RSS, in BigInteger.multiply inside stats
estimation). ``truncate`` therefore re-wraps the same node without its
carried stats: same blocks, same output partitioning and ordering (so
co-partitioned joins stay exchange-free), default stats.

``DataFrame.unpersist()`` does NOT free the blocks a localCheckpoint
materialized: they belong to the locally checkpointed internal RDD, not
to the Dataset cache. ``truncate`` tags its result with that RDD, read
off the plan, and ``free_truncated`` releases exactly those blocks.
Reading the plan, rather than diffing the persistent-RDD registry around
the action, keeps Dataset caches the eager action happens to materialize
(a graph's edge cache on first use) out of the tag, so freeing a
checkpoint never drops a live shared cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint of ``df`` with its carried stats dropped; the
    result carries its block RDD in ``_gs_ckpt_rdd``. Free superseded
    state with ``free_truncated`` (or a ``Truncator``) instead of waiting
    on Python GC + ContextCleaner."""
    spark = df.sparkSession
    plan = df.localCheckpoint(eager=True)._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD":
        raise RuntimeError(
            f"localCheckpoint produced a {plan.nodeName()} plan, expected "
            "LogicalRDD: its blocks could not be released")
    jvm, jspark = spark._jvm, spark._jsparkSession
    no_stats = jvm.scala.Option.empty()
    bare = plan.copy(plan.output(), plan.rdd(), plan.outputPartitioning(),
                     plan.outputOrdering(), plan.isStreaming(), plan.stream(),
                     jspark, no_stats, no_stats)
    out = DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jspark, bare), spark)
    out._gs_ckpt_rdd = plan.rdd()
    return out


def free_truncated(df: DataFrame | None) -> None:
    """Unpersist the localCheckpoint blocks ``df`` carries (a no-op for an
    untagged DataFrame). Only call once the data is provably dead
    (localCheckpoint destroys lineage — a freed block cannot be
    recomputed)."""
    rdd = getattr(df, "_gs_ckpt_rdd", None)
    if rdd is not None:
        rdd.unpersist(False)
        df._gs_ckpt_rdd = None


class Truncator:
    """Per-slot lineage truncation with deterministic block reclamation.

    ``t(df, slot)`` eagerly truncates ``df`` (materializing it — which may
    read the slot's previous checkpoint blocks) and THEN frees the
    previous checkpoint of that slot. Driver-loop algorithms keep at most
    one live state per slot instead of accumulating one per iteration.
    Call ``close()`` when the final results have been consumed (or copied
    out by a further ``truncate``)."""

    def __init__(self):
        self._live: dict[str, DataFrame] = {}

    def __call__(self, df: DataFrame, slot: str = "state") -> DataFrame:
        out = truncate(df)
        free_truncated(self._live.get(slot))
        self._live[slot] = out
        return out

    def free(self, slot: str) -> None:
        """Free a slot's live checkpoint now (data provably dead)."""
        free_truncated(self._live.pop(slot, None))

    def close(self) -> None:
        for df in self._live.values():
            free_truncated(df)
        self._live.clear()
