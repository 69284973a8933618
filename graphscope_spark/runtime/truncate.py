"""Lineage truncation and localCheckpoint block ownership.

``DataFrame.unpersist()`` does NOT free the blocks a localCheckpoint
materialized: they belong to the locally checkpointed internal RDD, not
to the Dataset cache. ``local_checkpoint`` therefore reads that RDD off
the checkpointed plan (its ``LogicalRDD``) and tags the DataFrame with
it; ``free_truncated`` releases exactly those blocks. Reading the plan,
rather than diffing the persistent-RDD registry around the action, keeps
Dataset caches the eager action happens to materialize (a graph's edge
cache on first use) out of the tag, so freeing a checkpoint never drops
a live shared cache.

``DataFrame.localCheckpoint`` also carries the child plan's *estimated
statistics* into the resulting LogicalRDD. Spark's size-only estimator
multiplies child ``sizeInBytes`` through joins as arbitrary-precision
integers, so an iterative loop whose state plan contains J joins grows
the carried stat's bit-length ~J× per iteration — after a dozen
iterations the driver spends minutes in BigInteger.multiply inside stats
estimation (observed: 0.4s → 200s per Louvain round on a 120-vertex
graph, 7 GB driver RSS; jstack pinned SizeInBytesOnlyStatsPlanVisitor →
BigInteger.multiplyToomCook3).

``truncate`` therefore rebuilds the DataFrame over the checkpointed
InternalRow RDD via ``internalCreateDataFrame`` — same blocks, zero-copy,
default stats. Note the rebuilt plan loses outputPartitioning metadata;
loops that rely on co-partitioned exchange-free joins (SuperstepRunner)
keep plain ``local_checkpoint``, whose shallow per-step plans don't
compound measurably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint whose result carries its block RDD in
    ``_gs_ckpt_rdd`` so ``free_truncated`` can release it."""
    ckpt = df.localCheckpoint(eager=True)
    plan = ckpt._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD":
        raise RuntimeError(
            f"localCheckpoint produced a {plan.nodeName()} plan, expected "
            "LogicalRDD: its blocks could not be released")
    ckpt._gs_ckpt_rdd = plan.rdd()
    return ckpt


def truncate(df: DataFrame) -> DataFrame:
    """``local_checkpoint`` + stats reset; the result carries the same
    block tag. Free superseded state with ``free_truncated`` (or a
    ``Truncator``) instead of waiting on Python GC + ContextCleaner."""
    ckpt = local_checkpoint(df)
    spark = df.sparkSession
    jdf = ckpt._jdf
    out = DataFrame(spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False), spark)
    out._gs_ckpt_rdd = ckpt._gs_ckpt_rdd
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
