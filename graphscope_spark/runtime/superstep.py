"""Superstep runtime: the engine's equivalent of the PIE worker loop.

Reference lifecycle (SURVEY.md §3): ``DefaultWorker::Query`` runs
``ctx.Init → PEval → while(!messages.ToTerminate()) IncEval`` with MPI
barriers between supersteps (reference
analytical_engine/core/worker/default_worker.h:88-135). Here PEval is the
job's ``init``, each IncEval is one ``step`` whose shuffle is the barrier,
and termination is the boolean the step computes from its scalar
aggregations (the reference's ``Sum(eps, total)`` all-reduce ≡ one Spark
action).

What Spark adds that the reference never needed (SURVEY.md §7.3 risk #1):
an iterative DataFrame loop grows its logical plan without bound, so the
runner truncates lineage every superstep: the state lives in one
``Truncator`` slot, which materializes each new state before it frees the
previous one. Every ``checkpoint_every`` steps the runner also writes
the state to Parquet, together with a JSON manifest capturing
loop-carried scalars and per-partition metrics (rows + xxhash64 checksum,
computed from the same blocks; partition ``pid`` is file ``part-<pid>``).
The manifest makes a killed job resumable mid-iteration (north-rule
requirement; replaces vineyard persistence, reference
grape_instance.cc:302-306).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphscope_spark.runtime.truncate import Truncator

# Absolute row cap for sparse-mode broadcast of an aggregated message
# table: the relative (threshold * |V|) gate alone lets a 5%-of-2B-vertex
# message set through, and wide-register states (ANF) hit the 8 GB
# broadcast hard limit well before narrow ones. Jobs gate on
# min(threshold * V, BROADCAST_CAP_ROWS).
BROADCAST_CAP_ROWS = 8_000_000


class SuperstepJob:
    """Base class for iterative algorithms.

    Subclasses implement:
      ``init(spark) -> (state_df, scalars)``        — PEval
      ``step(state_df, step_no, scalars) -> (state_df, finalize)``
                                                     — IncEval
    where ``finalize(materialized_state) -> (scalars, converged)`` runs the
    step's scalar aggregations (the reference's ``Sum()`` all-reduces,
    pagerank_networkx.h:146) *after* the runner has materialized the new
    state — so each superstep computes its pipeline exactly once: the
    runner's ``truncate`` is the only pass over the join/agg plan, and the
    convergence aggregate reads the checkpoint blocks. ``finalize`` must
    not read the previous state: its blocks are already freed.

    ``scalars`` is a JSON-serializable dict of loop-carried values (e.g.
    PageRank's dangling_sum / eps — reference pagerank_networkx.h:94,146).
    The runner owns persistence, lineage truncation, checkpoint manifests,
    and resume.
    """

    name: str = "job"

    def init(self, spark: SparkSession):  # pragma: no cover - interface
        raise NotImplementedError

    def step(self, state: DataFrame, step_no: int, scalars: dict):  # pragma: no cover
        raise NotImplementedError

    def config(self) -> dict:
        """Hashable config dict; stored in the manifest so a resume can
        refuse mismatched parameters."""
        return {}


@dataclass
class StepMetrics:
    step: int
    wall_ms: float
    scalars: dict
    checkpointed: bool = False


class SuperstepRunner:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self.history: list[StepMetrics] = []

    # ---- manifest helpers --------------------------------------------------

    def _manifest_path(self, step: int) -> str:
        return os.path.join(self.checkpoint_dir, f"step_{step:05d}", "manifest.json")

    def _state_path(self, step: int) -> str:
        return os.path.join(self.checkpoint_dir, f"step_{step:05d}", "state")

    def _write_checkpoint(self, job: SuperstepJob, state: DataFrame, step: int,
                          scalars: dict, prev_ckpt: int | None) -> None:
        spath = self._state_path(step)
        # ``state`` is a truncated LogicalRDD: the write runs one task per
        # block partition, so partition ``pid`` lands in file part-<pid>
        # and the metrics below describe exactly those files
        state.write.mode("overwrite").parquet(spath)

        cols = [F.col(c) for c in state.columns]
        # bit_xor is order-independent and cannot overflow (ANSI mode is on
        # by default in Spark 4; sum(xxhash64) overflows long).
        rows = (
            state.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"),
                 F.bit_xor(F.xxhash64(*cols)).alias("checksum"))
            .collect()
        )
        per_part = [
            {"pid": r["pid"], "rows": r["rows"], "checksum": str(r["checksum"])}
            for r in sorted(rows, key=lambda r: r["pid"])
        ]

        manifest = {
            "algo": job.name,
            "step": step,
            "state_path": spath,
            "scalars": scalars,
            "config": job.config(),
            "input_checkpoint": (
                self._state_path(prev_ckpt) if prev_ckpt is not None else None
            ),
            "per_partition": per_part,
            "wrote_at": time.time(),
        }
        mpath = self._manifest_path(step)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        with open(mpath, "w") as f:
            json.dump(manifest, f, indent=1)
        with open(os.path.join(self.checkpoint_dir, "LATEST"), "w") as f:
            f.write(str(step))

    def latest_checkpoint(self) -> dict | None:
        if not self.checkpoint_dir:
            return None
        latest = os.path.join(self.checkpoint_dir, "LATEST")
        if not os.path.exists(latest):
            return None
        with open(latest) as f:
            step = int(f.read().strip())
        with open(self._manifest_path(step)) as f:
            return json.load(f)

    # ---- the loop ------------------------------------------------------------

    def run(
        self,
        job: SuperstepJob,
        max_steps: int = 1_000_000,
        resume: bool = False,
        on_step: Callable[[StepMetrics], None] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Run ``job`` to convergence (or ``max_steps``). With
        ``resume=True`` and a readable manifest, restart from the last
        checkpointed superstep instead of ``init``.

        The returned state stays materialized for the caller; release it
        with ``free_truncated(state)``."""
        self.history = []
        start_step = 0
        last_ckpt: int | None = None
        slot = Truncator()

        manifest = self.latest_checkpoint() if resume else None
        if manifest is not None:
            if manifest["config"] != job.config():
                raise ValueError(
                    f"resume config mismatch: checkpoint {manifest['config']} "
                    f"!= job {job.config()}"
                )
            state = slot(self.spark.read.parquet(manifest["state_path"]))
            scalars = manifest["scalars"]
            start_step = manifest["step"]
            last_ckpt = manifest["step"]
        else:
            state, scalars = job.init(self.spark)
            state = slot(state)

        converged = scalars.get("converged", False)
        step_no = start_step
        while not converged and step_no < max_steps:
            step_no += 1
            t0 = time.perf_counter()
            raw_state, finalize = job.step(state, step_no, scalars)

            # Truncate lineage EVERY superstep: the new state's logical
            # plan references the old state several times (contrib +
            # apply join), so without truncation analysis cost grows
            # ~3^k with iteration k (SURVEY.md §7.3 risk #1). The slot
            # materializes the plan ONCE into checkpoint blocks and only
            # then frees the previous state's blocks; the job's finalize
            # computes its scalar aggregates from the new blocks.
            state = slot(raw_state)
            scalars, converged = finalize(state)

            checkpointed = False
            if self.checkpoint_dir and (
                converged or step_no % self.checkpoint_every == 0
            ):
                scalars = dict(scalars, converged=bool(converged))
                self._write_checkpoint(job, state, step_no, scalars, last_ckpt)
                last_ckpt = step_no
                checkpointed = True

            m = StepMetrics(
                step=step_no,
                wall_ms=(time.perf_counter() - t0) * 1000.0,
                scalars={k: v for k, v in scalars.items()},
                checkpointed=checkpointed,
            )
            self.history.append(m)
            if on_step:
                on_step(m)

        return state, scalars
