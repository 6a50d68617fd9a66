"""Checkpoint discipline for long iterative operators (PageRank,
neighborhood sampling, SPARQL property-path fixpoints).

`localCheckpoint` stores blocks in executor storage: fastest, and fine
at local[32] or for short chains — but on a real cluster an executor
loss DESTROYS the checkpointed blocks, and because a local checkpoint
also truncates lineage there is nothing to recompute from: a deep
PageRank or 15-round closure dies instead of recovering. `checkpoint()`
(reliable) writes the blocks to the configured checkpoint directory
(HDFS/object store on a cluster), so recovery re-reads durable files.

The tier is a deployment setting, not a per-call option: the
CMW_RELIABLE_CHECKPOINTS env var sets `RELIABLE_CHECKPOINTS` fleet-wide
(how you'd flip it for a 1000-executor deployment without threading a
flag through every operator), and the helpers below read it at call
time. Only these helpers cut lineage; a persisted or lazy frame keeps
its lineage and so recovers from executor loss in either tier. The
plans are identical either way — only the storage tier of the
materialized iteration state changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: fleet-wide default for reliable (checkpoint-dir) iteration state.
RELIABLE_CHECKPOINTS = os.environ.get("CMW_RELIABLE_CHECKPOINTS", "").lower() in (
    "1",
    "true",
    "yes",
)


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize one round of iteration state, durably when
    RELIABLE_CHECKPOINTS is set."""
    if not RELIABLE_CHECKPOINTS:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        raise RuntimeError(
            "reliable checkpoints need a durable checkpoint dir: call "
            "spark.sparkContext.setCheckpointDir('hdfs://... or s3://...') first"
        )
    return df.checkpoint(eager=True)


def iter_checkpoint_lazy(df: DataFrame) -> DataFrame:
    """Round state whose BLOCKS are saved by the next action instead of
    a dedicated eager job (r11, guide §5: in the convergence loops —
    closure/CC/BFS/k-core/peel — rounds run on near-empty frames where
    scheduler round-trips, not data, are the round cost).

    `localCheckpoint(eager=False)` truncates the SQL plan to a
    LogicalRDD at CALL time (same analyzer-depth bounding as the eager
    form). To do so it builds the plan's RDD, and under AQE that runs
    every shuffle and broadcast stage of the plan at once, each as a job
    of its own: a plan with an exchange is NOT lazy, only its last,
    narrow stage is. A narrow plan (scans, filters, projections) fires no
    job here. The blocks are saved inside whichever job first computes
    the RDD — typically the round's own termination count/signature
    action, or the next round's. After that first consumer, every later
    reader hits blocks exactly like the eager form, so multi-consumer
    state (BFS visited, CC edges at convergence) never recomputes
    lineage.

    The reliable tier keeps the eager durable checkpoint: on a cluster
    the up-front materialization is the executor-loss recovery point."""
    if not RELIABLE_CHECKPOINTS:
        return df.localCheckpoint(eager=False)
    return iter_checkpoint(df)


def iter_checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize one round of iteration state AND return its row count
    from the SAME job. The eager-checkpoint-then-count pattern costs two
    scheduler round-trips per round (eager localCheckpoint itself
    materializes via an internal count, so the data is walked twice);
    the lazy form's first action is the count, so one job does both.
    The count runs on the checkpointed rows themselves: DataFrame.count()
    would plan a partial and a final aggregate, which AQE runs as two
    jobs."""
    out = iter_checkpoint_lazy(df)
    return out, out._jdf.queryExecution().toRdd().count()
