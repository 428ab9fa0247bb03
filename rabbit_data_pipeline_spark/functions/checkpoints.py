"""Per-call ownership of the iterative operators' localCheckpoints.

Every iterative operator here (connected components, PageRank, BFS,
k-core, SSSP, batched BPE) cuts lineage once per round with
``localCheckpoint``. Spark frees a checkpoint's storage blocks only when
the JVM garbage-collects the RDD object and the ContextCleaner runs:
Python dropping its reference is not enough (py4j finalizers, then JVM
GC, then the asynchronous cleaner). Left to that, a 25-round peel holds
up to 25 superseded node-vectors in executor storage, which evicts
useful blocks and, at scale, spills through memory first.

``CheckpointScope`` owns the checkpoints one call makes:

- ``scope.checkpoint(df, eager=True)`` checkpoints ``df`` and records it;
- ``scope.release(df, ...)`` frees superseded rounds as soon as their
  successor is materialized, so storage per round stays bounded;
- ``scope.keep(df, ...)`` marks the checkpoints the returned frame reads;
- leaving the ``with`` block releases every recorded checkpoint not
  kept, on every exit: return, break, a non-convergence raise, or any
  exception mid-round.

SAFETY CONTRACT: a localCheckpoint truncates lineage, so released blocks
are unrecoverable and any later read fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of recomputing. Release a
frame only once its successor is materialized (an eager checkpoint, or
an action that ran) and no live plan reads it; keep every checkpoint
the returned frame reads. A lazy frame that is never materialized
inside the call keeps the checkpoints its plan reads.

The frame ``checkpoint`` returns is a fresh ``LogicalRDD`` over the
checkpoint's persisted RDD. A plain localCheckpoint carries the size
estimate of the plan that produced it, and a join multiplies its
inputs' estimates, so a loop that joins its previous round with itself
(connected components) doubles the estimate's bit length every round
until Catalyst spends minutes in BigInteger arithmetic. The fresh frame
starts from Spark's default estimate instead; the loops choose their
broadcasts with explicit hints sized from counted rows
(``broadcast_if_fits``). A deployment that wants reliable checkpoints
changes ``CheckpointScope.checkpoint`` alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def release_local_checkpoint(df: DataFrame) -> bool:
    """Drop the storage blocks behind a localCheckpoint'ed DataFrame.
    Returns True only when persisted blocks were released; False for a
    derived (non-LogicalRDD) plan, a LogicalRDD that persisted nothing
    (createDataFrame frames and reliable checkpoints are LogicalRDD
    rooted with storage level NONE), Spark Connect, or any py4j
    surprise. The False paths leave cleanup to the ContextCleaner."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        rdd = plan.rdd()
        lvl = rdd.getStorageLevel()
        if not (lvl.useMemory() or lvl.useDisk()):
            return False  # nothing persisted: unpersist would be a no-op
        rdd.unpersist(False)
        return True
    except Exception:
        return False


def broadcast_if_fits(df: DataFrame, n_rows: int, budget_rows: int) -> DataFrame:
    """Hint a broadcast of ``df`` when its counted row size fits the
    budget; past it (or with an unknown size of 0) the join keeps its
    shuffle shape."""
    return F.broadcast(df) if 0 < n_rows <= budget_rows else df


class CheckpointScope:
    """Context manager owning one call's localCheckpoints (see the
    module docstring for the contract)."""

    def __init__(self) -> None:
        self._live: list[DataFrame] = []
        self._kept: list[DataFrame] = []

    def __enter__(self) -> CheckpointScope:
        return self

    def __exit__(self, *exc) -> None:
        for df in self._live:
            if not any(df is k for k in self._kept):
                release_local_checkpoint(df)
        self._live.clear()

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        raw = df.localCheckpoint(eager=eager)._jdf
        spark = df.sparkSession
        # The same persisted RDD under a new LogicalRDD, which starts from
        # Spark's default size estimate; release_local_checkpoint still
        # reaches its blocks through the new frame.
        fresh = spark._jsparkSession.internalCreateDataFrame(
            raw.queryExecution().analyzed().rdd(), raw.schema(), False
        )
        frame = DataFrame(fresh, spark)
        self._live.append(frame)
        return frame

    def release(self, *frames: DataFrame) -> None:
        """Free the given checkpoints now; frames this scope does not
        hold (derived plans, already released) are ignored."""
        for df in frames:
            for i, live in enumerate(self._live):
                if live is df:
                    del self._live[i]
                    release_local_checkpoint(df)
                    break

    def keep(self, *frames: DataFrame) -> None:
        self._kept.extend(frames)
