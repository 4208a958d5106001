"""The one lineage cut.

Every cut in the engine goes through `cut`, which makes the two choices
no call site should make:

- Storage level. A local cut is stored SERIALIZED and spillable
  (`StorageLevel.MEMORY_AND_DISK` is PySpark's serialized level; the JVM
  default for `localCheckpoint` keeps deserialized rows, ~5x larger —
  the retention that blew a 24 GiB heap on LPA's edge table at sf10).
- Durability. `durable=True` writes a reliable checkpoint when the
  session has a checkpoint dir (`get_spark` sets one) and a local cut
  otherwise (a session built elsewhere may have none). Durable cuts are
  always eager: a reliable checkpoint of a lazy plan computes its
  lineage twice.

A cut is not free. Under AQE a lazy cut runs its upstream stages as a
separate job when its plan is built, and it hides its subtree from
exchange reuse. So every call site names one reason it stays: `shared`
(two or more consumers Spark cannot deduplicate), `loop` (an iterative
loop's state or its loop-invariant input), `pin` (two reads must see
the same rows), `plan-size` (the Janino boundary) or `measured` (an A/B
lost without it).

Retention: a lazy cut's blocks stay persisted until the job that
computed them ends, and `DataFrame.unpersist()` does not free them (the
persisted RDD is the one inside the LogicalRDD, not the Dataset's cache
entry). A loop that cuts lazily every round therefore keeps all rounds'
blocks until its terminal action ends. That is bounded only when the
per-round state shrinks or is node-grain (kcore, ktruss, HITS: at most
~2x round 0, serialized and spillable); a loop whose per-round state is
data-shaped and does not shrink needs eager cuts, or no per-round cut.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def cut(df: DataFrame, *, eager: bool = False, durable: bool = False) -> DataFrame:
    """`df` with its lineage truncated. Lazy cuts materialize on first
    use; `eager` (implied by `durable`) materializes now."""
    if durable and df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(
        eager=eager or durable, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
