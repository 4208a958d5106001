"""Stateful-stream shuffle/state-partition sizing (round-15 guide §2.4/§6).

Spark freezes a streaming query's stateful-operator partition count to
``spark.sql.shuffle.partitions`` when the checkpoint is created, and AQE
never coalesces stateful exchanges — so every micro-batch pays, PER
PARTITION, one task + one state-store open/commit (delta file write +
fsync) + one Python worker round trip for the applyInPandasWithState
lanes, regardless of how little data the batch carries. Profiled on the
bounded replay sources (sf0.01, 64 session-default partitions): a
ONE-ROW watermark-sentinel batch cost 2.4 s of addBatch — pure
per-partition fixed cost.

The partition count is therefore sized from the replay source itself:
ceil(source bytes / 1 MiB), clamped to [8, session shuffle partitions].
``SPARK_GRAFT_STREAM_SHUFFLE`` overrides (the production lever: size
state partitions to expected key-space/throughput; they cannot be
changed later without a state rebalance, which is why Spark pins them
at checkpoint creation). Partitioning only relocates keys across state
partitions — per-key state and the emitted row SET are unchanged; every
stream query's DuckDB oracle re-proves that after this change.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

from posting_lines_spark.session import env_positive_int

_TARGET_BYTES = 1024 * 1024
_FLOOR = 8


def stream_partitions(spark: SparkSession, src_dir: str) -> int:
    """Partition count for a stateful stream replaying `src_dir`.

    Sizing walks the LOCAL filesystem under `src_dir`; a non-local
    source (s3://, hdfs://) or a dir racing concurrent fixture writes
    totals 0 bytes and silently falls to the 8-partition floor — size
    such sources via SPARK_GRAFT_STREAM_SHUFFLE instead (ADVICE r15).
    Note the sizing only takes effect for FRESH checkpoints: Spark pins
    the stateful partition count in the offset log at checkpoint
    creation, so a resumed query keeps its original partitioning and
    this scope is a no-op for it."""
    n = env_positive_int("SPARK_GRAFT_STREAM_SHUFFLE")
    if n is not None:
        return n
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for name in files:
            if name.startswith(("_", ".")):
                continue
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                continue
    want = max(_FLOOR, -(-total // _TARGET_BYTES))
    return min(cur, want)


@contextmanager
def stream_shuffle_scope(spark: SparkSession, src_dir: str, no_data_batches: bool = True):
    """Scope ``spark.sql.shuffle.partitions`` to the stream-sized value
    around a streaming query's start/awaitTermination (the conf is read
    once, at checkpoint creation; queries here run sequentially in one
    session, and the previous values are always restored).

    ``no_data_batches=False`` also turns off Spark's no-data micro-batch
    for the query. Pass it only for a query whose no-data batch can do
    nothing: one whose state the watermark can never evict and that emits
    nothing on a watermark advance (a dedup keyed without its event-time
    column). Such a batch still loads and commits every state partition."""
    n = stream_partitions(spark, src_dir)
    confs = {"spark.sql.shuffle.partitions": str(n)}
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield n
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
