"""The one replay harness every stream twin runs through.

`drain` is the only place a file stream starts: it fixes the stream's
schema with `sources.stream_schema`, starts the writer with its
checkpoint and `trigger(availableNow=True)` inside
`stream_shuffle_scope`, and waits until the backlog is drained. Every
drain needs a checkpoint: a twin has no checkpoint-less sink (no memory
sink), so each one resumes from its checkpoint where the last run
stopped.

A `foreachBatch` sink is at-least-once: Spark re-runs an epoch whose
commit it did not record. So every `foreachBatch` twin keeps its
outputs as one directory per epoch, `{root}/e{epoch_id}`, written in
overwrite mode (`write_epoch`), and reads what earlier epochs left only
from epochs before its own (`prior_state`, `prior_log`). A replayed
epoch then reads the same inputs and rewrites identical rows, so the
drained result equals an uninterrupted run's.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamReader, DataStreamWriter, StreamingQuery

from posting_lines_spark.sources import stream_schema
from posting_lines_spark.streaming.tuning import stream_shuffle_scope

# A stream twin's `src`, `ckpt` and `out` keywords: the dirs it drains,
# restarts from and writes to. None takes the twin's default (its cached
# source fixture, or a fresh scratch dir).
Dir = str | None


def drain(
    spark: SparkSession,
    src: str,
    checkpoint: str,
    query: Callable[[DataStreamReader], DataStreamWriter],
    *,
    no_data_batches: bool = True,
) -> StreamingQuery:
    """Drain the parquet file stream over `src` once. `query` turns a
    reader that carries the stream's schema into a configured writer;
    the writer starts from `checkpoint` and runs until every available
    file is processed. Returns the terminated query; its
    `recentProgress` holds the per-batch metrics. `no_data_batches` is
    passed to `stream_shuffle_scope`."""
    reader = spark.readStream.schema(stream_schema(spark, src, checkpoint))
    writer = query(reader).option("checkpointLocation", checkpoint)
    with stream_shuffle_scope(spark, src, no_data_batches=no_data_batches):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def drain_batches(
    spark: SparkSession,
    src: str,
    checkpoint: str,
    per_batch: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """`drain` `src` one file per micro-batch, in file mtime order, into
    the `foreachBatch` sink `per_batch(batch_df, epoch_id)`."""
    return drain(
        spark, src, checkpoint,
        lambda r: r.option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(per_batch),
    )


def epoch_dir(root: str, epoch_id: int) -> str:
    return f"{root}/e{epoch_id}"


def write_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    """Write `df` as epoch `epoch_id`'s output under `root`, replacing
    whatever an earlier attempt of the same epoch left there."""
    df.write.mode("overwrite").parquet(epoch_dir(root, epoch_id))


def _read_epochs(spark: SparkSession, root: str, epochs: range, schema: str) -> DataFrame:
    if not epochs:
        return spark.createDataFrame([], schema)
    paths = [epoch_dir(root, i) for i in epochs]
    for p in paths:
        if not os.path.isdir(p):
            # folding the batch into empty state would give wrong output
            raise FileNotFoundError(
                f"stream state {p} is missing: epoch {epochs.stop} cannot "
                "resume from it"
            )
    return spark.read.parquet(*paths)


def prior_state(spark: SparkSession, root: str, epoch_id: int, schema: str) -> DataFrame:
    """The state epoch `epoch_id` folds its batch into: the previous
    epoch's directory. It is empty (typed by `schema`) only at epoch 0;
    a missing previous epoch raises."""
    return _read_epochs(spark, root, range(max(epoch_id - 1, 0), epoch_id), schema)


def prior_log(spark: SparkSession, root: str, epoch_id: int, schema: str) -> DataFrame:
    """Every epoch before `epoch_id` of an append log under `root`
    (never the epoch itself, which a replay may have half-written)."""
    return _read_epochs(spark, root, range(epoch_id), schema)


def last_epoch(spark: SparkSession, root: str) -> DataFrame:
    """The highest epoch's output under `root`: a carried state's final value."""
    last = max(int(d[1:]) for d in os.listdir(root) if d.startswith("e"))
    return spark.read.parquet(epoch_dir(root, last))


def all_epochs(spark: SparkSession, root: str) -> DataFrame:
    """Every epoch's output under `root`: an append log's whole content."""
    return spark.read.option("recursiveFileLookup", "true").parquet(root)
