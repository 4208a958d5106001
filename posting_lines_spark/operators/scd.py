"""Slowly-changing-dimension (SCD2) maintenance on immutable storage.

The reference's merge-back (UPDATE..FROM, sql_to_line.py:227-234) loses
history; SCD2 keeps it: each key's row carries a validity interval
[valid_from, valid_to) and exactly one open row (valid_to IS NULL) per
key. Without Delta's MERGE INTO (jars not in this environment — see
pyspark guide "CDC / SCD2"), the idiomatic emulation is:
  1. split current into (rows of changed keys) vs (untouched rows)
  2. close the changed keys' open rows (set valid_to = change ts)
  3. append the updates as new open rows

Scale: one shuffle of `current` on the key (or none if `updates` is
broadcast); the rewrite touches only partitions containing changed keys
when the table is partitioned/bucketed by key range — pair with
write_daily_partitioned-style dynamic overwrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Apply `updates` (key, ts_col, attrs) to an SCD2 table `current`
    (key, attrs, valid_from, valid_to). Returns the new SCD2 table.

    Assumes one update row per key per call (latest-wins collapse is the
    caller's concern — dropDuplicates/window by update ts).
    """
    upd = F.broadcast(
        updates.select(
            F.col(key),
            F.col(ts_col).alias("__change_ts"),
            *[F.col(c).alias(f"__new_{c}") for c in attr_cols],
        )
    )
    joined = current.join(upd, key, "left")
    closed = joined.withColumn(
        "valid_to",
        F.when(
            F.col("__change_ts").isNotNull() & F.col("valid_to").isNull(),
            F.col("__change_ts"),
        ).otherwise(F.col("valid_to")),
    ).select(current.columns)
    fresh = updates.select(
        F.col(key),
        *[F.col(c) for c in attr_cols],
        F.col(ts_col).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    return closed.unionByName(fresh)


def scd2_as_of(table: DataFrame, ts: Column) -> DataFrame:
    """Point-in-time snapshot: rows whose interval covers `ts`."""
    return table.filter(
        (F.col("valid_from") <= ts) & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    )


def compact(spark, path: str, target_bytes: int = 256 * 1024 * 1024) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ceil(size/target) files. Returns the new file count. At scale this is
    the maintenance job that keeps scan task counts sane after many
    incremental appends (SCALE.md small-files note).

    All filesystem work (size probe, rename-swap, cleanup) goes through
    the Hadoop FileSystem API, so the same code runs on local disk, HDFS,
    and object stores — an os.walk/shutil version would silently see zero
    bytes (or crash) anywhere but the driver's local filesystem. The swap
    is rename-based: write to <path>__compacting, rename the original
    aside, rename the rewrite in, delete the original — on HDFS both
    renames are atomic metadata ops."""
    import math

    base = path.rstrip("/")
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    hpath = jpath(base)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())

    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            total += f.getLen()
    n = max(1, math.ceil(total / target_bytes))

    tmp = jpath(base + "__compacting")
    old = jpath(base + "__old")
    spark.read.parquet(base).coalesce(n).write.mode("overwrite").parquet(base + "__compacting")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(hpath, old):
        raise RuntimeError(f"compact: failed to rename {base} aside")
    if not fs.rename(tmp, hpath):
        # restore the original before giving up
        fs.rename(old, hpath)
        raise RuntimeError(f"compact: failed to swap in compacted {base}")
    fs.delete(old, True)
    return n
