"""SCD2 merge, point-in-time snapshots, compaction, dynamic partition
pruning — the storage-maintenance surface."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from posting_lines_spark.operators import scd
from tests.conftest import SF0001

T0 = datetime.datetime(2024, 1, 1)
T1 = datetime.datetime(2024, 2, 1)
T2 = datetime.datetime(2024, 3, 1)


def _initial(spark):
    return spark.createDataFrame(
        [(1, "alice", T0, None), (2, "bob", T0, None)],
        "k long, name string, valid_from timestamp, valid_to timestamp",
    )


def test_scd2_apply_closes_and_appends(spark):
    updates = spark.createDataFrame([(1, T1, "alicia")], "k long, ts timestamp, name string")
    out = scd.scd2_apply(_initial(spark), updates, "k", "ts", ["name"])
    rows = {(r.k, r.name): (r.valid_from, r.valid_to) for r in out.collect()}
    assert rows[(1, "alice")] == (T0, T1)      # closed
    assert rows[(1, "alicia")] == (T1, None)   # new open row
    assert rows[(2, "bob")] == (T0, None)      # untouched


def test_scd2_snapshots(spark):
    updates = spark.createDataFrame([(1, T1, "alicia")], "k long, ts timestamp, name string")
    table = scd.scd2_apply(_initial(spark), updates, "k", "ts", ["name"])
    current = {r.k: r.name for r in table.filter("valid_to IS NULL").collect()}
    assert current == {1: "alicia", 2: "bob"}
    january = {r.k: r.name for r in scd.scd2_as_of(table, F.lit(T0 + datetime.timedelta(days=5))).collect()}
    assert january == {1: "alice", 2: "bob"}


def test_scd2_idempotent_for_unchanged_keys(spark):
    updates = spark.createDataFrame([(1, T1, "alicia")], "k long, ts timestamp, name string")
    once = scd.scd2_apply(_initial(spark), updates, "k", "ts", ["name"])
    # applying a LATER update for the other key leaves key 1's history intact
    more = spark.createDataFrame([(2, T2, "robert")], "k long, ts timestamp, name string")
    table = scd.scd2_apply(once, more, "k", "ts", ["name"])
    assert table.filter("valid_to IS NULL").count() == 2
    assert table.filter("k = 1").count() == 2  # alice + alicia


def test_compact_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "many")
    spark.range(0, 10000).repartition(24).write.parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 24
    n = scd.compact(spark, path, target_bytes=10**9)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after == n == 1
    assert spark.read.parquet(path).count() == 10000


def test_dynamic_partition_pruning_plan(spark, tmp_path):
    """A filtered dim joined to a partitioned fact should prune fact
    partitions at runtime (Catalyst DPP — SCALE.md layout note)."""
    fact_path = str(tmp_path / "fact")
    (
        spark.range(0, 10000)
        .withColumn("part", (F.col("id") % 10).cast("int"))
        .write.partitionBy("part")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame([(1, "keep")], "part int, tag string")
    joined = fact.join(dim, "part").filter(F.col("tag") == "keep")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(part" in plan, plan[:1500]
    assert joined.count() == 1000


def test_scd_resume_keeps_first_v0(spark):
    """A resume from a checkpoint that has commits, called with a
    different `initial`: v0 must still hold the first run's rows (the
    later versions derive from it)."""
    from pyspark.sql import functions as F

    from posting_lines_spark.fixtures import scratch_dir
    from posting_lines_spark.sources import load_table
    from posting_lines_spark.streaming import incremental

    events = load_table(spark, SF0001, "events")
    src = scratch_dir("pls_scdresume_src_")
    events.select("user_id", "ts", "value", "event_id").repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    table, ckpt = scratch_dir("pls_scdresume_tbl_"), scratch_dir("pls_scdresume_ckpt_")

    def run(value):
        initial = events.select("user_id").distinct().select(
            "user_id",
            F.lit(value).alias("value"),
            F.timestamp_micros(F.lit(0)).alias("valid_from"),
            F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        )
        incremental.scd_upsert_available_now(
            spark, initial, None, table, ckpt, key="user_id", ts_col="ts",
            attr_cols=["value"], order_cols=["ts", "event_id"], src_dir=src,
        )
        return sorted(tuple(r) for r in spark.read.parquet(f"{table}/v0").collect())

    first = run(0.0)
    assert first and run(1.0) == first
