"""Skew handling demonstrated AT DATA LEVEL (round-3 verdict #8):
`salted_join` was only result-equality tested — no fixture actually
skewed. These tests build a zipf-style key distribution (one key owns
half the fact side) and show, via the physical row-per-partition
distribution of the join shuffle, that the plain hash-partitioned join
concentrates the hot key in ONE task (the straggler) while the salted
join spreads it across salt_n tasks — the thing that turns a 10-hour
straggler stage into a balanced one at 100 TB. An AQE run on the same
fixture shows the engine's own skew-split (`skew=true` in the SMJ node)
as the runtime alternative."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from posting_lines_spark.operators.skew import salted_join
from tests.conftest import REPO

N_ROWS = 60_000
N_KEYS = 1_000
SALT_N = 8


@pytest.fixture(scope="module")
def skewed(spark):
    """Fact: key 0 owns ~50% of rows, the rest uniform over 1..999 —
    deterministic (seq id hash), no RNG state. Dim: one row per key."""
    fact = spark.range(N_ROWS).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_KEYS - 1)) + 1)
        .alias("k"),
        (F.col("id") * 7 % 1000).alias("payload"),
    )
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("k"), F.concat(F.lit("attr_"), F.col("id")).alias("attr")
    )
    return fact, dim


def _partition_rows(df) -> list[int]:
    rows = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .collect()
    )
    return sorted((r["count"] for r in rows), reverse=True)


@pytest.fixture()
def no_aqe_no_broadcast(spark):
    """Force a real shuffle join with static partitioning so the
    partition distribution is the hash-partitioned truth."""
    before = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    for k, v in before.items():
        spark.conf.set(k, v)


def test_plain_join_straggles_salted_join_balances(
    spark, skewed, no_aqe_no_broadcast
):
    fact, dim = skewed
    total = fact.count()

    plain = fact.join(dim, "k")
    plain_parts = _partition_rows(plain)
    # the hot key hash-routes to exactly one partition → one straggler
    # task carrying ≥ its full ~50% share
    assert plain_parts[0] >= 0.45 * total, plain_parts[:4]

    salted = salted_join(fact, dim, "k", salt_n=SALT_N)
    salted_parts = _partition_rows(salted)
    # same rows, but the hot key scatters over SALT_N (k, salt) replicas,
    # which hash independently across partitions: the straggler at least
    # halves (collisions of salts into the test's 8 shuffle partitions
    # keep it above the ideal 1/SALT_N; with 100s of cluster partitions
    # the split approaches 1/SALT_N). Deterministic: xxhash64, no RNG.
    assert salted_parts[0] <= 0.5 * plain_parts[0], (
        salted_parts[:4],
        plain_parts[:4],
    )
    assert salted_parts[0] <= 0.3 * total
    # identical logical result
    assert salted.count() == plain.count() == total


def test_aqe_skew_join_splits_the_hot_partition(spark, skewed):
    """The runtime alternative: AQE marks the sort-merge join skewed
    (`skew=true`) and splits the hot partition when the thresholds say
    so — lowered here because the fixture is tiny; at 100 TB the stock
    256 MB threshold trips on real data."""
    fact, dim = skewed
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB"
        )
        joined = fact.join(dim, "k")
        # collect THIS DataFrame (count() would execute a different plan
        # instance and leave this one's adaptive plan unfinalized)
        assert len(joined.collect()) == N_ROWS
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


# ---- ADVICE r13: skew_pressure._timed distinguishes failure/timeout ----


def test_timed_reraises_genuine_failures(spark):
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from skew_pressure import _timed

    def boom():
        raise ValueError("genuine failure, not a timeout")

    with pytest.raises(ValueError, match="genuine failure"):
        _timed(spark, "t14-boom", boom, timeout_s=60.0)

    sec, res, timed_out = _timed(spark, "t14-ok", lambda: 42, timeout_s=60.0)
    assert res == 42 and timed_out is False and sec is not None
