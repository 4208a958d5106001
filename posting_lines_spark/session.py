"""SparkSession construction tuned for this engine.

The reference opens its (PostgreSQL) connection at import time
(sql_to_line.py:17-22) — a design we invert: sessions are constructed
lazily and injected (the driver contract passes `spark` into every
entry point), so importing the package never touches an engine.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def env_positive_int(name: str, default: int | None = None) -> int | None:
    """Positive integer from environment variable `name`, or `default`
    when it is unset or empty. Anything else raises a ValueError that
    names the variable."""
    raw = os.environ.get(name)
    if not raw:
        return default
    try:
        n = int(raw)
    except ValueError as exc:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}") from exc
    if n <= 0:
        raise ValueError(f"{name} must be a positive integer, got {n}")
    return n


def get_spark(
    app: str = "posting-lines-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session with scale-aware defaults.

    AQE is on (runtime shuffle-partition coalescing + skew-join splitting),
    session timezone is pinned to UTC (parity with the DuckDB oracle, which
    reads parquet timestamps naively), and Arrow is enabled for the few
    Pandas-UDF extension operators.
    """
    if cpus is None:
        cpus = env_positive_int("SPARK_GRAFT_CPUS", 32)
    if shuffle_partitions is None:
        shuffle_partitions = env_positive_int("SPARK_GRAFT_SHUFFLE", min(int(cpus) * 2, 64))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static config: keep managed tables (bucketing tests/demos) in /tmp
        .config("spark.sql.warehouse.dir", os.path.join(tempfile.gettempdir(), "pls_warehouse"))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Reliable checkpoint target for iterative operators (graph.py): on a
    # real cluster point SPARK_GRAFT_CHECKPOINT_DIR at HDFS/object storage.
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            os.environ.get(
                "SPARK_GRAFT_CHECKPOINT_DIR",
                os.path.join(tempfile.gettempdir(), "pls_checkpoints"),
            )
        )
    return spark
