"""Table sources.

The reference's only source is a PostgreSQL table via psycopg2
(sql_to_line.py:17-22, operator O1 in SURVEY.md §2.1). Here the primary
source is columnar Parquet (vectorized scan, predicate pushdown, column
pruning all for free); JDBC and CSV readers cover the reference's
connector surface (O1, O7 `loaderDb` csv loading, auth_class.py:19-20).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from posting_lines_spark.fixtures import dir_stamp

# Driver-generated testdata tables (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# The process's one parquet schema memo. A reader without a schema starts
# a footer-reading Spark job on every call to infer one; a reader given a
# schema starts none, and still lists the path, so files added since the
# schema was inferred are read.
_SCHEMAS: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers the schema once per content
    stamp of `path` (`fixtures.dir_stamp`): rewriting the path re-infers.
    A path whose stamp is empty (missing or non-local) is never memoized."""
    stamp = dir_stamp(path)
    key = (path, stamp)
    if key in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[key]).parquet(path)
    df = spark.read.parquet(path)
    if stamp != (0, 0):
        _SCHEMAS[key] = df.schema
    return df


def stream_schema(
    spark: SparkSession, src_dir: str, checkpoint_dir: str | None
) -> StructType:
    """Schema of the parquet file stream over `src_dir`, fixed once per
    checkpoint: a file stream's schema is fixed for the life of its
    checkpoint, so later runs from it reuse the schema even though every
    new file changes the source's stamp. A fresh checkpoint (no offset
    log yet, or a non-local one), or none at all, takes the schema of
    the source's current content from `read_parquet`'s memo."""
    if checkpoint_dir is None:
        return read_parquet(spark, src_dir).schema
    key = ("stream", src_dir, checkpoint_dir)
    if key not in _SCHEMAS or not os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
        _SCHEMAS[key] = read_parquet(spark, src_dir).schema
    return _SCHEMAS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table scan. Catalyst pushes filters/projections into it.

    `events.ts` has shipped in two physical layouts across testdata
    generations: TIMESTAMP(NANOS) (which Spark's µs timestamp refuses
    outright — read as raw int64 nanos via legacy.parquet.nanosAsLong and
    truncate, the same ns→µs truncation DuckDB's epoch_us applies) and
    TIMESTAMP(MICROS) (reads natively as TIMESTAMP_NTZ). Both layouts are
    normalized to the same session-UTC TimestampType column, so every
    downstream query and oracle sees identical values either way.
    """
    # Timestamp semantics are pinned to UTC regardless of the caller's
    # session: date_trunc/to_date/window on TIMESTAMP (ltz) columns are
    # session-timezone-dependent, and the DuckDB oracle reads parquet
    # timestamps naively — a non-UTC caller session would shift day/window
    # boundaries. Runtime-settable, idempotent, applies to every query
    # because all table access funnels through here.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):  # TIMESTAMP(NANOS) read as int64
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):  # TIMESTAMP(MICROS), naive
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register the testdata tables as temp views for spark.sql queries."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """CSV source (reference O7: `loaderDb` for "loading csv into test
    database", auth_class.py:19-20 — declared there, implemented here).
    Schema should be explicit at scale; inference reads the data twice.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink. Line-delimited JSON is the interchange format of
    text-corpus pipelines (every curation toolchain reads/writes it);
    splittable per line, so a 100 TB corpus still parallelizes — but ~5×
    the bytes of parquet and no column pruning, so it's an EDGE format
    (ingest/export), never the processing format."""
    df.write.mode(mode).json(path)


def load_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Schema should be explicit at scale — inference
    scans the data once before the real read, and silently widens types
    (int→bigint, missing→null) on dirty corpora."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    """ORC sink. Columnar like parquet (predicate pushdown, column
    pruning, splittable stripes) — the interchange format when the
    downstream warehouse is Hive/Trino-flavored. Same scale posture as
    the parquet sink: partition_by for pruning, never coalesce(1)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def load_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source. Explicit schema skips the footer-sampling pass and
    pins types across heterogeneous file sets."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def load_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound=None,
    upper_bound=None,
    **options,
) -> DataFrame:
    """JDBC source (reference O1 parity: psycopg2 connect, sql_to_line.py:17-22).

    At scale a single-connection JDBC read is a bottleneck; callers should
    pass `partition_column`/bounds so Spark issues `num_partitions` parallel
    range-predicated queries.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    num_partitions: int | None = None,
    batch_size: int = 10_000,
    **options,
) -> None:
    """JDBC sink (reference O5 parity: the merge-back writes to a PG table,
    sql_to_line.py:227-234; `merge_update` reproduces the semantics, this
    completes the connector round-trip). No PG server exists in this
    environment, but the path is exercised LIVE against embedded Apache
    Derby (a real database in the Spark JVM): see the registered
    `jdbc_roundtrip` query (oracle-checked) and tests/test_round11.py's
    pushdown/partitioned-read assertions; only the dialect differs from
    PG, and Spark's JdbcDialect layer owns that.

    Scale notes: each of the DataFrame's partitions opens one connection
    and writes `batchsize` rows per round-trip; `num_partitions` caps the
    connection count (a 1000-task write would otherwise open 1000
    connections against one server). For UPDATE..FROM semantics, write to
    a staging table and run the merge server-side — a straight JDBC write
    can only INSERT."""
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()
