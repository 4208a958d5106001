"""Connector-surface tests that can run without a database server: the
JDBC reader/writer builder chains are exercised against mocks and the
recorded options asserted (the environment has no JDBC endpoint — the
real round-trip is documented as untestable here)."""

from __future__ import annotations

from unittest.mock import MagicMock

from posting_lines_spark.sources import load_jdbc, write_jdbc


def _chained_mock():
    m = MagicMock()
    m.format.return_value = m
    m.option.return_value = m
    m.schema.return_value = m
    m.mode.return_value = m
    return m


def test_load_jdbc_partitioned_options():
    spark = MagicMock()
    reader = _chained_mock()
    spark.read = reader
    load_jdbc(
        spark,
        "jdbc:postgresql://host/db",
        "segments",
        partition_column="segmentid",
        num_partitions=16,
        lower_bound=0,
        upper_bound=1_000_000,
        user="u",
    )
    opts = {c.args[0]: c.args[1] for c in reader.option.call_args_list}
    assert opts["url"] == "jdbc:postgresql://host/db"
    assert opts["dbtable"] == "segments"
    assert opts["partitionColumn"] == "segmentid"
    assert opts["numPartitions"] == "16"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "1000000"
    assert opts["user"] == "u"
    reader.load.assert_called_once()


def test_write_jdbc_caps_connections_and_batches():
    df = MagicMock()
    writer = _chained_mock()
    df.coalesce.return_value = df
    df.write = writer
    write_jdbc(
        df,
        "jdbc:postgresql://host/db",
        "segments_out",
        mode="overwrite",
        num_partitions=8,
        batch_size=5000,
        isolationLevel="READ_COMMITTED",
    )
    df.coalesce.assert_called_once_with(8)
    opts = {c.args[0]: c.args[1] for c in writer.option.call_args_list}
    assert opts["url"] == "jdbc:postgresql://host/db"
    assert opts["dbtable"] == "segments_out"
    assert opts["batchsize"] == "5000"
    assert opts["isolationLevel"] == "READ_COMMITTED"
    writer.mode.assert_called_once_with("overwrite")
    writer.save.assert_called_once()


def test_write_jdbc_no_coalesce_by_default():
    df = MagicMock()
    writer = _chained_mock()
    df.write = writer
    write_jdbc(df, "jdbc:x", "t")
    df.coalesce.assert_not_called()
    writer.mode.assert_called_once_with("append")


def _job_ids(spark, group: str, body):
    """Ids of the Spark jobs `body()` starts, via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        body()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_starts_no_job(spark, tmp_path):
    """The first read of a table infers its schema (a footer job); a later
    read of the unchanged table takes the memoized schema and starts none."""
    from posting_lines_spark.sources import load_table

    spark.range(20).selectExpr("id", "id * 2 AS v").write.parquet(str(tmp_path / "t.parquet"))
    cold = _job_ids(spark, "schema-memo-cold", lambda: load_table(spark, str(tmp_path), "t"))
    assert cold, "a cold read infers the schema with a job"
    df = None

    def warm():
        nonlocal df
        df = load_table(spark, str(tmp_path), "t")

    assert _job_ids(spark, "schema-memo-warm", warm) == []
    assert sorted(r.v for r in df.collect()) == [2 * i for i in range(20)]


def test_load_table_sees_rewritten_schema(spark, tmp_path):
    """Rewriting a table at the same path changes its content stamp, so the
    memo infers the new schema instead of serving the old one."""
    from posting_lines_spark.sources import load_table

    path = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id", "v"]
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS w", "id * 0.5e0 AS x").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "w", "x"]
    assert sorted(r.w for r in df.collect()) == [str(i) for i in range(5)]


def test_stream_schema_fresh_checkpoint_on_cached_fixture_starts_no_job(spark, tmp_path):
    """A stream over an unchanged cached fixture takes a fresh
    checkpoint's schema from the content-stamp memo: no footer job."""
    from posting_lines_spark.queries.stream_q import _events_src
    from posting_lines_spark.sources import stream_schema
    from tests.conftest import SF0001

    src = _events_src(spark, SF0001)
    first = stream_schema(spark, src, str(tmp_path / "ckpt_a"))
    fresh = None

    def again():
        nonlocal fresh
        fresh = stream_schema(spark, src, str(tmp_path / "ckpt_b"))

    assert _job_ids(spark, "stream-schema-fresh", again) == []
    assert fresh == first and "event_id" in fresh.fieldNames()
