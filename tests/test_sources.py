"""Connector-surface tests that can run without a database server: the
JDBC reader/writer builder chains are exercised against mocks and the
recorded options asserted (the environment has no JDBC endpoint — the
real round-trip is documented as untestable here)."""

from __future__ import annotations

from unittest.mock import MagicMock

import pytest

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


@pytest.mark.parametrize("name", ["stream_tumbling", "stream_stateful_stats"])
def test_stream_twin_reuses_its_source(spark, name):
    """A stream twin streams a cached fixture: a second call writes no
    new source dir, adds no schema memo entry and registers no session
    table."""
    import os
    import tempfile

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.sources import tables
    from tests.conftest import SF0001, row_key

    def state():
        tmp = tempfile.gettempdir()
        srcs = {d for d in os.listdir(tmp) if d.startswith("pls_") and "_src_" in d}
        return srcs, len(tables._SCHEMAS), {t.name for t in spark.catalog.listTables()}

    twin = load_all()[name].fn
    first = twin(spark, SF0001).collect()
    before = state()
    second = twin(spark, SF0001).collect()
    assert state() == before
    assert sorted(second, key=row_key) == sorted(first, key=row_key) and first


# ---- JDBC: live embedded Derby (the r3-era "mock-tested only" caveat
# shrinks to dialect-only: a real database, real INSERTs, real parallel
# range reads, real pushdown into the DB) ----


def _derby_url(spark):
    from posting_lines_spark.fixtures import scratch_dir

    home = scratch_dir(prefix="pls_derby_home_")
    spark.sparkContext._jvm.System.setProperty("derby.system.home", home)
    return (
        f"jdbc:derby:{scratch_dir(prefix='pls_derby_')}/db;create=true",
        "org.apache.derby.jdbc.EmbeddedDriver",
    )


def test_jdbc_live_partitioned_read_and_pushdown(spark):
    """Round-trip through a live Derby DB: the partitioned read issues
    8 range-predicated scans (8 RDD partitions, no row lost or doubled)
    and a filter is pushed INTO the database (`*` = source-evaluated)."""
    import re

    from posting_lines_spark.sources import load_jdbc, load_table, write_jdbc
    from tests.conftest import SF0001

    url, driver = _derby_url(spark)
    c = load_table(spark, SF0001, "customer")
    write_jdbc(c, url, "customer_live", mode="overwrite", driver=driver)
    back = load_jdbc(
        spark,
        url,
        "customer_live",
        partition_column="c_custkey",
        num_partitions=8,
        lower_bound=1,
        upper_bound=c.count(),
        driver=driver,
    )
    assert back.rdd.getNumPartitions() == 8
    assert sorted(r["c_custkey"] for r in back.collect()) == sorted(
        r["c_custkey"] for r in c.collect()
    )

    flt = back.filter(back.c_acctbal > 1000.0).select("c_custkey")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "*GreaterThan(c_acctbal,1000.0)" in m.group(1)
    # column pruning reaches the DB too: only the needed columns scanned
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "c_name" not in rs.group(1)
