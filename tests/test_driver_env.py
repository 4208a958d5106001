"""Driver-environment robustness: the round driver constructs ITS OWN
SparkSession with unknown settings. These tests run representative
queries under a deliberately hostile session (non-UTC timezone, default
shuffle partitions) and check the values still match the DuckDB oracle.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF0001
from tools.check_oracle import canon, rows_canon


def _compare(spark_rows, spark_cols, duck, sql):
    res = duck.execute(sql)
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()
    assert rows_canon([tuple(r) for r in spark_rows], [c.lower() for c in spark_cols]) == rows_canon(
        drows, dcols
    )


def test_timezone_hostile_session_matches_oracle(spark, duck):
    import __spark_entry__ as m

    # independent runtime conf, shared JVM — mimics the driver's session
    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "America/Vancouver")
    hostile.conf.set("spark.sql.shuffle.partitions", "200")

    qs = m.queries()
    oracles = m.oracle_sql()
    for name in ["date_funcs", "pipeline_daily_counts", "window_sessionize", "json_funcs"]:
        df = qs[name](hostile, SF0001)
        _compare([tuple(r) for r in df.collect()], df.columns, duck, oracles[name])


@pytest.mark.parametrize("var", ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE"])
@pytest.mark.parametrize("bad", ["abc", "1.5", "0", "-2"])
def test_bad_session_env_knob_names_the_variable(monkeypatch, var, bad):
    """A non-integer or non-positive session knob fails before any session
    is built, with an error that names the variable."""
    from posting_lines_spark import session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv(var, bad)
    monkeypatch.setattr(session, "SparkSession", None)  # building one would raise
    with pytest.raises(ValueError, match=var):
        session.get_spark(app="bad-env")
