from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def row_key(row):
    """Sort key for comparing query rows as multisets: registry queries
    return unordered rows, so tests sort both sides. NULLs sort last
    and are never compared with a value."""
    return tuple((v is None, v) for v in row)


@pytest.fixture(scope="session")
def spark():
    from posting_lines_spark.session import get_spark

    s = get_spark(app="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from posting_lines_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF0001}/{t}.parquet')")
    yield con
    con.close()
