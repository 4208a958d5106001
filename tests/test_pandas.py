"""Tests for `queries/pandas_q.py`: the grouped-pandas stateful stream
query replayed batch by batch in plain Python.
"""

from __future__ import annotations

from tests.conftest import SF0001, _events


def test_stream_stateful_stats_matches_python(spark):
    want = {}
    for e in _events():
        n, mx = want.get(e["user_id"], (0, None))
        want[e["user_id"]] = (
            n + 1,
            e["value"] if mx is None else max(mx, e["value"]),
        )
    rows = (
        __import__("posting_lines_spark.queries", fromlist=["load_all"])
        .load_all()["stream_stateful_stats"]
        .fn(spark, SF0001)
        .collect()
    )
    got = {r["user_id"]: (r["n_events"], r["max_value"]) for r in rows}
    assert got == want
