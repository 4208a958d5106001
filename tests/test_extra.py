"""Tests for `queries/extra_q.py`: the Hilbert curve key, grouping sets
and subquery shapes, each against a plain-Python replay.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from tests.conftest import SF0001, _dsum, _run, _tbl


def test_hilbert_sql_equals_reference_xy2d_exhaustively(spark):
    """The staged-CTE Hilbert index must equal the standard
    rotate-and-descend xy2d on EVERY cell of the 64x64 grid, and be a
    bijection onto [0, 4096)."""
    from posting_lines_spark.queries.extra_q import _hilbert_layers

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    hsql, hlast = _hilbert_layers("cells")
    rows = spark.sql(
        f"""
WITH cells AS (
  SELECT CAST(floor(id / 64) AS BIGINT) AS cx, CAST(id % 64 AS BIGINT) AS cy
  FROM (SELECT explode(sequence(0, 4095)) AS id)
),
{hsql}
SELECT cx, cy, hd FROM {hlast}
"""
    ).collect()
    assert len(rows) == 4096
    assert all(r.hd == xy2d(64, r.cx, r.cy) for r in rows)
    assert len({r.hd for r in rows}) == 4096


def test_hilbert_locality_beats_morton(spark):
    """The point of the operator: on the occupied AIS cells, consecutive
    Hilbert positions must be grid-local at least as often as Morton's
    (strictly more on this data), with a smaller mean index gap."""
    from posting_lines_spark.queries import load_all

    rows = {
        r.curve: r
        for r in load_all()["spatial_hilbert_locality"].fn(spark, SF0001).collect()
    }
    h, m = rows["hilbert"], rows["morton"]
    assert h.n_hops == m.n_hops
    assert h.n_local_hops > m.n_local_hops


# ---- grouping_sets ----


def test_replay_grouping_sets(spark):
    li = _tbl("lineitem")
    want = {}
    # (flag, status) / (flag) / ()
    lvl = defaultdict(list)
    for x in li:
        lvl[(x["l_returnflag"], x["l_linestatus"])].append(x["l_quantity"])
    for (f, s), v in lvl.items():
        want[(f, s, 0, 0)] = (len(v), _dsum(v))
    byf = defaultdict(list)
    for x in li:
        byf[x["l_returnflag"]].append(x["l_quantity"])
    for f, v in byf.items():
        want[(f, None, 0, 1)] = (len(v), _dsum(v))
    allq = [x["l_quantity"] for x in li]
    want[(None, None, 1, 1)] = (len(allq), _dsum(allq))

    got = _run(spark, "grouping_sets")
    assert len(got) == len(want)
    for r in got:
        n, sq = want[(r["returnflag"], r["linestatus"], r["g_flag"], r["g_status"])]
        assert r["n_rows"] == n
        assert r["sum_qty"] == sq


def test_replay_exists_subquery(spark):
    big = {
        o["o_custkey"] for o in _tbl("orders") if o["o_totalprice"] > 300000.0
    }
    seg = Counter(
        c["c_mktsegment"] for c in _tbl("customer") if c["c_custkey"] in big
    )
    got = {r["mktsegment"]: r["n_customers"] for r in _run(spark, "exists_subquery")}
    assert got == dict(seg)
    assert len(got) > 1


def test_replay_scalar_subquery(spark):
    orders = _tbl("orders")
    avg = _dsum([o["o_totalprice"] for o in orders]) / len(orders)
    ranked = sorted(orders, key=lambda o: (-o["o_totalprice"], o["o_orderkey"]))[:50]
    got = _run(spark, "scalar_subquery")
    assert [(r["o_orderkey"], r["price_ratio"]) for r in got] == [
        (o["o_orderkey"], o["o_totalprice"] / avg) for o in ranked
    ]
