"""Relational-family tests (`queries/relational_q.py`): joins, set
operations and lateral top-n replayed in plain Python.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq

from tests.conftest import SF0001, _dsum, _run, _tbl, row_key


# --- broadcast range-lookup join ---


def test_lookup_range_bands_partition_all_orders(spark):
    """Non-overlap + totality: every order lands in exactly one band, so
    the per-tier counts must sum to the table count."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.relational_q import TIER_BANDS

    for i in range(len(TIER_BANDS) - 1):
        assert TIER_BANDS[i][2] == TIER_BANDS[i + 1][1]  # contiguous, no overlap
    rows = load_all()["lookup_range_join"].fn(spark, SF0001).collect()
    n_orders = pq.read_table(f"{SF0001}/orders.parquet", columns=["o_orderkey"]).num_rows
    assert sum(r.n_orders for r in rows) == n_orders


def test_null_safe_join_semantics(spark):
    """NULL bucket matches under IS NOT DISTINCT FROM, vanishes under
    strict equality; all orders accounted for exactly once."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all

    orders = pq.read_table(SF0001 + "/orders.parquet").to_pylist()
    got = {
        r["label"]: (r["n_nullsafe"], r["n_strict"])
        for r in load_all()["join_null_safe"].fn(spark, SF0001).collect()
    }
    n_null_bucket = sum(1 for o in orders if o["o_orderkey"] % 7 == 3)
    assert got["b_null"] == (n_null_bucket, 0)
    assert sum(v[0] for v in got.values()) == len(orders)
    for i in range(7):
        if i == 3:
            assert got["b3"] == (0, 0)
        else:
            n = sum(1 for o in orders if o["o_orderkey"] % 7 == i)
            assert got[f"b{i}"] == (n, n)


# ---- q13_custdist ----


def test_replay_q13_custdist(spark):
    per_cust: dict[int, int] = {
        c["c_custkey"]: 0 for c in _tbl("customer")
    }
    for o in _tbl("orders"):
        if o["o_orderpriority"] != "1-URGENT" and o["o_custkey"] in per_cust:
            per_cust[o["o_custkey"]] += 1
    dist: dict[int, int] = defaultdict(int)
    for n in per_cust.values():
        dist[n] += 1
    want = sorted(dist.items(), key=lambda t: (-t[1], -t[0]))
    got = [(r["c_count"], r["custdist"]) for r in _run(spark, "q13_custdist")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    # non-vacuous: a real distribution (sf0.001 has no zero-order
    # customers, so the outer-join branch is covered by parity instead)
    assert len(dist) > 3


def test_replay_setops_customers(spark):
    o = _tbl("orders")
    f = {x["o_custkey"] for x in o if x["o_orderstatus"] == "F"}
    op = {x["o_custkey"] for x in o if x["o_orderstatus"] == "O"}
    want = {
        "both": len(f & op),
        "f_only": len(f - op),
        "union_distinct": len(f | op),
    }
    got = {r["bucket"]: r["n"] for r in _run(spark, "setops_customers")}
    assert got == want
    assert want["both"] > 0 and want["f_only"] > 0


def test_replay_join_full_outer(spark):
    cust = {
        c["c_custkey"] for c in _tbl("customer") if c["c_mktsegment"] == "BUILDING"
    }
    per_cust = Counter(
        o["o_custkey"] for o in _tbl("orders") if o["o_orderstatus"] == "F"
    )
    buckets = defaultdict(lambda: [0, 0])
    for k in cust | set(per_cust):
        if k in cust and k in per_cust:
            b = "both"
        elif k in cust:
            b = "customer_only"
        else:
            b = "order_only"
        buckets[b][0] += 1
        buckets[b][1] += per_cust.get(k, 0)
    got = {
        r["match_type"]: (r["n_keys"], r["total_orders"])
        for r in _run(spark, "join_full_outer")
    }
    assert got == {b: tuple(v) for b, v in buckets.items()}
    # sf0.001 has no zero-order BUILDING customers, so customer_only is
    # legitimately absent there; both unmatched-left and matched buckets
    # must still appear
    assert {"both", "order_only"} <= set(got)


def test_replay_lateral_topn(spark):
    nations = {n["n_nationkey"]: n["n_name"] for n in _tbl("nation")}
    by_nat = defaultdict(list)
    for c in _tbl("customer"):
        by_nat[c["c_nationkey"]].append((-c["c_acctbal"], c["c_name"]))
    want = []
    for nk, rows in by_nat.items():
        for negbal, name in sorted(rows)[:2]:
            want.append((nations[nk], name, -negbal))
    want.sort(key=lambda t: (t[0], -t[2], t[1]))
    got = [(r["nation"], r["customer"], r["acctbal"]) for r in _run(spark, "lateral_topn")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert len(want) >= 2 * 5  # several nations contribute 2 rows each


def test_replay_q5_local_supplier(spark):
    nations = {
        n["n_nationkey"]: (n["n_name"], n["n_regionkey"]) for n in _tbl("nation")
    }
    asia = {
        r["r_regionkey"] for r in _tbl("region") if r["r_name"] == "ASIA"
    }
    cust_nat = {c["c_custkey"]: c["c_nationkey"] for c in _tbl("customer")}
    supp_nat = {s["s_suppkey"]: s["s_nationkey"] for s in _tbl("supplier")}
    ord_ok = {}
    for o in _tbl("orders"):
        d = o["o_orderdate"].strftime("%Y-%m-%d")
        if "1996-01-01" <= d < "1997-01-01":
            ord_ok[o["o_orderkey"]] = cust_nat[o["o_custkey"]]
    rev = defaultdict(list)
    for li in _tbl("lineitem"):
        cn = ord_ok.get(li["l_orderkey"])
        if cn is None:
            continue
        sn = supp_nat[li["l_suppkey"]]
        if sn == cn and nations[sn][1] in asia:
            rev[nations[sn][0]].append(
                li["l_extendedprice"] * (1.0 - li["l_discount"])
            )
    want = sorted(
        ((n, _dsum(v)) for n, v in rev.items()), key=lambda t: (-t[1], t[0])
    )
    got = [(r["n_name"], r["revenue"]) for r in _run(spark, "q5_local_supplier")]
    # sf0.001's cyclic same-nation constraint leaves one qualifying
    # nation; the value equality is the check, breadth comes at sf0.01+
    assert got == want and len(want) >= 1
