"""Round-12 replay batch 2: ten more pure-Python replays for the
verbatim-shared-text risk class (see tools/replay_census.py and
tests/test_replays_r12.py for the rationale). Targets chosen from the
remaining risk list: TPC-H q12/q14/q16, set ops, full outer join,
EXISTS decorrelation, mode with deterministic ties, z-score anomaly
gate, domain capping, and table profiling."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from tests.conftest import SF0001, row_key


def _tbl(name: str) -> list[dict]:
    return pq.read_table(f"{SF0001}/{name}.parquet").to_pylist()


def _dsum(values, scale: int = 6) -> float:
    q = Decimal(1).scaleb(-scale)
    tot = Decimal(0)
    for v in values:
        tot += Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)
    return float(str(tot))


def _md5_int(s: str, salt: str) -> int:
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:15], 16)


def _run(spark, name):
    from posting_lines_spark.queries import load_all

    return load_all()[name].fn(spark, SF0001).collect()


def test_replay_agg_mode(spark):
    counts = Counter(
        (e["user_id"], e["event_type"])
        for e in _tbl("events")
        if e["user_id"] < 50
    )
    by_user = defaultdict(list)
    for (u, t), n in counts.items():
        by_user[u].append((-n, t))
    want = {u: min(v) for u, v in by_user.items()}
    got = _run(spark, "agg_mode")
    assert len(got) == len(want)
    for r in got:
        n, t = want[r["user_id"]]
        assert (r["modal_type"], r["n_occurrences"]) == (t, -n)
    # ties exist somewhere, else the deterministic tie-break is untested
    assert any(
        len({-n for (n2, t2) in v if n2 == min(v)[0]}) >= 1 and len(v) > 1
        for v in by_user.values()
    )


def test_replay_anomaly_zscore(spark):
    import math

    ev = _tbl("events")
    by_t = defaultdict(list)
    for e in ev:
        by_t[e["event_type"]].append(e)
    flagged = {}
    for t, es in by_t.items():
        n = len(es)
        mean = _dsum([e["value"] for e in es]) / n
        msq = _dsum([e["value"] * e["value"] for e in es]) / n
        std = math.sqrt(msq - mean * mean)
        for e in es:
            z = (e["value"] - mean) / std
            if abs(z) > 3.0:
                flagged[e["event_id"]] = z
    got = _run(spark, "anomaly_zscore")
    assert {r["event_id"] for r in got} == set(flagged)
    for r in got:
        assert r["z"] == flagged[r["event_id"]]
    assert flagged  # the 3-sigma gate genuinely fires


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


def test_replay_q12_priority_classes(spark):
    prio = {o["o_orderkey"]: o["o_orderpriority"] for o in _tbl("orders")}
    hi = defaultdict(int)
    lo = defaultdict(int)
    for li in _tbl("lineitem"):
        d = li["l_shipdate"].strftime("%Y-%m-%d")
        if li["l_returnflag"] == "R" and "1997-01-01" <= d < "1998-01-01":
            p = prio[li["l_orderkey"]]
            if p in ("1-URGENT", "2-HIGH"):
                hi[li["l_linestatus"]] += 1
            else:
                lo[li["l_linestatus"]] += 1
    got = _run(spark, "q12_priority_classes")
    assert [r["l_linestatus"] for r in got] == sorted(set(hi) | set(lo))
    for r in got:
        assert r["high_line_count"] == hi[r["l_linestatus"]]
        assert r["low_line_count"] == lo[r["l_linestatus"]]
    assert sum(hi.values()) > 0 and sum(lo.values()) > 0


def test_replay_q14_promo_effect(spark):
    ptype = {p["p_partkey"]: p["p_type"] for p in _tbl("part")}
    promo, total = [], []
    for li in _tbl("lineitem"):
        d = li["l_shipdate"].strftime("%Y-%m-%d")
        if "1997-09-01" <= d < "1997-10-01":
            rev = li["l_extendedprice"] * (1.0 - li["l_discount"])
            total.append(rev)
            promo.append(rev if ptype[li["l_partkey"]] == "PROMO" else 0.0)
    want = 100.0 * _dsum(promo) / _dsum(total)
    (r,) = _run(spark, "q14_promo_effect")
    assert r["promo_revenue"] == want
    assert 0.0 < want < 100.0


def test_replay_q16_supplier_relation(spark):
    bad = {s["s_suppkey"] for s in _tbl("supplier") if s["s_acctbal"] < 0.0}
    part = {
        p["p_partkey"]: (p["p_brand"], p["p_type"], p["p_size"])
        for p in _tbl("part")
        if p["p_brand"] != "Brand#45"
        and p["p_type"] != "MEDIUM"
        and p["p_size"] in (1, 4, 7, 10, 13, 16, 19, 23)
    }
    partsupp = {
        (li["l_partkey"], li["l_suppkey"])
        for li in _tbl("lineitem")
        if li["l_partkey"] in part and li["l_suppkey"] not in bad
    }
    groups = defaultdict(set)
    for pk, sk in partsupp:
        groups[part[pk]].add(sk)
    want = sorted(
        ((b, t, s, len(v)) for (b, t, s), v in groups.items()),
        key=lambda r: (-r[3], r[0], r[1], r[2]),
    )
    got = [
        (r["p_brand"], r["p_type"], r["p_size"], r["supplier_cnt"])
        for r in _run(spark, "q16_supplier_relation")
    ]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert len(want) > 3


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


def test_replay_curation_domain_cap(spark):
    from posting_lines_spark.queries.curation_q import DOMAIN_CAP

    docs = _tbl("documents")
    by_src = defaultdict(list)
    for d in docs:
        by_src[d["source"]].append(d["doc_id"])
    want = []
    for src, ids in by_src.items():
        ranked = sorted(ids, key=lambda i: (_md5_int(str(i), "cap"), i))
        for rk, did in enumerate(ranked[:DOMAIN_CAP], start=1):
            want.append((src, did, rk))
    want.sort(key=lambda t: (t[0], t[2]))
    got = [(r["source"], r["doc_id"], r["rk"]) for r in _run(spark, "curation_domain_cap")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert any(len(ids) > DOMAIN_CAP for ids in by_src.values())  # cap bites


def test_replay_profile_table(spark):
    from posting_lines_spark.queries.schema_q import PROFILE_COLS

    li = _tbl("lineitem")
    got = {r["col_name"]: r for r in _run(spark, "profile_table")}
    assert sorted(got) == sorted(PROFILE_COLS)
    for c in PROFILE_COLS:
        vals = [x[c] for x in li if x[c] is not None]
        r = got[c]
        assert r["n_nulls"] == len(li) - len(vals)
        assert r["n_distinct"] == len(set(vals))
        assert r["min_val"] == float(min(vals))
        assert r["max_val"] == float(max(vals))
