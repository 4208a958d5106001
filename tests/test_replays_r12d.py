"""Round-12 replay batch 4: eight more pure-Python replays for the
verbatim-shared-text risk class (rationale in tests/test_replays_r12.py).
Targets: basket association rules, table checksum, equi-width
histogram, WoE encoding, Cochran-Armitage trend, PII redaction, the
DQ audit, and q7 volume shipping."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from tests.conftest import SF0001, row_key


def _tbl(name: str) -> list[dict]:
    return pq.read_table(f"{SF0001}/{name}.parquet").to_pylist()


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _run(spark, name):
    from posting_lines_spark.queries import load_all

    return load_all()[name].fn(spark, SF0001).collect()


def test_replay_basket_association_rules(spark):
    from posting_lines_spark.queries.analytics_q import BASKET_MIN_SUPPORT

    b = {(li["l_orderkey"], li["l_partkey"]) for li in _tbl("lineitem")}
    n_i = Counter(p for _, p in b)
    by_order = defaultdict(list)
    for o, p in b:
        by_order[o].append(p)
    n = len(by_order)
    pairs = Counter()
    for items in by_order.values():
        items.sort()
        for i in range(len(items)):
            for j in range(i + 1, len(items)):
                pairs[(items[i], items[j])] += 1
    want = []
    for (a, c), nab in pairs.items():
        if nab >= BASKET_MIN_SUPPORT:
            want.append(
                (a, c, nab, n_i[a], n_i[c], nab / n, nab / n_i[a],
                 nab * n / (n_i[a] * n_i[c]))
            )
    want.sort(key=lambda t: (-t[7], t[0], t[1]))
    got = [
        (r["item_a"], r["item_b"], r["n_ab"], r["n_a"], r["n_b"],
         r["support"], r["confidence"], r["lift"])
        for r in _run(spark, "basket_association_rules")
    ]
    assert sorted(got, key=row_key) == sorted(want, key=row_key) and len(want) > 5


def test_replay_table_checksum(spark):
    xor, msum, n = 0, 0, 0
    for li in _tbl("lineitem"):
        key = (
            f"{li['l_orderkey']}|{li['l_partkey']}|{li['l_suppkey']}|"
            f"{li['l_linenumber']}|{int(li['l_quantity'])}|"
            f"{li['l_returnflag']}|{li['l_linestatus']}"
        )
        h = _md5_int(key)
        xor ^= h
        msum += h % 1000000007
        n += 1
    (r,) = _run(spark, "table_checksum")
    assert (r["n_rows"], r["xor_digest"], r["sum_digest"]) == (n, xor, msum)


def test_replay_profile_histogram(spark):
    buckets = Counter(
        math.floor(o["o_totalprice"] / 10000.0) for o in _tbl("orders")
    )
    got = [(r["bucket"], r["bucket_lo"], r["n_orders"]) for r in _run(spark, "profile_histogram")]
    assert sorted(got, key=row_key) == [(b, b * 10000, buckets[b]) for b in sorted(buckets)]
    assert len(buckets) > 5


def test_replay_feature_woe_encoding(spark):
    base = defaultdict(lambda: [0, 0])
    for o in _tbl("orders"):
        gi = 0 if o["o_orderstatus"] == "F" else 1
        base[o["o_orderpriority"]][gi] += 1
    gt = sum(v[0] for v in base.values())
    bt = sum(v[1] for v in base.values())
    got = {r["category"]: r for r in _run(spark, "feature_woe_encoding")}
    want_cats = {c for c, (g, b) in base.items() if g > 0 and b > 0}
    assert set(got) == want_cats
    for c in want_cats:
        g, b = base[c]
        woe = (math.log(g) - math.log(gt)) - (math.log(b) - math.log(bt))
        r = got[c]
        assert (r["n_events"], r["n_nonevents"]) == (g, b)
        assert abs(r["woe"] - woe) < 1e-9
        assert abs(r["iv_term"] - (g / gt - b / bt) * woe) < 1e-9
    # encoding is discriminative somewhere: not all WoE identical
    assert len({round(got[c]["woe"], 9) for c in want_cats}) > 1


def test_replay_cochran_armitage(spark):
    per_k = defaultdict(lambda: [0, 0])
    for o in _tbl("orders"):
        w = int(o["o_orderpriority"][0])
        per_k[w][0] += 1
        if o["o_orderstatus"] == "F":
            per_k[w][1] += 1
    n = sum(v[0] for v in per_k.values())
    y = sum(v[1] for v in per_k.values())
    s1 = sum(w * v[0] for w, v in per_k.items())
    s2 = sum(w * w * v[0] for w, v in per_k.items())
    t = sum(w * v[1] for w, v in per_k.items())
    z = (float(n) * float(t) - float(y) * float(s1)) / math.sqrt(
        float(y) * (float(n) - float(y))
        * (float(n) * float(s2) - float(s1) * float(s1)) / float(n)
    )
    (r,) = _run(spark, "stats_trend_cochran_armitage")
    assert (r["n_all"], r["y_all"], r["s1"], r["s2"], r["t"]) == (n, y, s1, s2, t)
    assert r["z_trend"] == z


def test_replay_text_pii_redact(spark):
    stats = defaultdict(lambda: [0, 0, 0, 0])
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")
    phone = re.compile(r"555-[0-9]+")
    for d in _tbl("documents"):
        text = (
            f"{d['text']} contact user{d['doc_id']}@mail.example "
            f"or call 555-0{d['doc_id']}"
        )
        red = phone.sub("<PHONE>", email.sub("<EMAIL>", text))
        s = stats[d["source"]]
        s[0] += 1
        s[1] += 1 if red != text else 0
        s[2] += len(text)
        s[3] += len(red)
    got = {r["source"]: r for r in _run(spark, "text_pii_redact")}
    assert set(got) == set(stats)
    for src, (nd, nr, cb, ca) in stats.items():
        r = got[src]
        assert (r["n_docs"], r["n_redacted"], r["chars_before"], r["chars_after"]) == (
            nd, nr, cb, ca
        )
        assert nr == nd  # the synthetic PII fires on every row
        assert ca < cb


def test_replay_dq_audit(spark):
    li = _tbl("lineitem")
    orders = _tbl("orders")
    cust = {c["c_custkey"] for c in _tbl("customer")}
    okeys = {o["o_orderkey"] for o in orders}
    want = {
        "lineitem_fk_orders": (
            sum(1 for x in li if x["l_orderkey"] not in okeys), len(li)
        ),
        "orders_fk_customer": (
            sum(1 for o in orders if o["o_custkey"] not in cust), len(orders)
        ),
        "orders_pk_unique": (
            len(orders) - len(okeys), len(orders)
        ),
        "lineitem_qty_range": (
            sum(1 for x in li if x["l_quantity"] < 1 or x["l_quantity"] > 50),
            len(li),
        ),
        "lineitem_discount_domain": (
            sum(1 for x in li if x["l_discount"] < 0 or x["l_discount"] > 0.1),
            len(li),
        ),
        "orders_priority_notnull": (
            sum(1 for o in orders if o["o_orderpriority"] is None), len(orders)
        ),
    }
    got = {
        r["check_name"]: (r["n_violations"], r["n_checked"])
        for r in _run(spark, "dq_audit")
    }
    assert got == want
    assert all(v[1] > 0 for v in want.values())


def test_replay_q7_volume_shipping(spark):
    """q7 is EMPTY at sf0.001 (adjudicated in the degeneracy gate's
    allowlist) — replay the nation-pair/yearly semantics and assert the
    emptiness derives from the filters, not from a broken join."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.tpch_q import Q7_SQL

    nations = {n["n_nationkey"]: n["n_name"] for n in _tbl("nation")}
    pair = {m.group(0) for m in re.finditer(r"NATION_\d+", Q7_SQL)}
    assert len(pair) == 2  # the query pins two nations
    cust_nat = {c["c_custkey"]: nations[c["c_nationkey"]] for c in _tbl("customer")}
    supp_nat = {s["s_suppkey"]: nations[s["s_nationkey"]] for s in _tbl("supplier")}
    ord_cust = {o["o_orderkey"]: o["o_custkey"] for o in _tbl("orders")}
    rows = []
    for li in _tbl("lineitem"):
        d = li["l_shipdate"].strftime("%Y-%m-%d")
        if not ("1996-01-01" <= d <= "1997-12-31"):
            continue
        sn = supp_nat[li["l_suppkey"]]
        cn = cust_nat[ord_cust[li["l_orderkey"]]]
        if {sn, cn} == pair and sn != cn:
            rows.append((sn, cn, d[:4]))
    got = _run(spark, "q7_volume_shipping")
    # both sides agree on the (possibly empty) group set
    assert {(r[0], r[1], r[2]) for r in rows} == {
        (r["supp_nation"], r["cust_nation"], str(r["l_year"])) for r in got
    }

    # non-empty leg at sf0.01: full value replay with decimal routing
    from decimal import ROUND_HALF_UP, Decimal

    from tests.conftest import SF001
    from posting_lines_spark.queries import load_all

    def dsum(vals):
        q = Decimal(1).scaleb(-6)
        return float(
            str(sum((Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP) for v in vals), Decimal(0)))
        )

    def tb(name):
        return pq.read_table(f"{SF001}/{name}.parquet").to_pylist()

    nations = {n["n_nationkey"]: n["n_name"] for n in tb("nation")}
    cust_nat = {c["c_custkey"]: nations[c["c_nationkey"]] for c in tb("customer")}
    supp_nat = {s["s_suppkey"]: nations[s["s_nationkey"]] for s in tb("supplier")}
    ord_cust = {o["o_orderkey"]: o["o_custkey"] for o in tb("orders")}
    vol = defaultdict(list)
    for li in tb("lineitem"):
        d = li["l_shipdate"].strftime("%Y-%m-%d")
        if not ("1996-01-01" <= d <= "1997-12-31"):
            continue
        sn = supp_nat[li["l_suppkey"]]
        cn = cust_nat[ord_cust[li["l_orderkey"]]]
        if {sn, cn} == pair and sn != cn:
            vol[(sn, cn, int(d[:4]))].append(
                li["l_extendedprice"] * (1.0 - li["l_discount"])
            )
    want = [(k[0], k[1], k[2], dsum(v)) for k, v in sorted(vol.items())]
    got01 = [
        (r["supp_nation"], r["cust_nation"], r["l_year"], r["revenue"])
        for r in load_all()["q7_volume_shipping"].fn(spark, SF001).collect()
    ]
    assert sorted(got01, key=row_key) == sorted(want, key=row_key) and len(want) > 0
