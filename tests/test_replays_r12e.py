"""Round-12 replay batch 5: seven more pure-Python replays for the
verbatim-shared-text risk class (rationale in tests/test_replays_r12.py).
Targets: mixture weights, rendezvous sharding, effect sizes, exact
heavy hitters, the mergeable quantile sketch + its bound, and TPC-H
q8/q11 (q11 empty at sf0.001 — semantics replayed, non-empty leg at
sf0.01)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from tests.conftest import SF0001, SF001, row_key


def _tbl(name: str, sf=SF0001) -> list[dict]:
    return pq.read_table(f"{sf}/{name}.parquet").to_pylist()


def _dsum(values, scale: int = 6) -> float:
    q = Decimal(1).scaleb(-scale)
    tot = Decimal(0)
    for v in values:
        tot += Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)
    return float(str(tot))


def _md5_int(s: str, salt: str) -> int:
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:15], 16)


def _run(spark, name, sf=SF0001):
    from posting_lines_spark.queries import load_all

    return load_all()[name].fn(spark, sf).collect()


def test_replay_curation_mixture_weights(spark):
    n = Counter(d["source"] for d in _tbl("documents"))
    # the normalizer is a decimal-routed sum of sqrt(count) doubles
    z = _dsum([math.sqrt(c) for c in n.values()])
    total = sum(n.values())
    got = {r["source"]: r for r in _run(spark, "curation_mixture_weights")}
    assert set(got) == set(n)
    for s, c in n.items():
        r = got[s]
        assert r["n_docs"] == c
        assert r["mix_weight"] == math.sqrt(c) / z
        assert r["expected_docs"] == math.sqrt(c) / z * total
    # temperature scaling never widens the spread (sf0.001's sources
    # are exactly uniform, so both spreads are 1 there — equality ok)
    ws = [got[s]["mix_weight"] for s in n]
    cs = [c / total for c in n.values()]
    assert (max(ws) / min(ws)) <= (max(cs) / min(cs))
    assert abs(sum(ws) - 1.0) < 1e-12


def test_replay_curation_shards_hrw(spark):
    from posting_lines_spark.queries.curation_q import _HRW_A, _HRW_B

    ids = [d["doc_id"] for d in _tbl("documents")]

    def assign(doc, n):
        return max(
            range(n), key=lambda s: (_md5_int(f"{doc}#{s}", "hrw"), -s)
        )

    moved = sum(1 for d in ids if assign(d, _HRW_A) != assign(d, _HRW_B))
    (r,) = _run(spark, "curation_shards_hrw")
    assert r["n_docs"] == len(ids)
    assert r["n_moved"] == moved
    assert r["moved_frac"] == moved / len(ids)
    assert bool(r["stability_ok"]) is (moved / len(ids) < 2.0 / _HRW_B)
    assert 0 < moved < len(ids) / 4  # rendezvous genuinely beats mod


def test_replay_stats_effect_sizes(spark):
    g1 = [e["value"] for e in _tbl("events") if e["event_type"] == "purchase"]
    g2 = [e["value"] for e in _tbl("events") if e["event_type"] == "click"]
    n1, n2 = float(len(g1)), float(len(g2))
    s1, s2 = _dsum(g1), _dsum(g2)
    ss1 = _dsum([v * v for v in g1])
    ss2 = _dsum([v * v for v in g2])
    m1, m2 = s1 / n1, s2 / n2
    v1 = (ss1 - s1 * s1 / n1) / (n1 - 1.0)
    v2 = (ss2 - s2 * s2 / n2) / (n2 - 1.0)
    sp = math.sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0))
    d = (m1 - m2) / sp
    (r,) = _run(spark, "stats_effect_sizes")
    assert (r["n1"], r["n2"]) == (len(g1), len(g2))
    assert r["mean_diff"] == m1 - m2
    assert r["cohens_d"] == d
    assert r["hedges_g"] == d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
    assert r["glass_delta"] == (m1 - m2) / math.sqrt(v2)


def test_replay_topk_heavy_hitters_mg(spark):
    from posting_lines_spark.queries.sketch_q import HH_K

    grams = Counter()
    for d in _tbl("documents"):
        t = d["text"]
        if len(t) >= 3:
            grams.update(t[i : i + 3] for i in range(len(t) - 2))
    n = sum(grams.values())
    want = sorted(
        ((g, c) for g, c in grams.items() if c * HH_K > n),
        key=lambda t: (-t[1], t[0]),
    )
    got = [(r["gram"], r["n"]) for r in _run(spark, "topk_heavy_hitters_mg")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    # selective but non-vacuous: a strict subset of the gram domain
    # (sf0.001's 377-gram domain is tiny, so only strictness is safe)
    assert 0 < len(want) < len(grams)


def test_replay_sketch_quantile_hist(spark):
    from posting_lines_spark.queries.sketch_q import QH_BINS, QH_WIDTH

    prices = [o["o_totalprice"] for o in _tbl("orders")]
    bins = Counter(
        min(max(math.floor(p / QH_WIDTH), 0), QH_BINS - 1) for p in prices
    )
    cents = sorted(round(p * 100) for p in prices)
    total = len(prices)
    got = {r["p"]: r for r in _run(spark, "sketch_quantile_hist")}
    assert set(got) == {0.5, 0.9, 0.99}
    for p, r in got.items():
        rank = math.ceil(p * total)
        exact_q = cents[rank - 1] / 100.0
        run = 0
        for b in sorted(bins):
            run += bins[b]
            if run >= rank:
                qbin = b
                break
        assert r["n_rows"] == total
        assert r["est_q"] == (qbin + 1) * QH_WIDTH
        assert r["exact_q"] == exact_q
        assert bool(r["bound_ok"]) is (abs((qbin + 1) * QH_WIDTH - exact_q) <= QH_WIDTH)
        assert r["bound_ok"]  # the sketch's guarantee actually holds


def _q8_replay(sf):
    region = {r["r_regionkey"] for r in _tbl("region", sf) if r["r_name"] == "AMERICA"}
    nat = {n["n_nationkey"]: (n["n_name"], n["n_regionkey"]) for n in _tbl("nation", sf)}
    promo = {p["p_partkey"] for p in _tbl("part", sf) if p["p_type"] == "PROMO"}
    cust_ok = {
        c["c_custkey"]
        for c in _tbl("customer", sf)
        if nat[c["c_nationkey"]][1] in region
    }
    supp_nat = {s["s_suppkey"]: nat[s["s_nationkey"]][0] for s in _tbl("supplier", sf)}
    orders = {}
    for o in _tbl("orders", sf):
        d = o["o_orderdate"].strftime("%Y-%m-%d")
        if "1996-01-01" <= d < "1998-01-01" and o["o_custkey"] in cust_ok:
            orders[o["o_orderkey"]] = o["o_orderdate"].year
    num = defaultdict(list)
    den = defaultdict(list)
    for li in _tbl("lineitem", sf):
        y = orders.get(li["l_orderkey"])
        if y is None or li["l_partkey"] not in promo:
            continue
        vol = li["l_extendedprice"] * (1.0 - li["l_discount"])
        den[y].append(vol)
        num[y].append(vol if supp_nat[li["l_suppkey"]] == "NATION_3" else 0.0)
    return {y: _dsum(num[y]) / _dsum(den[y]) for y in den}


def test_replay_q8_market_share(spark):
    for sf in (SF0001, SF001):
        want = _q8_replay(sf)
        got = {r["o_year"]: r["mkt_share"] for r in _run(spark, "q8_market_share", sf)}
        assert got == want
    assert len(want) == 2  # both years present at sf0.01


def test_replay_q11_important_stock(spark):
    for sf, expect_rows in ((SF0001, None), (SF001, True)):
        nat = {
            n["n_nationkey"] for n in _tbl("nation", sf) if n["n_name"] == "NATION_7"
        }
        supp = {
            s["s_suppkey"] for s in _tbl("supplier", sf) if s["s_nationkey"] in nat
        }
        per_part = defaultdict(list)
        for li in _tbl("lineitem", sf):
            if li["l_suppkey"] in supp:
                per_part[li["l_partkey"]].append(
                    li["l_extendedprice"] * li["l_quantity"]
                )
        totals = {p: _dsum(v) for p, v in per_part.items()}
        thresh = 3.0e-4 * _dsum(
            [x for v in per_part.values() for x in v]
        )
        want = sorted(
            ((p, v) for p, v in totals.items() if v > thresh),
            key=lambda t: (-t[1], t[0]),
        )
        got = [(r["ps_partkey"], r["value"]) for r in _run(spark, "q11_important_stock", sf)]
        assert sorted(got, key=row_key) == sorted(want, key=row_key)
        if expect_rows:
            assert len(want) > 0  # non-empty leg at sf0.01
