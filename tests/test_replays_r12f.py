"""Round-12 replay batch 6: six more pure-Python replays for the
verbatim-shared-text risk class (rationale in tests/test_replays_r12.py).
Targets: nucleus truncation, Zipf OLS (via the kernel's Python twin),
TPC-H q21/q22 (double-correlated EXISTS, scalar-AVG anti-join),
personalized PageRank (seeded fixed-point integer recurrence), and the
real-corpus phash dedup (whose emptiness is re-derived from the actual
hashes, not assumed)."""

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


def _run(spark, name):
    from posting_lines_spark.queries import load_all

    return load_all()[name].fn(spark, SF0001).collect()


def test_replay_curation_mixture_nucleus(spark):
    n = Counter(d["source"] for d in _tbl("documents"))
    ranked = sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(n.values())
    want, cum = [], 0
    for src, c in ranked:
        if cum / total < 0.8:
            want.append((src, c, (cum + c) / total))
        cum += c
    got = [(r["source"], r["n_docs"], r["cum_share"]) for r in _run(spark, "curation_mixture_nucleus")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert 0 < len(want) <= len(n)
    # the crossing source is kept: last kept row's share >= 0.8
    assert want[-1][2] >= 0.8


def test_replay_text_zipf_fit(spark):
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries.text_q import ZIPF_TOP

    grams = Counter()
    for d in _tbl("documents"):
        t = d["text"]
        if len(t) >= 3:
            grams.update(t[i : i + 3] for i in range(len(t) - 2))
    top = sorted(grams.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP]
    xs = [dln_int_py(r) for r in range(1, len(top) + 1)]
    ys = [dln_int_py(c) for _, c in top]
    m = float(len(top))
    sx, sy = _dsum(xs), _dsum(ys)
    sxx = _dsum([x * x for x in xs])
    sxy = _dsum([x * y for x, y in zip(xs, ys)])
    syy = _dsum([y * y for y in ys])
    slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    (r,) = _run(spark, "text_zipf_fit")
    assert r["n_points"] == len(top)
    assert r["slope"] == slope
    assert r["intercept"] == (sy - slope * sx) / m
    assert r["r2"] == ((m * sxy - sx * sy) ** 2) / (
        (m * sxx - sx * sx) * (m * syy - sy * sy)
    )
    assert -3.0 < slope < -0.1  # Zipf-ish: decisively negative


def test_replay_q21_waiting_supplier(spark):
    nat = {n["n_nationkey"] for n in _tbl("nation") if n["n_name"] == "NATION_3"}
    supp = {
        s["s_suppkey"]: s["s_name"]
        for s in _tbl("supplier")
        if s["s_nationkey"] in nat
    }
    finished = {
        o["o_orderkey"] for o in _tbl("orders") if o["o_orderstatus"] == "F"
    }
    by_order = defaultdict(list)
    for li in _tbl("lineitem"):
        by_order[li["l_orderkey"]].append((li["l_suppkey"], li["l_returnflag"]))
    waits = Counter()
    for ok, lines in by_order.items():
        if ok not in finished:
            continue
        for sk, rf in lines:
            if rf != "R" or sk not in supp:
                continue
            others = [x for x in lines if x[0] != sk]
            if others and not any(x[1] == "R" for x in others):
                waits[supp[sk]] += 1
    want = sorted(waits.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["s_name"], r["numwait"]) for r in _run(spark, "q21_waiting_supplier")]
    assert got == want
    assert len(want) > 0


def test_replay_q22_sales_opportunity(spark):
    segs = {"BUILDING", "MACHINERY", "AUTOMOBILE"}
    cust = [c for c in _tbl("customer") if c["c_mktsegment"] in segs]
    pos = [c["c_acctbal"] for c in cust if c["c_acctbal"] > 0.0]
    thresh = _dsum(pos) / len(pos)
    urgent = {
        o["o_custkey"] for o in _tbl("orders") if o["o_orderpriority"] == "1-URGENT"
    }
    groups = defaultdict(list)
    for c in cust:
        if c["c_acctbal"] > thresh and c["c_custkey"] not in urgent:
            groups[c["c_mktsegment"]].append(c["c_acctbal"])
    want = sorted((s, len(v), _dsum(v)) for s, v in groups.items())
    got = [(r["segment"], r["numcust"], r["totacctbal"]) for r in _run(spark, "q22_sales_opportunity")]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    assert len(want) >= 2


def test_replay_graph_personalized_pagerank(spark):
    from posting_lines_spark.queries.graph_q import PR_ITERS, _PR_SCALE

    cust_nat = {c["c_custkey"]: c["c_nationkey"] for c in _tbl("customer")}
    supp_nat = {s["s_suppkey"]: s["s_nationkey"] for s in _tbl("supplier")}
    order_cust = {o["o_orderkey"]: o["o_custkey"] for o in _tbl("orders")}
    edges: dict[tuple, int] = defaultdict(int)
    for li in _tbl("lineitem"):
        edges[
            (cust_nat[order_cust[li["l_orderkey"]]], supp_nat[li["l_suppkey"]])
        ] += 1
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    asia_region = {
        r["r_regionkey"] for r in _tbl("region") if r["r_name"] == "ASIA"
    }
    seeds = {
        n["n_nationkey"]
        for n in _tbl("nation")
        if n["n_regionkey"] in asia_region
    } & set(nodes)
    k = len(seeds)
    assert k > 0
    outw: dict[int, int] = defaultdict(int)
    for (s, _), w in edges.items():
        outw[s] += w
    tp = {
        u: (15 * _PR_SCALE) // (100 * k) if u in seeds else 0 for u in nodes
    }
    rank = {u: _PR_SCALE // k if u in seeds else 0 for u in nodes}
    for _ in range(PR_ITERS):
        contrib: dict[int, int] = defaultdict(int)
        for (s, d), w in edges.items():
            r, o = rank[s], outw[s]
            contrib[d] += (r // o) * w + ((r % o) * w) // o
        rank = {u: tp[u] + (85 * contrib.get(u, 0)) // 100 for u in nodes}
    got = [(r["node"], r["rank_fp"]) for r in _run(spark, "graph_personalized_pagerank")]
    assert sorted(got, key=row_key) == sorted([(u, rank[u]) for u in nodes], key=row_key)
    # personalization is live: seed ranks dominate non-seed on average
    seed_avg = sum(rank[u] for u in seeds) / k
    rest = [rank[u] for u in nodes if u not in seeds]
    assert seed_avg > sum(rest) / len(rest)


def test_replay_multimodal_phash_dedup(spark):
    """Re-derive the 48-bit average-hash for every doc and the banded
    Hamming pairs in pure Python — proving the real corpus's empty
    result derives from the hash values, not a broken join."""
    from posting_lines_spark.operators.multimodal import PHASH_BITS
    from posting_lines_spark.queries.stream_q import PHASH_HAM_T

    hashes = {}
    for d in _tbl("documents"):
        b = d["text"].encode()
        n = len(b)
        if n == 0:
            continue
        pos = [k * (n - 1) // (PHASH_BITS - 1) for k in range(PHASH_BITS)]
        smp = [b[p] for p in pos]
        s = sum(smp)
        h = 0
        for kk, v in enumerate(smp):
            if v * PHASH_BITS > s:
                h |= 1 << kk
        hashes[d["doc_id"]] = h
    ids = sorted(hashes)
    want = []
    for i, a in enumerate(ids):
        for b_ in ids[i + 1 :]:
            x = hashes[a] ^ hashes[b_]
            # banding gives exact recall at <= T by pigeonhole; the
            # brute-force census here is the ground truth
            if bin(x).count("1") <= PHASH_HAM_T:
                want.append((a, b_, bin(x).count("1")))
    got = [(r["id_a"], r["id_b"], r["hamming"]) for r in _run(spark, "multimodal_phash_dedup")]
    assert got == sorted(want)
    # the hashes themselves are non-degenerate even when no pair is near
    assert len({h for h in hashes.values()}) > len(ids) // 2
