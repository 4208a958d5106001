"""Independent replays + properties for the round-6 queries.

Same discipline as tests/test_sixthwave.py: each statistical query gets
a plain-Python (or in-Spark brute-force) replay so correctness doesn't
rest only on the cross-engine oracle; algorithmic queries get their
guarantee property pinned directly.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from tests.conftest import SF0001


def _events(cols):
    return pq.read_table(f"{SF0001}/events.parquet", columns=cols).to_pylist()


# --- Mann-Whitney U: pure-Python midrank replay ---


def test_mann_whitney_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(["event_type", "value"])
    a = sorted(r["value"] for r in rows if r["event_type"] == "purchase")
    b = sorted(r["value"] for r in rows if r["event_type"] == "click")
    pooled = sorted([(v, 0) for v in a] + [(v, 1) for v in b])
    n1, n2 = len(a), len(b)
    # midranks with ties
    r1 = 0.0
    tie_sum = 0
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        t = j - i
        midrank = (i + 1 + j) / 2.0  # average of ranks i+1..j
        r1 += midrank * sum(1 for k in range(i, j) if pooled[k][1] == 0)
        tie_sum += t * t * t - t
        i = j
    u1 = r1 - n1 * (n1 + 1) / 2.0
    n = n1 + n2
    var = n1 * n2 / 12.0 * ((n + 1) - tie_sum / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2.0) / math.sqrt(var)

    row = load_all()["stats_mann_whitney"].fn(spark, SF0001).collect()[0]
    assert (row.n1, row.n2, row.tie_sum) == (n1, n2, tie_sum)
    assert abs(row.u1 - u1) < 1e-6
    assert abs(row.z_stat - z) < 1e-9


# --- one-way ANOVA: pure-Python replay ---


def test_anova_matches_python_replay(spark):
    from decimal import Decimal

    from posting_lines_spark.queries import load_all

    def q(x):
        return Decimal(repr(x)).quantize(Decimal("0.000001"))

    groups = defaultdict(list)
    for r in _events(["event_type", "value"]):
        groups[r["event_type"]].append(r["value"])
    sxs, ssws, sqs, nt = [], [], [], 0
    for xs in groups.values():
        n = len(xs)
        sx = float(sum(q(x) for x in xs))
        sxx = float(sum(q(x * x) for x in xs))
        sxs.append(sx)
        ssws.append(sxx - sx * sx / n)
        sqs.append(sx * sx / n)
        nt += n
    k = len(groups)
    sxt = float(sum(q(v) for v in sxs))
    ssw = float(sum(q(v) for v in ssws))
    sq = float(sum(q(v) for v in sqs))
    ssb = sq - sxt * sxt / nt
    f = (nt - k) / (k - 1) * ssb / ssw

    row = load_all()["stats_anova_oneway"].fn(spark, SF0001).collect()[0]
    assert (row.nt, row.k) == (nt, k)
    assert abs(row.ssb - ssb) < 1e-6
    assert abs(row.f_stat - f) < 1e-9


# --- Kaplan-Meier: pure-Python product-limit replay ---


def test_km_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(["user_id", "event_type", "ts"])
    per_user = {}
    for r in rows:
        day = int(math.floor(r["ts"].timestamp() / 86400.0))
        u = per_user.setdefault(r["user_id"], {"s": None, "last": day, "pdays": []})
        u["last"] = max(u["last"], day)
        if r["event_type"] == "signup":
            u["s"] = day if u["s"] is None else min(u["s"], day)
        if r["event_type"] == "purchase":
            u["pdays"].append(day)
    obs = []
    for u in per_user.values():
        if u["s"] is None:
            continue
        p = min((d for d in u["pdays"] if d >= u["s"]), default=None)
        if p is not None:
            obs.append((p - u["s"], 1))
        else:
            obs.append((u["last"] - u["s"], 0))
    risk = defaultdict(lambda: [0, 0])  # t -> [d, m]
    for t, e in obs:
        risk[t][0] += e
        risk[t][1] += 1
    ts = sorted(risk)
    at_risk = len(obs)
    expect = []
    ln_s = 0.0
    for t in ts:
        d, m = risk[t]
        if d > 0 and at_risk > d:
            ln_s += math.log(at_risk - d) - math.log(at_risk)
            expect.append((t, at_risk, d, ln_s))
        at_risk -= m

    got = load_all()["events_survival_km"].fn(spark, SF0001).collect()
    assert [(r.duration_days, r.n_at_risk, r.d_events) for r in got] == [
        (t, n, d) for t, n, d, _ in expect
    ]
    for r, (_, _, _, ls) in zip(got, expect):
        # kernel ln vs math.log: <=1 ulp each, summed over <=n steps
        assert abs(r.ln_survival - ls) < 1e-10


# --- Markov stationary: bit-exact integer micro-unit replay ---


def test_markov_micro_iteration_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import MARKOV_ITERS

    rows = _events(["user_id", "event_type", "ts", "event_id"])
    byu = defaultdict(list)
    for r in rows:
        byu[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    big = Counter()
    for evs in byu.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            big[(a, b)] += 1
    outc = Counter()
    for (a, _), n in big.items():
        outc[a] += n
    p = {(a, b): n / outc[a] for (a, b), n in big.items()}
    states = sorted(outc)
    v = {s: 1_000_000 // len(states) for s in states}
    for _ in range(MARKOV_ITERS):
        nv = defaultdict(int)
        for (a, b), pab in p.items():
            # round half away from zero, like both engines' round()
            x = float(v[a]) * pab
            nv[b] += int(math.floor(x + 0.5))
        v = dict(nv)

    got = load_all()["events_markov_stationary"].fn(spark, SF0001).collect()
    assert {r.event_type: r.pi_micro for r in got} == v


# --- Misra-Gries: superset guarantee on an adversarial zipf stream ---


def test_mg_candidates_superset_property():
    import numpy as np
    import pandas as pd

    from posting_lines_spark.queries.sketch_q import _mg_candidates

    rng = np.random.default_rng(7)
    # heavy-tail stream over a 5000-key domain, shuffled, cut into
    # uneven batches — the shapes that break naive counters
    keys = [f"k{int(z)}" for z in rng.zipf(1.3, size=200_000) % 5000]
    rng.shuffle(keys)
    cuts = sorted(rng.integers(0, len(keys), size=7))
    batches = [
        pd.DataFrame({"k": keys[a:b]})
        for a, b in zip([0, *cuts], [*cuts, len(keys)])
        if b > a
    ]
    (cand_df,) = list(_mg_candidates(iter(batches), k=200))
    cands = set(cand_df["k"])
    assert len(cands) < 200
    counts = Counter(keys)
    n = len(keys)
    heavy = {x for x, c in counts.items() if c * 200 > n}
    assert heavy, "test stream must actually contain heavy hitters"
    assert heavy <= cands, f"missed heavy hitters: {heavy - cands}"


# --- DBSCAN halving: equals in-Spark brute force at sf0.001 ---


def test_dbscan_core_matches_bruteforce(spark):
    from pyspark.sql import functions as F

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.spatial_q import (
        DBSCAN_EPS_M,
        DBSCAN_MINPTS,
    )
    from posting_lines_spark.queries.geo_q import enrich_materialized

    pts = (
        enrich_materialized(spark, SF0001, ["segment_id", "x1", "y1"])
        .selectExpr("segment_id AS id", "x1 AS x", "y1 AS y")
        .distinct()
        .localCheckpoint(eager=True)
    )
    b = pts.select(
        F.col("id").alias("id2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    eps2 = DBSCAN_EPS_M * DBSCAN_EPS_M
    # brute force: every ordered pair incl. self, no grid, no halving
    brute = (
        pts.crossJoin(b)
        .filter(
            (F.col("x") - F.col("x2")) * (F.col("x") - F.col("x2"))
            + (F.col("y") - F.col("y2")) * (F.col("y") - F.col("y2"))
            <= F.lit(eps2)
        )
        .groupBy("id", "x", "y")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
        .groupBy((F.col("n_neighbors") >= DBSCAN_MINPTS).alias("is_core"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("n_neighbors").alias("min_neighbors"),
            F.max("n_neighbors").alias("max_neighbors"),
        )
        .orderBy("is_core")
        .collect()
    )
    got = sorted(load_all()["geo_dbscan_core"].fn(spark, SF0001).collect(), key=lambda r: r.is_core)
    assert [
        (r.is_core, r.n_points, r.min_neighbors, r.max_neighbors) for r in got
    ] == [(r.is_core, r.n_points, r.min_neighbors, r.max_neighbors) for r in brute]


# --- two-proportion z-test: pure-Python windowed-conversion replay ---


def test_proportion_ztest_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import _AB_WINDOW_US

    rows = _events(["user_id", "event_type", "ts"])
    first = defaultdict(dict)
    purchases = defaultdict(list)
    for r in rows:
        us = int(r["ts"].timestamp() * 1_000_000)
        if r["event_type"] in ("click", "view"):
            d = first[r["user_id"]]
            d[r["event_type"]] = min(d.get(r["event_type"], us), us)
        elif r["event_type"] == "purchase":
            purchases[r["user_id"]].append(us)
    n1 = x1 = n2 = x2 = 0
    for u, d in first.items():
        for et in ("click", "view"):
            if et not in d:
                continue
            conv = any(
                d[et] <= p < d[et] + _AB_WINDOW_US for p in purchases.get(u, [])
            )
            if et == "click":
                n1, x1 = n1 + 1, x1 + conv
            else:
                n2, x2 = n2 + 1, x2 + conv
    p1, p2 = x1 / n1, x2 / n2
    ph = (x1 + x2) / (n1 + n2)
    z = (p1 - p2) / math.sqrt(ph * (1 - ph) * (1 / n1 + 1 / n2))

    row = load_all()["stats_proportion_ztest"].fn(spark, SF0001).collect()[0]
    assert (row.n1, row.x1, row.n2, row.x2) == (n1, x1, n2, x2)
    assert abs(row.z_stat - z) < 1e-9
    assert not row.degenerate


# --- burstiness: pure-Python VMR replay ---


def test_burstiness_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    docs = pq.read_table(
        f"{SF0001}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    per_doc = Counter()
    for d in docs:
        for tok in d["text"].split(" "):
            per_doc[(tok, d["doc_id"])] += 1
    ndocs = len({d["doc_id"] for d in docs})
    tot, df_, sc2 = Counter(), Counter(), Counter()
    for (tok, _), c in per_doc.items():
        tot[tok] += c
        df_[tok] += 1
        sc2[tok] += c * c
    got = load_all()["text_burstiness"].fn(spark, SF0001).collect()
    for r in got:
        assert (r.n_total, r.doc_freq) == (tot[r.tok], df_[r.tok])
        vmr = (sc2[r.tok] - tot[r.tok] ** 2 / ndocs) / tot[r.tok]
        assert abs(r.vmr - vmr) < 1e-9
