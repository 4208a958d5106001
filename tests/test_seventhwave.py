"""Independent Python replays for the seventh-wave operators (Brown-
Forsythe, Jarque-Bera, Kendall tau, HITS, naive Bayes, DTW, t-closeness,
DSIR resampling, generalized ESD, TextRank) — same policy as
test_fifthwave/test_sixthwave: each expected result is re-derived from
raw parquet with plain Python so correctness does not rest on the
shared-SQL oracle alone."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF0001


def _events():
    return pq.read_table(f"{SF0001}/events.parquet").to_pylist()


def _docs():
    return pq.read_table(f"{SF0001}/documents.parquet").to_pylist()


def _daily_means(rows):
    """Decimal-routed daily mean replay: 2-dp values sum exactly, so the
    engine's DECIMAL(38,6) route equals the exact rational mean."""
    acc: dict[tuple[str, int], list] = defaultdict(lambda: [Fraction(0), 0])
    for r in rows:
        day = math.floor((r["ts"].timestamp() * 1e6) / 86400000000.0)
        key = (r["event_type"], day)
        acc[key][0] += Fraction(round(r["value"] * 100), 100)
        acc[key][1] += 1
    series: dict[str, list] = defaultdict(list)
    for (et, day), (s, n) in acc.items():
        series[et].append((day, float(s) / n))
    return {et: [v for _, v in sorted(pts)] for et, pts in series.items()}


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

    series = _daily_means(_events())
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


# --- HITS (exact integer replay) ---


def test_hits_matches_integer_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import HITS_ITERS, _HITS_SCALE

    li = pq.read_table(
        f"{SF0001}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    ).to_pylist()
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in pq.read_table(
            f"{SF0001}/orders.parquet", columns=["o_orderkey", "o_custkey"]
        ).to_pylist()
    }
    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in pq.read_table(
            f"{SF0001}/customer.parquet", columns=["c_custkey", "c_nationkey"]
        ).to_pylist()
    }
    supp = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in pq.read_table(
            f"{SF0001}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
        ).to_pylist()
    }
    edges = {
        (cust[orders[r["l_orderkey"]]], supp[r["l_suppkey"]]) for r in li
    }
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    h = {u: _HITS_SCALE for u in nodes}
    a = {}
    for _ in range(HITS_ITERS):
        raw = Counter()
        for u, v in edges:
            raw[v] += h[u]
        tot = sum(raw.values())
        a = {u: raw.get(u, 0) * _HITS_SCALE // tot for u in nodes}
        raw = Counter()
        for u, v in edges:
            raw[u] += a[v]
        tot = sum(raw.values())
        h = {u: raw.get(u, 0) * _HITS_SCALE // tot for u in nodes}
    got = {
        r.node: (r.authority_fp, r.hub_fp)
        for r in load_all()["graph_hits"].fn(spark, SF0001).collect()
    }
    assert got == {u: (a[u], h[u]) for u in nodes}


# --- naive Bayes confusion matrix ---


def test_naive_bayes_confusion_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import NB_LANGS

    docs = _docs()
    cnt: dict[str, Counter] = {g: Counter() for g in NB_LANGS}
    nd = Counter()
    for d in docs:
        nd[d["lang"]] += 1
        cnt[d["lang"]].update(d["text"].split(" "))
    vocab = set()
    for c in cnt.values():
        vocab |= set(c)
    v = len(vocab)
    ntot = sum(nd.values())
    tot = {g: sum(cnt[g].values()) for g in NB_LANGS}
    conf = Counter()
    for d in docs:
        toks = Counter(d["text"].split(" "))
        n_tok = sum(toks.values())
        scores = {}
        for g in NB_LANGS:
            # replicate the engine: per-(token,class) products quantized
            # at scale 3 and summed exactly, constants in plain doubles
            s = _dsum3(c * math.log(cnt[g][t] + 1) for t, c in toks.items())
            scores[g] = (
                math.log(nd[g])
                - math.log(ntot)
                + s
                - n_tok * math.log(tot[g] + v)
            )
        # alphabetical-first tie-break: NB_LANGS is sorted, use >= cascade
        best = NB_LANGS[-1]
        for g in NB_LANGS:
            if scores[g] >= max(scores[h] for h in NB_LANGS if h != g):
                best = g
                break
        conf[(d["lang"], best)] += 1
    got = {
        (r.true_lang, r.pred_lang): r.n_docs
        for r in load_all()["text_naive_bayes_lang"].fn(spark, SF0001).collect()
    }
    assert got == dict(conf)


# --- DTW ---


def test_dtw_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import DTW_REF_TYPE

    series = _daily_means(_events())
    b = series[DTW_REF_TYPE]
    m = len(b)
    INF = 1.0e18
    rows = load_all()["timeseries_dtw"].fn(spark, SF0001).collect()
    for row in rows:
        a = series[row.event_type]
        prev = [0.0] + [INF] * m
        for av in a:
            nr = [INF]
            for j in range(1, m + 1):
                nr.append(abs(av - b[j - 1]) + min(prev[j], nr[j - 1], prev[j - 1]))
            prev = nr
        assert (row.n_days, row.m_days) == (len(a), m)
        assert row.dtw == prev[m]  # identical fp op order -> bit-exact
    assert {r.event_type for r in rows} == set(series)
    assert next(r.dtw for r in rows if r.event_type == DTW_REF_TYPE) == 0.0


# --- t-closeness ---


def test_t_closeness_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import T_CLOSENESS

    cust = pq.read_table(
        f"{SF0001}/customer.parquet",
        columns=["c_nationkey", "c_acctbal", "c_mktsegment"],
    ).to_pylist()
    cls: dict[tuple, Counter] = defaultdict(Counter)
    seg = Counter()
    for r in cust:
        band = math.floor(float(r["c_acctbal"]) / 1e3)
        cls[(r["c_nationkey"], band)][r["c_mktsegment"]] += 1
        seg[r["c_mktsegment"]] += 1
    nn = sum(seg.values())
    per_nation = defaultdict(lambda: [0, 0.0, 0, 0])  # classes, max_t, viol, rows
    for (nat, _band), c in cls.items():
        n = sum(c.values())
        t = sum(abs(c.get(s, 0) * nn - g * n) for s, g in seg.items()) / (
            2.0 * n * nn
        )
        e = per_nation[nat]
        e[0] += 1
        e[1] = max(e[1], t)
        if t > T_CLOSENESS:
            e[2] += 1
            e[3] += n
    rows = load_all()["privacy_t_closeness"].fn(spark, SF0001).collect()
    for row in rows:
        e = per_nation[row.c_nationkey]
        assert (row.n_classes, row.n_violating, row.rows_exposed) == (
            e[0],
            e[2],
            e[3],
        )
        assert math.isclose(row.max_t, e[1], rel_tol=1e-12)
    assert len(rows) == len(per_nation)


# --- DSIR importance resampling ---


def _md5_int(s: str, salt: str) -> int:
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:15], 16)


def _dsum3(values):
    """Replica of the engine's scale-3 decimal route: each double is
    rounded HALF_UP on its shortest decimal repr (Spark
    BigDecimal.valueOf semantics), summed exactly."""
    q = Decimal("0.001")
    return float(sum(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP) for v in values))


def test_dsir_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        DSIR_TOP_N,
    )

    docs = _docs()
    ct, cs = Counter(), Counter()
    for d in docs:
        for t in d["text"].split(" "):
            b = _md5_int(t, "dsir") % DSIR_BUCKETS
            cs[b] += 1
            if d["lang"] == DSIR_TARGET_LANG:
                ct[b] += 1
    tt, ts = sum(ct.values()), sum(cs.values())
    weights = {}
    for d in docs:
        # the engine aggregates (doc, bucket) BEFORE the log-ratio product,
        # so the scale-3 quantization applies per bucket row — mirror that
        buckets = Counter(
            _md5_int(t, "dsir") % DSIR_BUCKETS for t in d["text"].split(" ")
        )
        n_tok = sum(buckets.values())
        s = _dsum3(
            c * (math.log(ct[b] + 1) - math.log(cs[b] + 1))
            for b, c in buckets.items()
        )
        w = (
            s
            - n_tok
            * (math.log(tt + DSIR_BUCKETS) - math.log(ts + DSIR_BUCKETS))
        ) / n_tok
        weights[d["doc_id"]] = w
    expected = sorted(weights, key=lambda i: (-weights[i], i))[:DSIR_TOP_N]
    rows = load_all()["curation_importance_resample"].fn(spark, SF0001).collect()
    assert [r.doc_id for r in rows] == expected
    for r in rows:
        assert math.isclose(r.w, weights[r.doc_id], rel_tol=1e-6, abs_tol=1e-6)


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


# --- TextRank ---


def test_textrank_matches_integer_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import (
        TEXTRANK_ITERS,
        TEXTRANK_TOP_K,
    )

    SCALE = 1_000_000_000_000
    edges = Counter()
    for d in _docs():
        toks = d["text"].split(" ")
        for w1, w2 in zip(toks, toks[1:]):
            edges[(w1, w2)] += 1
            edges[(w2, w1)] += 1
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outw = Counter()
    for (u, _v), w in edges.items():
        outw[u] += w
    rank = {u: SCALE // n for u in nodes}
    for _ in range(TEXTRANK_ITERS):
        contrib = Counter()
        for (u, v), w in edges.items():
            r, o = rank[u], outw[u]
            contrib[v] += (r // o) * w + ((r % o) * w) // o
        rank = {
            u: (15 * SCALE) // (100 * n) + (85 * contrib.get(u, 0)) // 100
            for u in nodes
        }
    expected = sorted(nodes, key=lambda u: (-rank[u], u))[:TEXTRANK_TOP_K]
    rows = load_all()["text_textrank_keywords"].fn(spark, SF0001).collect()
    assert [(r.word, r.rank_fp) for r in rows] == [
        (u, rank[u]) for u in expected
    ]


# --- PCA power iteration (exact integer replay) ---


def test_pca_power_matches_integer_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.vectors_q import (
        DIMS,
        PCA_ITERS,
        PCA_MDIV,
        PCA_VSCALE,
    )

    embs = pq.read_table(f"{SF0001}/embeddings.parquet").to_pylist()
    qv = [
        [math.floor(float(x) * 1e4 + 0.5) if x >= 0 else -math.floor(-float(x) * 1e4 + 0.5)
         for x in r["embedding"]]
        for r in embs
    ]
    n = len(qv)
    s1 = [sum(v[i] for v in qv) for i in range(DIMS)]
    s2 = [
        [sum(v[i] * v[j] for v in qv) for j in range(DIMS)] for i in range(DIMS)
    ]
    m = [[n * s2[i][j] - s1[i] * s1[j] for j in range(DIMS)] for i in range(DIMS)]
    gmax = max(abs(x) for row in m for x in row)
    g = gmax // PCA_MDIV + 1

    def tdiv(a: int, b: int) -> int:  # truncate-toward-zero division
        return (1 if a >= 0 else -1) * (abs(a) // b)

    mp = [[tdiv(x, g) for x in row] for row in m]
    v = [PCA_VSCALE] * DIMS
    for _ in range(PCA_ITERS):
        y = [sum(mp[i][j] * v[j] for j in range(DIMS)) for i in range(DIMS)]
        mx = max(abs(x) for x in y)
        v = [tdiv(x * PCA_VSCALE, mx) for x in y]
    s = next(1 if x > 0 else -1 for x in v if x != 0)
    expected = [x * s for x in v]
    rows = sorted(
        load_all()["embedding_pca_power"].fn(spark, SF0001).collect(), key=lambda r: r.dim
    )
    assert [(r.dim, r.v_fp) for r in rows] == list(enumerate(expected))


# --- query likelihood (Dirichlet) ---


def test_query_likelihood_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.search_q import QL_MU, QUERY_TERMS, TOP_K

    docs = _docs()
    dl = {d["doc_id"]: len(d["text"].split(" ")) for d in docs}
    cc = sum(dl.values())
    ctf = Counter()
    tf: dict[tuple[int, str], int] = Counter()
    for d in docs:
        for t in d["text"].split(" "):
            if t in QUERY_TERMS:
                ctf[t] += 1
                tf[(d["doc_id"], t)] += 1
    scores = {}
    nmatch = {}
    for i, n in dl.items():
        s = 0.0
        m = 0
        for t in QUERY_TERMS:
            tfd = tf.get((i, t), 0)
            if tfd:
                m += 1
            s += math.log((tfd * cc + QL_MU * ctf[t]) / (cc * (n + QL_MU)))
        scores[i] = s
        nmatch[i] = m
    expected = sorted(scores, key=lambda i: (-scores[i], i))[:TOP_K]
    rows = load_all()["search_query_likelihood"].fn(spark, SF0001).collect()
    assert [r.doc_id for r in rows] == expected
    for r in rows:
        assert r.n_matched == nmatch[r.doc_id]
        assert r.dl == dl[r.doc_id]
        assert math.isclose(r.score, scores[r.doc_id], rel_tol=1e-9)


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


# --- motif discovery ---


def test_motif_discovery_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import MOTIF_W

    series = _daily_means(_events())
    rows = load_all()["timeseries_motif_discovery"].fn(spark, SF0001).collect()
    assert {r.event_type for r in rows} == set(series)
    for row in rows:
        a = series[row.event_type]
        n = len(a)
        wins = {}
        for i in range(1, n - MOTIF_W + 2):
            w = a[i - 1 : i - 1 + MOTIF_W]
            m = sum(w) / MOTIF_W
            sd = math.sqrt(sum(x * x for x in w) / MOTIF_W - m * m)
            if sd > 0:
                wins[i] = (w, m, sd)
        best = None
        for i, (wa, ma, sa) in wins.items():
            for j, (wb, mb, sb) in wins.items():
                if j < i + MOTIF_W:
                    continue
                d = sum(
                    ((x - ma) / sa - (y - mb) / sb) ** 2 for x, y in zip(wa, wb)
                )
                key = (d, i, j)
                if best is None or key < best:
                    best = key
        d, i, j = best
        assert (row.i, row.j) == (i, j)
        assert math.isclose(row.dist, d, rel_tol=1e-9)


# --- watermark late-data audit ---


def test_watermark_audit_matches_python(spark):
    # r12: arrival is simulated as ts + md5 jitter (the raw corpus is
    # perfectly ordered, so the original event_id-ordered audit's late
    # branch was dead code — caught by the degeneracy gate); the replay
    # mirrors the jittered arrival order.
    import hashlib

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.stream_q import WM_DELAY_US, WM_JITTER_US

    def arrival(r):
        h = hashlib.md5(f"wmj|{r['event_id']}".encode()).hexdigest()
        return (
            int(r["ts"].timestamp() * 1e6) + int(h[:15], 16) % WM_JITTER_US,
            r["event_id"],
        )

    rows = sorted(_events(), key=arrival)
    runmax = None
    stats = defaultdict(lambda: [0, 0, None])  # n, late, max_lateness
    for r in rows:
        t = int(r["ts"].timestamp() * 1e6)
        runmax = t if runmax is None or t > runmax else runmax
        e = stats[r["event_type"]]
        e[0] += 1
        if t < runmax - WM_DELAY_US:
            e[1] += 1
            lat = runmax - WM_DELAY_US - t
            e[2] = lat if e[2] is None or lat > e[2] else e[2]
    got = load_all()["stream_watermark_late_audit"].fn(spark, SF0001).collect()
    for row in got:
        n, late, mx = stats[row.event_type]
        assert (row.n_events, row.n_late, row.max_lateness_us) == (n, late, mx)
        assert math.isclose(row.late_frac, late / n, rel_tol=1e-12)
    assert {r.event_type for r in got} == set(stats)


# --- stateful session windows (event-time timers) ---


def test_stateful_sessions_match_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.streaming.stateful import SESSION_GAP_US

    by_user = defaultdict(list)
    for r in _events():
        by_user[r["user_id"]].append(int(r["ts"].timestamp() * 1e6))
    expected = []
    for u, ts in by_user.items():
        ts.sort()
        cur = None
        for t in ts:
            if cur is None:
                cur = [t, t, 1]
            elif t - cur[1] > SESSION_GAP_US:
                expected.append((u, *cur))
                cur = [t, t, 1]
            else:
                cur[1] = t
                cur[2] += 1
        expected.append((u, *cur))
    got = [
        (r.user_id, r.s_start_us, r.s_end_us, r.n_events)
        for r in load_all()["stream_sessions_stateful"].fn(spark, SF0001).collect()
    ]
    assert sorted(got) == sorted(expected)


def test_stateful_sessions_cross_batch_carry_and_timer(spark, tmp_path):
    """Directly pins the two state paths the corpus replay can't force
    at sf0.001: (1) a session SPANNING a batch boundary must be merged
    through the state-store carry, (2) an open tail must be closed by
    the EVENT-TIME TIMER fired by the sentinel batches."""
    import time

    from posting_lines_spark.fixtures import force_mtime_order
    from posting_lines_spark.streaming.stateful import sessionize_stateful

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = 1_700_000_000_000_000  # µs
    MIN = 60_000_000
    # slice 1: u1 two events ending at t0; u2 lone event (timer-only)
    # slice 2: u1 event 10 min after t0 -> SAME session, carried in state
    slices = [
        [(1, t0 - 5 * MIN), (1, t0), (2, t0 - 40 * MIN)],
        [(1, t0 + 10 * MIN)],
    ]
    seen: set = set()
    base = time.time()
    for i, rows in enumerate(slices):
        spark.createDataFrame(
            [(u, t) for u, t in rows], "user_id long, ts_us long"
        ).selectExpr(
            "CAST(user_id AS BIGINT) AS event_id",
            "timestamp_micros(ts_us) AS ts",
            "user_id", "'e' AS event_type", "CAST(0.0 AS DOUBLE) AS value",
        ).coalesce(1).write.mode("append").parquet(src)
        force_mtime_order(src, seen, i, base)
    for i, off in enumerate((10 * 86_400_000_000, 11 * 86_400_000_000)):
        spark.sql(
            f"SELECT CAST(-1 AS BIGINT) AS event_id,"
            f" timestamp_micros({t0 + off}) AS ts,"
            f" CAST(-1 AS BIGINT) AS user_id,"
            f" 'flush' AS event_type, CAST(0.0 AS DOUBLE) AS value"
        ).coalesce(1).write.mode("append").parquet(src)
        force_mtime_order(src, seen, 2 + i, base)
    sessionize_stateful(spark, src, out, ckpt)
    got = sorted(
        (r.user_id, r.s_start_us, r.s_end_us, r.n_events)
        for r in spark.read.parquet(out).where("user_id >= 0").collect()
    )
    assert got == [
        (1, t0 - 5 * MIN, t0 + 10 * MIN, 3),  # merged ACROSS the batch boundary
        (2, t0 - 40 * MIN, t0 - 40 * MIN, 1),  # closed by the event-time timer
    ]


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


# --- SemDeDup invariants ---


def test_semdedup_counts_consistent_and_nonzero(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.vectors_q import KM_K

    rows = load_all()["curation_semdedup"].fn(spark, SF0001).collect()
    assert 0 < len(rows) <= KM_K
    n_emb = pq.read_table(f"{SF0001}/embeddings.parquet").num_rows
    assert sum(r.n_members for r in rows) == n_emb
    for r in rows:
        assert r.n_kept == r.n_members - r.n_dropped
        assert 0 <= r.n_dropped < r.n_members  # at least one survivor per cluster


# --- deterministic random walks ---


def test_random_walks_match_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import RW_STEPS, RW_WALKERS

    li = pq.read_table(
        f"{SF0001}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    ).to_pylist()
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in pq.read_table(
            f"{SF0001}/orders.parquet", columns=["o_orderkey", "o_custkey"]
        ).to_pylist()
    }
    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in pq.read_table(
            f"{SF0001}/customer.parquet", columns=["c_custkey", "c_nationkey"]
        ).to_pylist()
    }
    supp = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in pq.read_table(
            f"{SF0001}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
        ).to_pylist()
    }
    edges = sorted(
        {(cust[orders[r["l_orderkey"]]], supp[r["l_suppkey"]]) for r in li}
    )
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)  # sorted by dst via the sorted edge set
    visits = Counter()
    for start in sorted(adj):
        for w in range(RW_WALKERS):
            cur = start
            for step in range(1, RW_STEPS + 1):
                if cur not in adj:
                    break
                nbrs = adj[cur]
                cur = nbrs[_md5_int(f"{cur}_{step}_{w}", "rwalk") % len(nbrs)]
                visits[cur] += 1
    got = {
        r.node: r.n_visits
        for r in load_all()["graph_random_walks"].fn(spark, SF0001).collect()
    }
    assert got == dict(visits)
