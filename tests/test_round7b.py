"""Round-7 second-wave replay tests: ranking/probabilistic model
evaluation (log loss, Brier, lift/gains, MRR, NDCG), agreement and
drift statistics (Cohen's kappa, TV/Hellinger/JS), lagged
cross-correlation, and personalized PageRank.

Each test is an INDEPENDENT pure-Python replay against the same
parquet (the test_round7.py discipline) — not a re-run of the SQL.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from datetime import datetime

import pyarrow.parquet as pq

from posting_lines_spark.functions.dmath import dln_int_py
from tests.conftest import SF001

_C = 50000


def _events():
    return pq.read_table(SF001 + "/events.parquet").to_pylist()


def _scored():
    return [
        (round(r["value"] * 100), 1 if r["event_type"] == "purchase" else 0)
        for r in _events()
    ]


def test_ml_log_loss_matches_python(spark):
    from posting_lines_spark.queries import load_all

    per_s: Counter = Counter()
    for s, y in _scored():
        s = max(1, min(_C - 1, s))
        per_s[(s, y)] += 1
    ln_c = dln_int_py(_C)
    total = 0.0
    n = 0
    for (s, y), c in sorted(per_s.items()):
        term = ln_c - dln_int_py(s) if y == 1 else ln_c - dln_int_py(_C - s)
        total += c * term
        n += c
    want = total / n
    got = load_all()["ml_log_loss"].fn(spark, SF001).collect()[0]
    assert got["n"] == n
    assert abs(got["log_loss_nats"] - want) < 1e-6
    assert got["log_loss_nats"] > 0


def test_ml_brier_matches_python(spark):
    from posting_lines_spark.queries import load_all

    sc = _scored()
    n = len(sc)
    p = sum(y for _, y in sc)
    ssq = sum((s - _C * y) ** 2 for s, y in sc)
    brier = float(ssq) / (float(n) * float(_C * _C))
    ref = (p / n) * (1.0 - p / n)
    got = load_all()["ml_brier_score"].fn(spark, SF001).collect()[0]
    assert (got["n"], got["n_pos"]) == (n, p)
    assert got["brier"] == brier
    assert abs(got["brier_ref"] - ref) < 1e-15
    assert abs(got["brier_skill"] - (1.0 - brier / ref)) < 1e-12


def test_ml_lift_gains_matches_python(spark):
    from posting_lines_spark.queries import load_all

    per_s: dict[int, list[int]] = defaultdict(lambda: [0, 0])  # s -> [np, n]
    for s, y in _scored():
        per_s[s][0] += y
        per_s[s][1] += 1
    n_all = sum(v[1] for v in per_s.values())
    p_all = sum(v[0] for v in per_s.values())
    run_n = 0
    dec: dict[int, list[int]] = defaultdict(lambda: [0, 0])  # decile -> [pos, rows]
    for s in sorted(per_s, reverse=True):  # score descending
        np_, nn_ = per_s[s]
        d = int(math.floor((10.0 * float(run_n)) / float(n_all)))
        dec[d][0] += np_
        dec[d][1] += nn_
        run_n += nn_
    got = {r["decile"]: r for r in load_all()["ml_lift_gains"].fn(spark, SF001).collect()}
    assert set(got) == set(dec)
    pos_cum = rows_cum = 0
    for d in sorted(dec):
        pos_cum += dec[d][0]
        rows_cum += dec[d][1]
        r = got[d]
        assert (r["pos_d"], r["rows_d"]) == tuple(dec[d])
        assert (r["pos_cum"], r["rows_cum"]) == (pos_cum, rows_cum)
        assert r["gain"] == float(pos_cum) / float(p_all)
    # the last decile captures everything
    last = got[max(got)]
    assert last["pos_cum"] == p_all and last["rows_cum"] == n_all
    assert last["gain"] == 1.0


def _ranked_users():
    by_user: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    for r in _events():
        s = round(r["value"] * 100)
        y = 1 if r["event_type"] == "purchase" else 0
        by_user[r["user_id"]].append((s, r["event_id"], y))
    out = {}
    for u, evs in by_user.items():
        evs.sort(key=lambda t: (-t[0], t[1]))
        out[u] = evs
    return out


def test_ml_mrr_matches_python(spark):
    from posting_lines_spark.queries import load_all

    users = _ranked_users()
    rrs = []
    for evs in users.values():
        fr = next((i + 1 for i, (_, _, y) in enumerate(evs) if y == 1), None)
        if fr is not None:
            rrs.append(1.0 / fr)
    got = load_all()["ml_mrr"].fn(spark, SF001).collect()[0]
    assert got["users_total"] == len(users)
    assert got["users_with_pos"] == len(rrs)
    assert abs(got["mrr_hit"] - sum(rrs) / len(rrs)) < 1e-9
    assert abs(got["mrr_all"] - sum(rrs) / len(users)) < 1e-9


def test_ml_ndcg_matches_python(spark):
    from posting_lines_spark.queries import load_all

    K = 10
    disc = [round(1e12 / math.log2(1 + r)) for r in range(1, K + 1)]
    ideal = [sum(disc[:p]) for p in range(1, K + 1)]
    vals = []
    for evs in _ranked_users().values():
        pos = sum(y for _, _, y in evs)
        if pos == 0:
            continue
        dcg = sum(disc[i] for i, (_, _, y) in enumerate(evs[:K]) if y == 1)
        vals.append(float(dcg) / float(ideal[min(K, pos) - 1]))
    got = load_all()["ml_ndcg_at_k"].fn(spark, SF001).collect()[0]
    assert got["users_evaluated"] == len(vals)
    assert abs(got["mean_ndcg_at_10"] - sum(vals) / len(vals)) < 1e-9
    assert 0.0 < got["mean_ndcg_at_10"] <= 1.0


def test_cohens_kappa_matches_python(spark):
    from posting_lines_spark.queries import load_all

    cells: Counter = Counter()
    for r in _events():
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
    for r in _events():
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


def test_xcorr_matches_python(spark):
    from posting_lines_spark.queries import load_all

    epoch = datetime(1970, 1, 1)
    daily: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in _events():
        if r["event_type"] not in ("view", "purchase"):
            continue
        us = (r["ts"] - epoch).days * 86400000000 + (
            (r["ts"] - epoch).seconds * 1000000 + (r["ts"] - epoch).microseconds
        )
        d = int(math.floor(us / 86400000000.0))
        daily[d][0 if r["event_type"] == "view" else 1] += 1
    got = {r["lag"]: r for r in load_all()["timeseries_cross_correlation"].fn(spark, SF001).collect()}
    assert set(got) == set(range(-7, 8))
    for lag in range(-7, 8):
        pairs = [
            (daily[d][0], daily[d + lag][1]) for d in sorted(daily) if d + lag in daily
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        den = math.sqrt(float(n) * float(sxx) - float(sx) * float(sx)) * math.sqrt(
            float(n) * float(syy) - float(sy) * float(sy)
        )
        want = (float(n) * float(sxy) - float(sx) * float(sy)) / den
        r = got[lag]
        assert r["n_days"] == n
        assert abs(r["xcorr"] - want) < 1e-12
        assert -1.0 <= r["xcorr"] <= 1.0


def test_personalized_pagerank_matches_integer_replay(spark):
    """Operator vs a pure-Python replay of the seeded fixed-point
    recurrence on a hand graph (seed = node 1 only)."""
    from posting_lines_spark.operators.graph import PR_SCALE, pagerank

    edges = [(1, 2, 1), (2, 3, 2), (3, 1, 1), (2, 1, 1), (4, 1, 3)]
    seeds = [1]
    iters = 3
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    outw = Counter()
    for u, _, w in edges:
        outw[u] += w
    k = len(seeds)
    tp = {v: (15 * PR_SCALE) // (100 * k) if v in seeds else 0 for v in nodes}
    rank = {v: PR_SCALE // k if v in seeds else 0 for v in nodes}
    for _ in range(iters):
        inflow = Counter()
        for u, v, w in edges:
            r, o = rank[u], outw[u]
            inflow[v] += (r // o) * w + ((r % o) * w) // o
        rank = {v: tp[v] + (85 * inflow[v]) // 100 for v in nodes}
    e_df = spark.createDataFrame(edges, "src long, dst long, w long")
    s_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e_df, iters=iters, seeds=s_df).collect()
    }
    assert got == rank
    # seed holds the bulk of the mass; off-graph behavior: every node
    # reachable from the seed carries rank, node 4 (no inflow) carries 0
    assert got[1] == max(got.values())
    assert got[4] == 0


def test_ml_ks_separation_matches_python(spark):
    from posting_lines_spark.queries import load_all

    per_s: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for s, y in _scored():
        per_s[s][y] += 1  # [nn, np] indexed by y
    P = sum(v[1] for v in per_s.values())
    N = sum(v[0] for v in per_s.values())
    run_np = run_nn = 0
    best = (-1.0, None)
    for s in sorted(per_s):
        run_nn += per_s[s][0]
        run_np += per_s[s][1]
        d = abs(run_np / P - run_nn / N)
        if d > best[0]:
            best = (d, s)
    got = load_all()["ml_ks_separation"].fn(spark, SF001).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (P, N)
    assert got["ks_stat"] == best[0]
    assert got["ks_at_score"] == best[1]
    assert 0.0 <= got["ks_stat"] <= 1.0


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
        for r in _events()
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


def test_bloom_fpr_audit_matches_python(spark):
    import hashlib

    from posting_lines_spark.queries import load_all

    M = 1 << 16
    rows = pq.read_table(SF001 + "/customer.parquet").to_pylist()

    def pos2(key: str) -> tuple[int, int]:
        return tuple(
            int(hashlib.md5(f"bloom|{key}".encode()).hexdigest()[1 + s * 15 - 1 : 15 + s * 15], 16) % M
            for s in (0, 1)
        )

    bits: set[int] = set()
    n_members = 0
    for r in rows:
        if r["c_mktsegment"] == "BUILDING":
            n_members += 1
            bits.update(pos2(str(r["c_custkey"])))
    fp = n_probes = 0
    for r in rows:
        if r["c_mktsegment"] != "BUILDING":
            n_probes += 1
            h0, h1 = pos2(str(r["c_custkey"]))
            if h0 in bits and h1 in bits:
                fp += 1
    got = load_all()["sketch_bloom_fpr_audit"].fn(spark, SF001).collect()[0]
    assert got["n_members"] == n_members
    assert got["n_probes"] == n_probes
    assert got["bits_set"] == len(bits)
    assert got["false_pos"] == fp
    assert got["observed_fpr"] == fp / n_probes
    # measured FPR should be in the ballpark of the load prediction
    load = (len(bits) / M) ** 2
    assert abs(got["load_fpr"] - load) < 1e-12


def test_harmonic_centrality_matches_python(spark):
    """BFS replay on the edge list the query itself derives (read via
    DuckDB, walked with a plain dict BFS)."""
    import duckdb

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import _PR_EDGES, HC_MAX_D

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF001}/{t}.parquet')"
        )
    edges = con.execute(
        f"SELECT DISTINCT src, dst FROM ({_PR_EDGES}) e WHERE src <> dst"
    ).fetchall()
    con.close()
    adj: dict[int, list[int]] = defaultdict(list)
    nodes = set()
    for s, d, *_ in [(*e, None) for e in edges]:
        adj[s].append(d)
        nodes.update((s, d))
    want = {}
    for v in nodes:
        dist = {v: 0}
        frontier = [v]
        d = 0
        while frontier and d < HC_MAX_D:
            d += 1
            nxt = []
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in dist:
                        dist[w] = d
                        nxt.append(w)
            frontier = nxt
        reached = {u: dd for u, dd in dist.items() if u != v}
        h_fp = sum(60 // dd for dd in reached.values())
        want[v] = (len(reached), h_fp)
    got = {
        r["node"]: (r["n_reached"], r["h_fp"], r["harmonic"])
        for r in load_all()["graph_harmonic_centrality"].fn(spark, SF001).collect()
    }
    assert set(got) == nodes
    for v in nodes:
        assert got[v][:2] == want[v], v
        assert got[v][2] == want[v][1] / 60.0


def test_mann_kendall_matches_python(spark):
    from fractions import Fraction

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    rows = pq.read_table(f"{SF0001}/events.parquet").to_pylist()
    acc: dict[tuple[str, int], list] = defaultdict(lambda: [Fraction(0), 0])
    for r in rows:
        day = math.floor((r["ts"].timestamp() * 1e6) / 86400000000.0)
        key = (r["event_type"], day)
        acc[key][0] += Fraction(round(r["value"] * 100), 100)
        acc[key][1] += 1
    series: dict[str, list] = defaultdict(list)
    for (et, day), (s, n) in acc.items():
        series[et].append((day, float(s) / n))
    got = {
        r["event_type"]: r
        for r in load_all()["timeseries_mann_kendall"].fn(spark, SF0001).collect()
    }
    assert set(got) == set(series)
    for et, pts in series.items():
        vs = [v for _, v in sorted(pts)]
        n = len(vs)
        s_stat = sum(
            (1 if vs[j] > vs[i] else -1 if vs[j] < vs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie18 = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(vs).values()
            if t > 1
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        num = float(s_stat - 1) if s_stat > 0 else float(s_stat + 1) if s_stat < 0 else 0.0
        want_z = num / math.sqrt(var18 / 18.0) if s_stat != 0 else 0.0
        r = got[et]
        assert (r["n_days"], r["s_stat"], r["var18"]) == (n, s_stat, var18)
        assert r["z_mk"] == want_z


def test_langid_agreement_matches_python(spark):
    from decimal import ROUND_HALF_UP, Decimal

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import MARKERS, NB_LANGS
    from tests.conftest import SF0001

    docs = pq.read_table(f"{SF0001}/documents.parquet").to_pylist()

    # NB predictions (the test_seventhwave replay, per doc)
    cnt: dict[str, Counter] = {g: Counter() for g in NB_LANGS}
    nd = Counter()
    for d in docs:
        nd[d["lang"]] += 1
        cnt[d["lang"]].update(d["text"].split(" "))
    vocab = set()
    for c in cnt.values():
        vocab |= set(c)
    v, ntot = len(vocab), sum(nd.values())
    tot = {g: sum(cnt[g].values()) for g in NB_LANGS}
    q3 = Decimal("0.001")

    def nb_pred(text: str) -> str:
        toks = Counter(text.split(" "))
        n_tok = sum(toks.values())
        scores = {}
        for g in NB_LANGS:
            s = float(
                sum(
                    Decimal(repr(c * math.log(cnt[g][t] + 1))).quantize(
                        q3, rounding=ROUND_HALF_UP
                    )
                    for t, c in toks.items()
                )
            )
            scores[g] = (
                math.log(nd[g]) - math.log(ntot) + s - n_tok * math.log(tot[g] + v)
            )
        for g in NB_LANGS:
            if scores[g] >= max(sc for h, sc in scores.items() if h != g):
                return g
        return NB_LANGS[-1]

    def heur_pred(text: str) -> str:
        toks = text.split(" ")
        score = {g: sum(1 for t in toks if t in MARKERS[g]) for g in MARKERS}
        langs = list(MARKERS)
        for i, g in enumerate(langs[:-1]):
            if all(score[g] >= score[h] for h in langs[i + 1 :]):
                return g
        return langs[-1]

    cells = Counter()
    for d in docs:
        cells[(nb_pred(d["text"]), heur_pred(d["text"]))] += 1
    n = sum(cells.values())
    agree = sum(c for (a, b), c in cells.items() if a == b)
    rm, cm = Counter(), Counter()
    for (a, b), c in cells.items():
        rm[a] += c
        cm[b] += c
    src = float(sum(rm[k] * cm[k] for k in rm if k in cm))
    got = load_all()["text_langid_agreement"].fn(spark, SF0001).collect()[0]
    assert (got["n"], got["agree"]) == (n, agree)
    assert got["po"] == agree / n
    want_kappa = (float(agree) * float(n) - src) / (float(n) * float(n) - src)
    assert abs(got["kappa"] - want_kappa) < 1e-12


def test_bpe_merge_rounds_matches_python(spark):
    """Pure-Python BPE trainer (Sennrich alg. 1 on distinct words with
    frequencies, greedy left-to-right non-overlapping merge) vs the
    engine's 3 unrolled rounds."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import BPE_ROUNDS
    from tests.conftest import SF0001

    docs = pq.read_table(f"{SF0001}/documents.parquet").to_pylist()
    freq: Counter = Counter()
    for d in docs:
        for w in d["text"].split(" "):
            if len(w) >= 2 and "|" not in w:
                freq[w] += 1
    seqs = {w: tuple(w) for w in freq}  # word -> symbol tuple
    want = []
    for k in range(1, BPE_ROUNDS + 1):
        pairs: Counter = Counter()
        for w, syms in seqs.items():
            f = freq[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        (pa, pb), n = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]}|{kv[0][1]}")
        )
        want.append((k, f"{pa}|{pb}", n))
        merged = pa + pb
        new_seqs = {}
        for w, syms in seqs.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    out.append(merged)
                    i += 2  # greedy non-overlapping, left to right
                else:
                    out.append(syms[i])
                    i += 1
            new_seqs[w] = tuple(out)
        seqs = new_seqs
    got = sorted(
        (r["round"], r["merged_pair"], r["n_occ"])
        for r in load_all()["text_bpe_merge_rounds"].fn(spark, SF0001).collect()
    )
    assert got == want


def test_confusion_at_threshold_matches_python(spark):
    from posting_lines_spark.queries import load_all

    T = 25000
    tp = fp = fn = tn = 0
    for s, y in _scored():
        if s >= T:
            tp, fp = tp + y, fp + (1 - y)
        else:
            fn, tn = fn + y, tn + (1 - y)
    got = load_all()["ml_confusion_at_threshold"].fn(spark, SF001).collect()[0]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
    assert got["accuracy"] == (tp + tn) / (tp + fp + fn + tn)
    tpr, tnr = tp / (tp + fn), tn / (tn + fp)
    assert abs(got["balanced_accuracy"] - (tpr + tnr) / 2) < 1e-15
    assert abs(got["youden_j"] - (tpr + tnr - 1)) < 1e-15
    mcc = (float(tp) * tn - float(fp) * fn) / (
        math.sqrt(tp + fp) * math.sqrt(tp + fn) * math.sqrt(tn + fp) * math.sqrt(tn + fn)
    )
    assert abs(got["mcc"] - mcc) < 1e-15
    assert -1.0 <= got["mcc"] <= 1.0


def test_isotonic_calibration_matches_sequential_pav(spark):
    """The minimax closed form in the query vs an INDEPENDENT
    sequential stack-based pool-adjacent-violators implementation."""
    from posting_lines_spark.queries import load_all

    bins: dict[int, list[int]] = defaultdict(lambda: [0, 0])  # bin -> [n, sum_y]
    for s, y in _scored():
        b = int(math.floor(s / 5000.0))
        bins[b][0] += 1
        bins[b][1] += y
    order = sorted(bins)
    stack: list[list[int]] = []  # blocks of [sum_n, sum_y, n_bins]
    for b in order:
        n, sy = bins[b]
        stack.append([n, sy, 1])
        while len(stack) > 1 and (
            stack[-1][1] * stack[-2][0] < stack[-2][1] * stack[-1][0]
        ):  # mean(top) < mean(prev): integer cross-multiply, no float
            n2, y2, c2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += y2
            stack[-1][2] += c2
        # merged means are non-decreasing now
    want = {}
    i = 0
    for blk in stack:
        mean = float(blk[1]) / float(blk[0])
        for _ in range(blk[2]):
            want[order[i]] = mean
            i += 1
    got = {
        r["bin"]: r
        for r in load_all()["ml_isotonic_calibration"].fn(spark, SF001).collect()
    }
    assert set(got) == set(order)
    prev = -1.0
    for b in order:
        r = got[b]
        assert (r["n_bin"]) == bins[b][0]
        assert r["raw_accuracy"] == bins[b][1] / bins[b][0]
        assert abs(r["isotonic_accuracy"] - want[b]) < 1e-12, b
        assert r["isotonic_accuracy"] >= prev - 1e-15  # monotone fit
        prev = r["isotonic_accuracy"]


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
    for r in _events():
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
