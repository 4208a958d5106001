"""Model-evaluation tests (`queries/ml_q.py`): ranking, calibration and
classification metrics replayed in plain Python.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from posting_lines_spark.functions.dmath import dln_int_py
from tests.conftest import SF0001, SF001, _events, _events_rows, _scored_001


def test_ml_auc_roc_matches_python(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(sf=SF001)
    scored = sorted(
        (round(r["value"] * 100), 1 if r["event_type"] == "purchase" else 0)
        for r in rows
    )
    # O(n log n) replay: walk scores ascending, count negatives below
    num2 = 0
    nn_below = 0
    from itertools import groupby

    P = sum(y for _, y in scored)
    N = len(scored) - P
    for _s, grp in groupby(scored, key=lambda t: t[0]):
        g = list(grp)
        np_ = sum(y for _, y in g)
        nn_ = len(g) - np_
        num2 += np_ * (2 * nn_below + nn_)
        nn_below += nn_
    want_auc = num2 / (2.0 * P * N)
    got = load_all()["ml_auc_roc"].fn(spark, SF001).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (P, N)
    assert got["auc"] == want_auc
    assert abs(got["gini"] - (2 * want_auc - 1)) < 1e-15


def test_ml_threshold_sweep_matches_python(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(sf=SF001)
    scored = [
        (round(r["value"] * 100), 1 if r["event_type"] == "purchase" else 0)
        for r in rows
    ]
    P = sum(y for _, y in scored)
    got = {r["thr"]: r for r in load_all()["ml_threshold_sweep"].fn(spark, SF001).collect()}
    assert sorted(got) == list(range(5000, 45001, 5000))
    for thr, r in got.items():
        tp = sum(y for s, y in scored if s >= thr)
        fp = sum(1 - y for s, y in scored if s >= thr)
        assert (r["tp"], r["fp"]) == (tp, fp)
        assert r["fn"] == P - tp
        assert r["recall_at_t"] == tp / P
        if tp + fp:
            assert r["precision_at_t"] == tp / (tp + fp)
            assert r["f1_at_t"] == 2 * tp / (tp + fp + P)


def test_ml_calibration_ece_matches_python(spark):
    from posting_lines_spark.queries import load_all

    rows = _events(sf=SF001)
    C = 50000
    bins: dict[int, list[int]] = {}
    for r in rows:
        s = round(r["value"] * 100)
        y = 1 if r["event_type"] == "purchase" else 0
        b = bins.setdefault(int(s // (C // 10)), [0, 0, 0])
        b[0] += 1
        b[1] += y
        b[2] += s
    n_total = sum(b[0] for b in bins.values())
    want_ece = sum(abs(C * b[1] - b[2]) for b in bins.values()) / (C * n_total)
    got = load_all()["ml_calibration_bins"].fn(spark, SF001).collect()
    assert len(got) == len(bins)
    for r in got:
        n, sy, sc = bins[r["bin"]]
        assert r["n_bin"] == n
        assert r["accuracy"] == sy / n
        assert r["confidence"] == sc / (n * C)
        assert abs(r["ece"] - want_ece) < 1e-15


_C = 50000


def _scored():
    return [
        (round(r["value"] * 100), 1 if r["event_type"] == "purchase" else 0)
        for r in _events(sf=SF001)
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
    for r in _events(sf=SF001):
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


def test_ml_pr_auc_matches_python(spark):
    """sklearn-convention average precision replay: thresholds at
    distinct scores descending, AP = Σ ΔR·P. The engine's decimal-
    routed term sum quantizes each term at 1e-6, so the tolerance is
    n_terms·5e-7/P above float noise."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    npn = {}
    for s, y in _scored_001():
        a, b = npn.get(s, (0, 0))
        npn[s] = (a + y, b + (1 - y))
    P = sum(a for a, _ in npn.values())
    ap = 0.0
    tp = fp = 0
    for s in sorted(npn, reverse=True):
        a, b = npn[s]
        tp += a
        fp += b
        if a:
            ap += (a / P) * (tp / (tp + fp))
    got = load_all()["ml_pr_auc"].fn(spark, SF001).collect()[0]
    assert got["n_pos"] == P
    tol = len(npn) * 5e-7 / P + 1e-9
    assert abs(got["average_precision"] - ap) < tol


def test_ml_brier_decomposition_identity(spark):
    """Murphy identity: reliability − resolution + uncertainty must
    equal ml_brier_score's BS (same corpus, same session)."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    d = reg["ml_brier_decomposition"].fn(spark, SF001).collect()[0]
    b = reg["ml_brier_score"].fn(spark, SF001).collect()[0]
    assert d["n"] == b["n"] and d["n_pos"] == b["n_pos"]
    # rel/res terms are 1e-6-quantized per distinct score; the identity
    # holds to that quantization
    n_terms_bound = d["n"]  # distinct scores ≤ n
    tol = 2 * min(n_terms_bound, 50000) * 5e-7 / d["n"] + 1e-9
    assert abs((d["reliability"] - d["resolution"] + d["uncertainty"]) - b["brier"]) < tol


def test_delong_matches_python(spark):
    """Per-observation DeLong replay (ungrouped structural components
    — mathematically identical to the engine's score-grouped form)."""
    import math

    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    scored = _scored_001()
    pos = sorted(s for s, y in scored if y == 1)
    neg = sorted(s for s, y in scored if y == 0)
    P, N = len(pos), len(neg)
    import bisect

    def v10(s):
        below = bisect.bisect_left(neg, s)
        ties = bisect.bisect_right(neg, s) - below
        return (below + 0.5 * ties) / N

    def v01(s):
        above = P - bisect.bisect_right(pos, s)
        ties = bisect.bisect_right(pos, s) - bisect.bisect_left(pos, s)
        return (above + 0.5 * ties) / P

    auc = sum(v10(s) for s in pos) / P
    s10 = sum((v10(s) - auc) ** 2 for s in pos) / (P - 1)
    s01 = sum((v01(s) - auc) ** 2 for s in neg) / (N - 1)
    se = math.sqrt(s10 / P + s01 / N)
    got = load_all()["ml_auc_delong_ci"].fn(spark, SF001).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (P, N)
    assert abs(got["auc"] - auc) < 1e-12
    tol = (P + N) * 5e-7 / min(P, N) + 1e-9
    assert abs(got["se_delong"] - se) < tol
    assert got["ci_lo"] < got["auc"] < got["ci_hi"]


def test_map_at_k_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.ml_q import MAP_K
    from tests.conftest import SF001

    import pyarrow.parquet as pq

    users = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        users.setdefault(r["user_id"], []).append(
            (-round(r["value"] * 100), r["event_id"],
             1 if r["event_type"] == "purchase" else 0)
        )
    aps = []
    for evs in users.values():
        evs.sort()
        npos_total = sum(y for _, _, y in evs)
        if npos_total == 0:
            continue
        top = [y for _, _, y in evs[:MAP_K]]
        hits = 0
        ap = 0.0
        for i, y in enumerate(top, 1):
            if y:
                hits += 1
                ap += hits / i
        aps.append(ap / min(MAP_K, npos_total))
    want = sum(aps) / len(aps)
    got = load_all()["ml_map_at_k"].fn(spark, SF001).collect()[0]
    assert got["users_with_pos"] == len(aps)
    assert abs(got["map_at_k"] - want) < 1e-7


def test_map_at_k_standard_normalization(spark):
    """A user whose relevant items mostly sit OUTSIDE the top-K must not
    score AP=1.0 from one rank-1 hit: the divisor is min(K, total
    positives), and zero-hit users with positives still count (AP=0)."""
    from posting_lines_spark.queries.ml_q import MAP_K, _map_sql

    import duckdb

    con = duckdb.connect()
    # user 1: 1 hit at rank 1, but 30 relevant total -> AP = 1/min(K,30)
    # user 2: positives only at ranks K+1.. -> AP = 0, still in the mean
    rows = []
    for rnk in range(1, 61):
        rows.append((1, rnk, 1 if (rnk == 1 or rnk > 30) else 0))
    for rnk in range(1, 61):
        rows.append((2, rnk, 1 if rnk > MAP_K else 0))
    con.execute("CREATE TABLE ranked(user_id BIGINT, rnk BIGINT, y BIGINT)")
    con.executemany("INSERT INTO ranked VALUES (?, ?, ?)", rows)
    sql = _map_sql()
    # swap the events-derived ranking for the synthetic one
    head, _, tail = sql.partition("),\nnp AS (")
    sql = "WITH r AS (SELECT user_id, rnk, y FROM ranked),\nnp AS (" + tail
    got = con.execute(sql).fetchone()
    con.close()
    ap1 = 1.0 / MAP_K  # min(K, 30) = K
    ap2 = 0.0
    assert got[0] == 2
    assert abs(got[1] - (ap1 + ap2) / 2) < 1e-12


def test_fairness_parity_matches_python(spark):
    """Per-cohort confusion counts and all derived rates/gaps replayed
    from the raw rows."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.ml_q import FAIR_GROUPS, FAIR_TAU, _POS

    agg = {g: [0, 0, 0, 0, 0] for g in range(FAIR_GROUPS)}  # n,pos,pred,tp,fp
    for r in _events_rows():
        g = r["user_id"] % FAIR_GROUPS
        y = 1 if r["event_type"] == _POS else 0
        pred = 1 if r["cents"] >= FAIR_TAU else 0
        a = agg[g]
        a[0] += 1
        a[1] += y
        a[2] += pred
        a[3] += pred & y
        a[4] += pred & (1 - y)
    rates = {
        g: (
            a[1] / a[0],
            a[2] / a[0],
            a[3] / a[1] if a[1] else None,
            a[4] / (a[0] - a[1]) if a[0] - a[1] else None,
        )
        for g, a in agg.items()
    }
    max_ppr = max(v[1] for v in rates.values())
    max_tpr = max(v[2] for v in rates.values())
    min_fpr = min(v[3] for v in rates.values())

    rows = sorted(
        load_all()["ml_fairness_parity"].fn(spark, SF0001).collect(), key=lambda r: r["grp"]
    )
    assert [r["grp"] for r in rows] == list(range(FAIR_GROUPS))
    for row in rows:
        a = agg[row["grp"]]
        prev, ppr, tpr, fpr = rates[row["grp"]]
        assert (row["n"], row["n_pos"], row["pred_pos"]) == (a[0], a[1], a[2])
        assert abs(row["prevalence"] - prev) < 1e-15
        assert abs(row["ppr"] - ppr) < 1e-15
        assert abs(row["tpr"] - tpr) < 1e-15
        assert abs(row["fpr"] - fpr) < 1e-15
        assert abs(row["dp_ratio"] - ppr / max_ppr) < 1e-15
        assert abs(row["eo_tpr_gap"] - (max_tpr - tpr)) < 1e-15
        assert abs(row["eo_fpr_gap"] - (fpr - min_fpr)) < 1e-15
    # non-vacuous: groups actually differ
    assert any(r["dp_ratio"] < 1.0 - 1e-9 for r in rows)


def test_survival_cindex_matches_python(spark):
    """Brute-force every comparable pair from the raw rows (the grid
    dominance sums must equal the O(n²) census)."""
    from posting_lines_spark.queries import load_all

    users = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        u = users.setdefault(
            r["user_id"], {"s": None, "last": day, "p": None, "clicks": []}
        )
        u["last"] = max(u["last"], day)
        if r["event_type"] == "signup":
            u["s"] = day if u["s"] is None else min(u["s"], day)
        users[r["user_id"]].setdefault("evs", []).append(
            (r["event_type"], day)
        )
    obs = []
    for u in users.values():
        if u["s"] is None:
            continue
        p_days = [d for et, d in u["evs"] if et == "purchase" and d >= u["s"]]
        clicks = sum(
            1 for et, d in u["evs"] if et == "click" and d >= u["s"]
        )
        if p_days:
            obs.append((min(p_days) - u["s"], 1, clicks))
        else:
            obs.append((u["last"] - u["s"], 0, clicks))
    conc = disc = ties = 0
    for ta, da, sa in obs:
        if da != 1:
            continue
        for tb, db, sb in obs:
            if not (tb > ta or (tb == ta and db == 0)):
                continue
            if sa > sb:
                conc += 1
            elif sa < sb:
                disc += 1
            else:
                ties += 1
    got = load_all()["ml_survival_cindex"].fn(spark, SF0001).collect()[0]
    assert got["n_users"] == len(obs)
    assert got["n_events"] == sum(1 for _, d, _s in obs if d == 1)
    assert (got["conc"], got["disc"], got["ties_score"]) == (
        float(conc), float(disc), float(ties)
    )
    want_c = (conc + 0.5 * ties) / (conc + disc + ties)
    assert abs(got["c_index"] - want_c) < 1e-12
    assert conc and disc and ties  # all three pair classes non-vacuous
