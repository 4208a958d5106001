"""Independent Python replays for the sixth-wave operators (winnowing,
KS test, label propagation, k-core, seasonal decomposition, k-anonymity,
distributed running sums) — same policy as test_fifthwave: each expected
result is re-derived from raw parquet with plain Python so correctness
does not rest on the shared-SQL oracle alone."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from tests.conftest import SF0001


def _md5_int(s: str, salt: str) -> int:
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:15], 16)


# --- winnowing ---


def _winnow_expected(text: str, k: int, w: int) -> set[tuple[int, int]]:
    toks = text.split(" ")
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [_md5_int(g, "wn") for g in grams]
    n = len(grams)
    out = set()
    for t in range(w - 1, n):  # 0-based window end
        window = [(hs[p], -p) for p in range(t - w + 1, t + 1)]
        h, negp = min(window)
        out.add((-negp + 1, h))  # 1-based pos
    return out


def test_winnow_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import WNW_K, WNW_W

    docs = pq.read_table(f"{SF0001}/documents.parquet").to_pylist()
    expected = set()
    for d in docs:
        for pos, h in _winnow_expected(d["text"], WNW_K, WNW_W):
            expected.add((d["doc_id"], pos, h))
    got = {
        (r.doc_id, r.pos, r.fingerprint)
        for r in load_all()["text_winnow_fingerprint"].fn(spark, SF0001).collect()
    }
    assert got == expected
    # density sanity: guarantee bound says ~2/(w+1) of k-grams selected
    n_grams = sum(max(len(d["text"].split(" ")) - WNW_K + 1, 0) for d in docs)
    assert 0 < len(got) < n_grams


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


# --- label propagation ---


def test_lpa_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import LPA_ROUNDS

    li = pq.read_table(f"{SF0001}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]).to_pylist()
    by_order = defaultdict(list)
    for r in li:
        by_order[r["l_orderkey"]].append(r["l_partkey"])
    w = Counter()
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a < b:
                    w[(a, b)] += 1
    adj = defaultdict(dict)
    for (a, b), wt in w.items():
        adj[a][b] = adj[a].get(b, 0) + wt
        adj[b][a] = adj[b].get(a, 0) + wt
    label = {n: n for n in adj}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for node, nbrs in adj.items():
            votes = defaultdict(int)
            for nbr, wt in nbrs.items():
                votes[label[nbr]] += wt
            nxt[node] = min(votes, key=lambda lb: (-votes[lb], lb))
        label = nxt
    comm = defaultdict(list)
    for node, lb in label.items():
        comm[lb].append(node)
    expected = {
        lb: (len(ns), min(ns), max(ns)) for lb, ns in comm.items()
    }
    got = {
        r.community: (r.n_members, r.min_node, r.max_node)
        for r in load_all()["graph_label_propagation"].fn(spark, SF0001).collect()
    }
    assert got == expected


# --- k-core ---


def test_kcore_matches_python_peel_to_convergence(spark):
    """Python peels to the true fixpoint; Spark runs KCORE_ROUNDS fixed
    rounds — equality proves KCORE_ROUNDS suffices (convergence) AND the
    per-round semantics match."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import KCORE_K, _spark_pairs

    pairs = [(r.id_a, r.id_b) for r in _spark_pairs(spark, SF0001).collect()]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    while True:
        drop = {n for n in alive if sum(1 for m in adj[n] if m in alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    expected = {
        n: sum(1 for m in adj[n] if m in alive) for n in alive
    }
    got = {
        r.node: r.core_degree
        for r in load_all()["graph_kcore"].fn(spark, SF0001).collect()
    }
    assert got == expected


# --- seasonal decomposition ---


def test_seasonal_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import SEASONAL_WIN

    width = 2 * SEASONAL_WIN + 1
    ev = pq.read_table(f"{SF0001}/events.parquet", columns=["event_type", "ts"]).to_pylist()
    cnt = Counter()
    for r in ev:
        b = (r["ts"].timestamp() * 1_000_000) // 3_600_000_000
        cnt[(r["event_type"], int(b))] += 1
    types = {t for t, _ in cnt}
    expected = {}
    season_num, season_cnt = defaultdict(int), defaultdict(int)
    det = []
    for t in types:
        buckets = [b for tt, b in cnt if tt == t]
        lo, hi = min(buckets), max(buckets)
        series = {b: cnt.get((t, b), 0) for b in range(lo, hi + 1)}
        for b in range(lo + SEASONAL_WIN, hi - SEASONAL_WIN + 1):
            win_sum = sum(series[x] for x in range(b - SEASONAL_WIN, b + SEASONAL_WIN + 1))
            dscaled = width * series[b] - win_sum
            hod = b % 24
            season_num[(t, hod)] += dscaled
            season_cnt[(t, hod)] += 1
            det.append((t, b, series[b], win_sum, hod))
    for t, b, n, win_sum, hod in det:
        trend = float(win_sum) / float(width)
        seasonal = float(season_num[(t, hod)]) / (float(width) * season_cnt[(t, hod)])
        residual = (float(n) - trend) - seasonal
        expected[(t, b)] = (n, trend, seasonal, residual)
    got = {
        (r.event_type, r.bucket): (r.n_events, r.trend, r.seasonal, r.residual)
        for r in load_all()["timeseries_seasonal_decompose"].fn(spark, SF0001).collect()
    }
    assert got == expected  # bit-exact: all-integer internals, single divisions


# --- k-anonymity ---


def test_k_anonymity_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import K_ANON

    cust = pq.read_table(f"{SF0001}/customer.parquet").to_pylist()
    classes = Counter()
    for r in cust:
        band = math.floor(float(r["c_acctbal"]) / 1.0e3)
        classes[(r["c_nationkey"], r["c_mktsegment"], band)] += 1
    per_nation = defaultdict(lambda: [0, 0, 0, 0, 1 << 60])  # classes, small, rows, at_risk, min
    for (nk, _seg, _band), sz in classes.items():
        p = per_nation[nk]
        p[0] += 1
        p[1] += 1 if sz < K_ANON else 0
        p[2] += sz
        p[3] += sz if sz < K_ANON else 0
        p[4] = min(p[4], sz)
    got = {
        r.c_nationkey: (
            r.n_classes, r.n_small_classes, r.n_rows, r.rows_at_risk,
            r.risk_rate, r.min_class_size,
        )
        for r in load_all()["privacy_k_anonymity"].fn(spark, SF0001).collect()
    }
    expected = {
        nk: (p[0], p[1], p[2], p[3], float(p[3]) / p[2], p[4])
        for nk, p in per_nation.items()
    }
    assert got == expected


# --- distributed running sums ---


def test_global_running_sums_matches_sequential(spark):
    import random

    from posting_lines_spark.operators.ranking import global_running_sums

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 5), rng.randint(-3, 3)) for i in range(1000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["k", "a", "b"]).repartition(8)
    out = {
        r.k: (r.run_a, r.run_b)
        for r in global_running_sums(df, ["k"], ["a", "b"]).collect()
    }
    ca = cb = 0
    for k, a, b in sorted(rows):
        ca += a
        cb += b
        assert out[k] == (ca, cb)


# --- BPE pair counts ---


def test_bpe_pairs_match_bruteforce(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import BPE_TOP

    docs = pq.read_table(f"{SF0001}/documents.parquet", columns=["text"]).to_pylist()
    words = Counter()
    for d in docs:
        for w in d["text"].split(" "):
            if len(w) >= 2:
                words[w] += 1
    pairs = Counter()
    for w, freq in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += freq
    expected = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP]
    got = [
        (r.pair, r.n_occurrences)
        for r in load_all()["text_bpe_pair_counts"].fn(spark, SF0001).collect()
    ]
    assert got == expected


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


# --- Benford digit audit ---


def test_benford_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all

    orders = pq.read_table(f"{SF0001}/orders.parquet", columns=["o_totalprice"]).to_pylist()
    digits = Counter()
    for r in orders:
        p = r["o_totalprice"]
        if p > 0:
            digits[f"{p:.2f}"[0]] += 1
    n = sum(digits.values())
    got = {
        r.first_digit: (r.n_obs, r.n_total, r.p_obs, r.p_benford, r.chi2_contribution)
        for r in load_all()["dq_benford_digits"].fn(spark, SF0001).collect()
    }
    assert set(got) == set(digits)
    for d, cnt in digits.items():
        n_obs, n_total, p_obs, p_exp, chi2c = got[d]
        assert (n_obs, n_total) == (cnt, n)
        assert p_obs == cnt / n
        assert p_exp == math.log10(1 + 1 / int(d))
        assert chi2c == float(n) * (cnt / n - p_exp) * (cnt / n - p_exp) / p_exp


# --- skew Gini audit ---


def test_gini_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all

    orders = pq.read_table(f"{SF0001}/orders.parquet", columns=["o_custkey"]).to_pylist()
    freq = Counter(r["o_custkey"] for r in orders)
    ranked = sorted(freq.items(), key=lambda kv: (kv[1], kv[0]))
    n_keys = len(ranked)
    n_rows = sum(freq.values())
    s = sum((i + 1) * f for i, (_, f) in enumerate(ranked))
    row = load_all()["dq_skew_gini"].fn(spark, SF0001).collect()[0]
    assert (row.n_keys, row.n_rows, row.max_freq) == (n_keys, n_rows, max(freq.values()))
    assert row.top_key_share == float(max(freq.values())) / n_rows
    assert row.gini == (2.0 * s) / (float(n_keys) * n_rows) - float(n_keys + 1) / n_keys
    assert 0.0 <= row.gini < 1.0


# --- CUSUM change-point ---


def test_cusum_matches_bruteforce(spark):
    from posting_lines_spark.queries import load_all

    ev = pq.read_table(f"{SF0001}/events.parquet", columns=["event_type", "ts"]).to_pylist()
    cnt = Counter()
    for r in ev:
        b = int((r["ts"].timestamp() * 1_000_000) // 3_600_000_000)
        cnt[(r["event_type"], b)] += 1
    expected = {}
    for t in {k for k, _ in cnt}:
        buckets = [b for tt, b in cnt if tt == t]
        lo, hi = min(buckets), max(buckets)
        series = [cnt.get((t, b), 0) for b in range(lo, hi + 1)]
        n_buckets, n_total = len(series), sum(series)
        prefix = 0
        best = None  # (-abs, bucket) min
        for i, n in enumerate(series):
            prefix += n
            c_scaled = n_buckets * prefix - (i + 1) * n_total
            key = (-abs(c_scaled), lo + i)
            if best is None or key < best[0]:
                best = (key, i + 1, c_scaled)
        _, t_at, c_at = best
        expected[t] = (n_buckets, n_total, lo + t_at - 1, t_at, float(c_at) / n_buckets)
    got = {
        r.event_type: (r.n_buckets, r.n_total, r.change_bucket, r.t_at_change, r.cusum_at_change)
        for r in load_all()["timeseries_changepoint_cusum"].fn(spark, SF0001).collect()
    }
    assert got == expected


# --- PMI collocations ---


def test_pmi_matches_bruteforce(spark):
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import PMI_MIN_COUNT, PMI_TOP

    docs = pq.read_table(f"{SF0001}/documents.parquet", columns=["text"]).to_pylist()
    big = Counter()
    for d in docs:
        toks = d["text"].split(" ")
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    left, right = Counter(), Counter()
    for (a, b), c in big.items():
        left[a] += c
        right[b] += c
    tt = sum(big.values())
    rows = []
    for (a, b), c in big.items():
        if c >= PMI_MIN_COUNT:
            pmi = (dln_int_py(c) + dln_int_py(tt)) - (dln_int_py(left[a]) + dln_int_py(right[b]))
            rows.append((a, b, c, pmi))
    expected = sorted(rows, key=lambda r: (-r[3], r[0], r[1]))[:PMI_TOP]
    got = [
        (r.w1, r.w2, r.c12, r.pmi)
        for r in load_all()["text_pmi_collocations"].fn(spark, SF0001).collect()
    ]
    assert got == expected  # bit-exact: integer-ln kernel + fixed parens


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


# --- centroid silhouette ---


def test_silhouette_matches_bruteforce(spark):
    """Float replay (the engines quantize centroids to decimal(38,6);
    the replay uses raw float sums, so compare to 1e-4 — tight enough to
    catch any algorithmic divergence, loose enough for the quantization)."""
    from posting_lines_spark.queries import load_all

    emb = pq.read_table(f"{SF0001}/embeddings.parquet").to_pylist()
    by_label = defaultdict(list)
    for r in emb:
        by_label[r["label"]].append([float(x) for x in r["embedding"]])
    cents = {
        lb: [sum(col) / len(vecs) for col in zip(*vecs)]
        for lb, vecs in by_label.items()
    }
    sil_sum, sil_n = defaultdict(float), defaultdict(int)
    for r in emb:
        v = [float(x) for x in r["embedding"]]
        d = {
            lb: math.sqrt(sum((x - y) * (x - y) for x, y in zip(v, c)))
            for lb, c in cents.items()
        }
        a = d[r["label"]]
        b = min(dist for lb, dist in d.items() if lb != r["label"])
        s = 0.0 if a == b else (b - a) / max(a, b)
        sil_sum[r["label"]] += s
        sil_n[r["label"]] += 1
    got = {
        r.label: (r.n_vecs, r.mean_silhouette)
        for r in load_all()["embedding_silhouette"].fn(spark, SF0001).collect()
    }
    assert set(got) == set(sil_sum)
    for lb in sil_sum:
        assert got[lb][0] == sil_n[lb]
        assert abs(got[lb][1] - sil_sum[lb] / sil_n[lb]) < 1e-4


# --- streaming attribution ---


def test_stream_attribution_equals_batch(spark):
    """The carry logic must make the 4-micro-batch drain EXACTLY equal
    to the one-shot batch query (same engine, so this isolates the carry
    from cross-engine concerns)."""
    from posting_lines_spark.queries import load_all

    qs = load_all()
    got_stream = [
        tuple(r) for r in qs["stream_attribution"].fn(spark, SF0001).collect()
    ]
    got_batch = [
        tuple(r) for r in qs["attribution_touch_models"].fn(spark, SF0001).collect()
    ]
    assert sorted(got_stream) == sorted(got_batch)


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


# --- winnowing MOSS guarantee (property) ---


def test_winnow_guarantee_property():
    """Schleimer et al. Theorem: any shared token run of length
    ≥ w + k − 1 yields at least one common selected fingerprint — tested
    on randomized sequences with a planted shared run (pure-Python
    replay of the exact query algorithm; no engine needed)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from posting_lines_spark.queries.text_q import WNW_K, WNW_W

    token = st.integers(0, 30).map(lambda i: f"t{i}")

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(token, min_size=0, max_size=20),  # prefix A
        st.lists(token, min_size=0, max_size=20),  # suffix A
        st.lists(token, min_size=0, max_size=20),  # prefix B
        st.lists(token, min_size=0, max_size=20),  # suffix B
        st.lists(token, min_size=WNW_W + WNW_K - 1, max_size=WNW_W + WNW_K + 4),
    )
    def run(pa, sa, pb, sb, shared):
        ta = " ".join(pa + shared + sa)
        tb = " ".join(pb + shared + sb)
        fa = {h for _, h in _winnow_expected(ta, WNW_K, WNW_W)}
        fb = {h for _, h in _winnow_expected(tb, WNW_K, WNW_W)}
        assert fa & fb, "planted shared run produced no common fingerprint"

    run()
