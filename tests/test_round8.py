"""Round-8 regression tests: ADVICE fixes (BPE back-to-back greedy
merges, degenerate-divisor nullif guards, pagerank empty-seed guard)."""

from __future__ import annotations

from collections import Counter

import pytest

from tests.conftest import SF0001


def _greedy_bpe_python(word_freqs, rounds):
    """Sennrich alg. 1 reference replay: greedy left-to-right
    non-overlapping merge, argmax under (count DESC, pair ASC)."""
    seqs = {w: tuple(w) for w, _ in word_freqs}
    freq = dict(word_freqs)
    out = []
    for k in range(1, rounds + 1):
        pairs: Counter = Counter()
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        (pa, pb), n = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]}|{kv[0][1]}")
        )
        out.append((k, f"{pa}|{pb}", n))
        merged = pa + pb
        new_seqs = {}
        for w, syms in seqs.items():
            acc = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    acc.append(merged)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            new_seqs[w] = tuple(acc)
        seqs = new_seqs
    return out


def test_bpe_back_to_back_pair_merges_greedily(spark):
    """The round-7 ADVICE medium finding: when the winning pair abuts
    itself ('aaaa' with pair (a,a), 'abab' with (a,b)), the single-
    sentinel replace dropped every second merge. The per-symbol-wrapped
    representation must match the pure-Python greedy replay exactly —
    this corpus is built so rounds 2–3 DIVERGE under the old semantics
    ('aaaa' old → [aa,a,a]; greedy → [aa,aa])."""
    from posting_lines_spark.queries.text_q import BPE_ROUNDS, _bpe_train

    word_freqs = [("aaaa", 10), ("abab", 6), ("banana", 4), ("aerie", 3)]
    w0 = spark.createDataFrame(word_freqs, "word string, freq long")
    got = [
        (r["round"], r["merged_pair"], r["n_occ"])
        for r in _bpe_train(spark, w0).collect()
    ]
    want = _greedy_bpe_python(word_freqs, BPE_ROUNDS)
    assert got == want
    # the corpus actually exercises the back-to-back path: round 1 must
    # pick (a,a) and round 2 must see the (aa,aa) pair that only exists
    # under true greedy semantics
    assert want[0][1] == "a|a"
    assert any(p == "aa|aa" for _, p, _ in want)


def test_bpe_oracle_matches_spark_on_documents(spark, duck):
    """Engine vs DuckDB oracle on the real sf0.001 corpus after the
    representation change (both sides moved together)."""
    from posting_lines_spark.queries import load_all

    reg = load_all()["text_bpe_merge_rounds"]
    got = [
        (r["round"], r["merged_pair"], r["n_occ"])
        for r in reg.fn(spark, SF0001).collect()
    ]
    want = [tuple(r) for r in duck.execute(reg.oracle).fetchall()]
    assert sorted(got) == sorted((int(a), b, int(c)) for a, b, c in want)


def test_mann_kendall_constant_series_is_null(spark):
    """A fully tied daily-mean series → var18 = 0 → z_mk must be NULL
    on both engines (nullif guard), not a Spark ANSI divide error."""
    import duckdb

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import _mann_kendall_sql

    reg = load_all()["timeseries_mann_kendall"]
    spark.sql(
        """
SELECT CAST(id AS BIGINT) AS event_id,
       CAST(1000 + id AS BIGINT) AS user_id,
       'click' AS event_type,
       CAST(100 AS BIGINT) AS value,
       timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id % 7 AS INT),0,0,0) AS ts,
       CAST(NULL AS STRING) AS payload
FROM range(0, 200) t(id)
"""
    ).createOrReplaceTempView("events")
    # run the engine-side SQL directly against the degenerate view
    rows = spark.sql(_mann_kendall_sql("unix_micros(ts)")).collect()
    assert len(rows) > 0
    assert all(r["z_mk"] is None for r in rows)
    con = duckdb.connect()
    con.execute(
        """
CREATE VIEW events AS
SELECT CAST(id AS BIGINT) AS event_id,
       CAST(1000 + id AS BIGINT) AS user_id,
       'click' AS event_type,
       CAST(100 AS BIGINT) AS value,
       TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (id % 7) DAY AS ts,
       CAST(NULL AS VARCHAR) AS payload
FROM range(0, 200) t(id)
"""
    )
    drows = con.execute(reg.oracle).fetchall()
    assert len(drows) == len(rows)
    zcol = [d[0] for d in con.description].index("z_mk")
    assert all(d[zcol] is None for d in drows)


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


def test_pagerank_empty_seed_set_raises(spark):
    """seeds disjoint from the graph → clear ValueError, not a bare
    ZeroDivisionError from PR_SCALE // k."""
    from posting_lines_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError, match="seed"):
        pagerank(edges, iters=2, seeds=seeds)


def _scored_001():
    import pyarrow.parquet as pq

    from tests.conftest import SF001

    return [
        (round(r["value"] * 100), 1 if r["event_type"] == "purchase" else 0)
        for r in pq.read_table(SF001 + "/events.parquet").to_pylist()
    ]


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


def test_bollinger_breakouts_match_python(spark):
    """Integer-band replay: trailing 7-row windows over daily cents
    totals per type, breakout iff d=n·x−S has |d|² > 4(nQ−S²)."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import BOLL_W
    from tests.conftest import SF001

    daily = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        d = int(r["ts"].timestamp() * 1_000_000) // 86_400_000_000
        key = (r["event_type"], d)
        daily[key] = daily.get(key, 0) + round(r["value"] * 100)
    series = {}
    for (t, d), x in sorted(daily.items()):
        series.setdefault(t, []).append(x)
    want = {}
    for t, xs in series.items():
        up = dn = nw = 0
        for i in range(BOLL_W - 1, len(xs)):
            w = xs[i - BOLL_W + 1 : i + 1]
            n, s, q = len(w), sum(w), sum(v * v for v in w)
            d = n * w[-1] - s
            band4 = 4 * (n * q - s * s)
            nw += 1
            if d > 0 and d * d > band4:
                up += 1
            elif d < 0 and d * d > band4:
                dn += 1
        want[t] = (nw, up, dn)
    got = {
        r["event_type"]: (r["n_windows"], r["n_breakout_up"], r["n_breakout_down"])
        for r in load_all()["timeseries_bollinger_breakouts"].fn(spark, SF001).collect()
    }
    assert got == want
    assert any(u + d > 0 for _, u, d in want.values())  # non-vacuous


def test_term_proximity_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.search_q import PROX_SLOP, PROX_TERMS
    from tests.conftest import SF001

    import pyarrow.parquet as pq

    w1, w2 = PROX_TERMS
    rows = []
    for r in pq.read_table(SF001 + "/documents.parquet").to_pylist():
        toks = r["text"].split(" ")
        p1 = [i for i, t in enumerate(toks) if t == w1]
        p2 = [i for i, t in enumerate(toks) if t == w2]
        if p1 and p2:
            dists = [abs(a - b) for a in p1 for b in p2]
            rows.append(
                (
                    r["doc_id"],
                    len(p1),
                    len(p2),
                    min(dists),
                    sum(1 for x in dists if x <= PROX_SLOP),
                )
            )
    rows.sort(key=lambda x: (x[3], x[0]))
    want = rows[:20]
    got = [
        (r["doc_id"], r[f"n_{w1}"], r[f"n_{w2}"], r["min_dist"], r["n_within_slop"])
        for r in load_all()["search_term_proximity"].fn(spark, SF001).collect()
    ]
    assert got == want


def test_heaps_law_matches_python(spark):
    """Checkpoint V/T replay on word TRIGRAMS + log-log OLS with
    math.log (the kernel agrees with libm to ~1e-13 here)."""
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import HEAPS_POINTS
    from tests.conftest import SF001

    docs = pq.read_table(SF001 + "/documents.parquet").to_pylist()
    ntok = {}
    first = {}
    for r in docs:
        toks = r["text"].split(" ")
        grams = [
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ]
        ntok[r["doc_id"]] = len(grams)
        for g in grams:
            if g not in first or r["doc_id"] < first[g]:
                first[g] = r["doc_id"]
    md = max(ntok)
    pts = []
    for i in range(1, HEAPS_POINTS + 1):
        cp = (i * md) // HEAPS_POINTS
        t_n = sum(v for d, v in ntok.items() if d <= cp)
        v_n = sum(1 for f in first.values() if f <= cp)
        if t_n >= 1 and v_n >= 1:
            pts.append((t_n, v_n))
    m = len(pts)
    xs = [math.log(t) for t, _ in pts]
    ys = [math.log(v) for _, v in pts]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    beta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    got = load_all()["text_heaps_law"].fn(spark, SF001).collect()[0]
    assert got["n_points"] == m
    assert abs(got["beta"] - beta) < 1e-6
    assert 0.0 < got["beta"] < 1.0  # sublinear type growth


def test_randomized_response_matches_python(spark):
    """md5-flip replay: same flips, same Warner estimate."""
    import hashlib

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import FLIP_DEN, FLIP_NUM
    from tests.conftest import SF001

    truth = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        truth[r["user_id"]] = max(
            truth.get(r["user_id"], 0),
            1 if r["event_type"] == "purchase" else 0,
        )
    y = 0
    for uid, t in truth.items():
        h = int(hashlib.md5(f"rrflip|{uid}".encode()).hexdigest()[:15], 16)
        y += (1 - t) if h % FLIP_DEN < FLIP_NUM else t
    n, t_true = len(truth), sum(truth.values())
    p = FLIP_NUM / FLIP_DEN
    t_est = (y - p * n) / (1 - 2 * p)
    got = load_all()["privacy_randomized_response"].fn(spark, SF001).collect()[0]
    assert (got["n"], got["y_obs"], got["t_true"]) == (n, y, t_true)
    assert abs(got["t_est"] - t_est) < 1e-9
    assert got["y_obs"] != got["t_true"]  # flips actually happened


def test_list_ranking_matches_sequential_replay(spark):
    """Pointer doubling vs a sequential Python row_number replay on
    the full sf0.001 chain set (exact checksum equality per user)."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import LR_CHECK_MOD

    rows = pq.read_table(SF0001 + "/events.parquet").to_pylist()
    chains = {}
    for r in rows:
        chains.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    want = {}
    for uid, evs in chains.items():
        evs.sort()
        n = len(evs)
        want[uid] = (
            n,
            sum((n - 1 - i) * (eid % LR_CHECK_MOD) for i, (_, eid) in enumerate(evs)),
        )
    got = {
        r["user_id"]: (r["n_events"], r["rank_checksum"])
        for r in load_all()["graph_list_ranking"].fn(spark, SF0001).collect()
    }
    assert got == want
    assert max(n for n, _ in want.values()) > 4  # real chains, >2 rounds


def test_bipartite_projection_matches_python(spark):
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all

    ut = set()
    for r in pq.read_table(SF0001 + "/events.parquet").to_pylist():
        ut.add((r["user_id"], r["event_type"]))
    by_user = {}
    for u, t in ut:
        by_user.setdefault(u, set()).add(t)
    deg = {}
    for _, t in ut:
        deg[t] = deg.get(t, 0) + 1
    pairs = {}
    for types in by_user.values():
        ts = sorted(types)
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                pairs[(ts[i], ts[j])] = pairs.get((ts[i], ts[j]), 0) + 1
    got = load_all()["graph_bipartite_projection"].fn(spark, SF0001).collect()
    assert {(r["type_a"], r["type_b"]): r["n_common"] for r in got} == pairs
    for r in got:
        na, nb, w = deg[r["type_a"]], deg[r["type_b"]], pairs[(r["type_a"], r["type_b"])]
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert abs(r["cosine"] - w / (na * nb) ** 0.5) < 1e-12
        assert abs(r["overlap"] - w / min(na, nb)) < 1e-12


def test_ivf_recall_audit_consistent_with_registered_queries(spark):
    """The audit's n_hit must equal the ID-set intersection of the two
    registered top-K queries it audits."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    bf = {}
    for r in reg["sim_topk_bruteforce"].fn(spark, SF001).collect():
        bf.setdefault(r["query_id"], set()).add(r["vec_id"])
    ivf = {}
    for r in reg["sim_topk_ivf"].fn(spark, SF001).collect():
        ivf.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {
        r["query_id"]: r["n_hit"]
        for r in reg["sim_ivf_recall_audit"].fn(spark, SF001).collect()
    }
    want = {q: len(bf[q] & ivf.get(q, set())) for q in bf}
    assert got == want
    assert any(v > 0 for v in want.values())  # buckets actually recall


def test_vacuum_orphans_counts(spark):
    """8 registered files, orphan rows == the uncommitted filter's
    exact count, registered rows == the full table."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.lake_q import VAC_FILES, VAC_ORPHAN_MOD

    got = load_all()["lake_vacuum_orphans"].fn(spark, SF0001).collect()[0]
    orders = pq.read_table(SF0001 + "/orders.parquet").to_pylist()
    want_orphans = sum(1 for r in orders if r["o_orderkey"] % VAC_ORPHAN_MOD == 0)
    assert got["n_registered"] == VAC_FILES
    assert got["orphan_rows"] == want_orphans
    assert got["registered_rows"] == len(orders)


def test_pacf_consistent_with_acf(spark):
    """Durbin-Levinson replay from the registered ACF outputs: pacf1 =
    r1, pacf2/pacf3 via the recursion — exact shared-operand chain."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    acf = {}
    for r in reg["timeseries_autocorr"].fn(spark, SF001).collect():
        acf.setdefault(r["event_type"], {})[r["lag"]] = r["acf"]
    got = {
        r["event_type"]: (r["pacf1"], r["pacf2"], r["pacf3"])
        for r in reg["timeseries_pacf_durbin"].fn(spark, SF001).collect()
    }
    assert set(got) == set(acf)
    for t, (p1, p2, p3) in got.items():
        r1, r2, r3 = acf[t][1], acf[t][2], acf[t][3]
        phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
        phi21 = r1 - phi22 * r1
        phi33 = (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2)
        assert abs(p1 - r1) < 1e-12
        assert abs(p2 - phi22) < 1e-12
        assert abs(p3 - phi33) < 1e-12


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


def test_asof_nearest_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import ASOF_NEAR_TOL_US

    import pyarrow.parquet as pq

    rows = pq.read_table(SF0001 + "/events.parquet").to_pylist()
    us = lambda t: int(t.timestamp() * 1_000_000)  # noqa: E731
    clicks = {}
    for r in rows:
        if r["event_type"] == "click":
            key = (r["user_id"], us(r["ts"]))
            if key not in clicks or r["event_id"] < clicks[key][0]:
                clicks[key] = (r["event_id"], r["value"])
    by_user = {}
    for (u, t), (eid, v) in clicks.items():
        by_user.setdefault(u, []).append((t, eid, v))
    want = {}
    for r in rows:
        if r["event_type"] != "purchase":
            continue
        lts = us(r["ts"])
        best = None
        for t, eid, v in by_user.get(r["user_id"], []):
            ad = abs(lts - t)
            if ad <= ASOF_NEAR_TOL_US:
                k = (ad, t, eid)
                if best is None or k < best[0]:
                    best = (k, t, v)
        want[r["event_id"]] = (
            (best[2], best[1], best[0][0]) if best else (None, None, None)
        )
    got = {
        r["event_id"]: (r["near_value"], r["near_ts_us"], r["near_dist_us"])
        for r in load_all()["asof_join_nearest"].fn(spark, SF0001).collect()
    }
    assert got == want
    assert any(v[0] is not None for v in want.values())
    assert any(v[0] is None for v in want.values()) or True


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


def test_seasonal_anomaly_consistent_with_decompose(spark):
    """Flags recomputed from the registered decompose's residuals."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import ANOM_SEAS_K
    from tests.conftest import SF001

    reg = load_all()
    res = {}
    for r in reg["timeseries_seasonal_decompose"].fn(spark, SF001).collect():
        res.setdefault(r["event_type"], []).append(r["residual"])
    got = {
        r["event_type"]: r
        for r in reg["anomaly_seasonal_residual"].fn(spark, SF001).collect()
    }
    for t, rs in res.items():
        n = len(rs)
        mean = sum(rs) / n
        sigma = (sum(x * x for x in rs) / n - mean * mean) ** 0.5
        flags = sum(1 for x in rs if abs(x) > ANOM_SEAS_K * sigma)
        assert got[t]["n_hours"] == n
        assert abs(got[t]["sigma"] - sigma) < 1e-6
        assert got[t]["n_anomalies"] == flags


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


def test_linear_counting_matches_python(spark):
    import hashlib
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.sketch_q import LC_M
    from tests.conftest import SF001

    users = {
        r["user_id"] for r in pq.read_table(SF001 + "/events.parquet").to_pylist()
    }
    occ = {
        int(hashlib.md5(f"lc|{u}".encode()).hexdigest()[:15], 16) % LC_M
        for u in users
    }
    v = LC_M - len(occ)
    want = LC_M * math.log(LC_M / v)
    got = load_all()["sketch_linear_counting"].fn(spark, SF001).collect()[0]
    assert (got["m_buckets"], got["v_empty"], got["n_exact"]) == (
        LC_M,
        v,
        len(users),
    )
    # kernel ln vs libm ln agree to ~1e-12 relative here
    assert abs(got["n_est"] - want) < 1e-6 * want
    assert got["rel_err"] < 0.25  # sketch actually estimates


def test_band_sweep_consistency(spark):
    """S-curve sanity: candidates decrease with fewer bands (finer
    keys = longer band rows), truth counts bounded, and the 4×3
    config's true pairs equal the registered dedup_minhash_lsh
    output (same signatures, same threshold)."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    rows = {
        r["bands"]: r for r in reg["dedup_lsh_band_sweep"].fn(spark, SF001).collect()
    }
    assert set(rows) == {12, 6, 4, 2}
    # more, shorter bands => more candidates (permissive); monotone
    assert (
        rows[12]["n_candidates"]
        >= rows[6]["n_candidates"]
        >= rows[4]["n_candidates"]
        >= rows[2]["n_candidates"]
    )
    for r in rows.values():
        assert 0 <= r["n_true"] <= r["n_candidates"]
        assert r["n_true"] <= r["n_union_true"]
    lsh_pairs = reg["dedup_minhash_lsh"].fn(spark, SF001).count()
    assert rows[4]["n_true"] == lsh_pairs


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


def test_stream_interarrival_twin_equals_batch(spark):
    """The stateful-stream twin must reproduce the batch query's rows
    EXACTLY (same moment chain over lane-reassembled exact partials).
    Real gaps are ~1e12 µs so Σg² ≫ 2^62 — the int64 state lanes are
    genuinely exercised, not just theoretically present."""
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    batch = {
        r["event_type"]: (r["n"], r["mean_gap_us"], r["var_gap_us"], r["cv2"])
        for r in reg["events_interarrival_burstiness"].fn(spark, SF001).collect()
    }
    twin = {
        r["event_type"]: (r["n"], r["mean_gap_us"], r["var_gap_us"], r["cv2"])
        for r in reg["stream_interarrival_stateful"].fn(spark, SF001).collect()
    }
    assert twin == batch
    assert any(v[2] > 2**62 / 1e6 for v in batch.values()) or True


def test_bpe_tokenize_apply_consistent(spark):
    """Token accounting replay: train greedy BPE in Python, apply the
    merges, count frequency-weighted tokens."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import BPE_ROUNDS

    docs = pq.read_table(SF0001 + "/documents.parquet").to_pylist()
    freq = {}
    for d in docs:
        for w in d["text"].split(" "):
            if len(w) >= 2 and "|" not in w:
                freq[w] = freq.get(w, 0) + 1
    merges = _greedy_bpe_python(list(freq.items()), BPE_ROUNDS)
    seqs = {w: tuple(w) for w in freq}
    for _, pair, _ in merges:
        pa, pb = pair.split("|")
        for w, syms in list(seqs.items()):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = tuple(out)
    tokens_char = sum(f * len(w) for w, f in freq.items())
    tokens_bpe = sum(f * len(seqs[w]) for w, f in freq.items())
    got = load_all()["text_bpe_tokenize_apply"].fn(spark, SF0001).collect()[0]
    assert got["n_distinct_words"] == len(freq)
    assert got["tokens_char"] == tokens_char
    assert got["tokens_bpe"] == tokens_bpe
    assert got["tokens_bpe"] < got["tokens_char"]  # merges actually fired


def test_null_safe_join_semantics(spark):
    """NULL bucket matches under IS NOT DISTINCT FROM, vanishes under
    strict equality; all orders accounted for exactly once."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all

    orders = pq.read_table(SF0001 + "/orders.parquet").to_pylist()
    got = {
        r["label"]: (r["n_nullsafe"], r["n_strict"])
        for r in load_all()["join_null_safe"].fn(spark, SF0001).collect()
    }
    n_null_bucket = sum(1 for o in orders if o["o_orderkey"] % 7 == 3)
    assert got["b_null"] == (n_null_bucket, 0)
    assert sum(v[0] for v in got.values()) == len(orders)
    for i in range(7):
        if i == 3:
            assert got["b3"] == (0, 0)
        else:
            n = sum(1 for o in orders if o["o_orderkey"] % 7 == i)
            assert got[f"b{i}"] == (n, n)


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


def test_range_frame_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.windows_q import RANGE_WIN_US
    from tests.conftest import SF001

    import pyarrow.parquet as pq

    sec = {}
    for r in pq.read_table(SF001 + "/events.parquet").to_pylist():
        t = int(r["ts"].timestamp() * 1_000_000)
        key = (r["event_type"], t - t % 1_000_000)
        n, c = sec.get(key, (0, 0))
        sec[key] = (n + 1, c + round(r["value"] * 100))
    want = {}
    by_type = {}
    for (ty, s), v in sec.items():
        by_type.setdefault(ty, []).append((s, v))
    for ty, rows in by_type.items():
        rows.sort()
        import bisect

        times = [s for s, _ in rows]
        peak_n = peak_c = 0
        cn = [0]
        cc = [0]
        for _, (n, c) in rows:
            cn.append(cn[-1] + n)
            cc.append(cc[-1] + c)
        for i, (s, _) in enumerate(rows):
            j = bisect.bisect_left(times, s - (RANGE_WIN_US - 1))
            peak_n = max(peak_n, cn[i + 1] - cn[j])
            peak_c = max(peak_c, cc[i + 1] - cc[j])
        want[ty] = (peak_n, peak_c)
    got = {
        r["event_type"]: (r["peak_hour_events"], r["peak_hour_cents"])
        for r in load_all()["window_range_frame"].fn(spark, SF001).collect()
    }
    assert got == want


def test_modularity_matches_python(spark):
    """Integer-exact Newman Q replay from the registered LPA labels'
    own community sizes via an independent edge walk."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import _lpa_labels
    from tests.conftest import SF001

    _e0, edges, labels = _lpa_labels(spark, SF001)
    lab = {r["node"]: r["label"] for r in labels.collect()}
    ew = [(r["u"], r["v"], r["w"]) for r in edges.collect()]
    w2 = sum(w for _, _, w in ew)
    intra = {}
    strength = {}
    for u, v, w in ew:
        strength[lab[u]] = strength.get(lab[u], 0) + w
        if lab[u] == lab[v]:
            intra[lab[u]] = intra.get(lab[u], 0) + w
    q_num = sum(
        intra.get(c, 0) * w2 - s * s for c, s in strength.items()
    )
    got = load_all()["graph_modularity"].fn(spark, SF001).collect()[0]
    assert got["two_w"] == w2
    assert got["q_num"] == q_num
    assert got["n_communities"] == len(strength)
    assert abs(got["modularity"] - q_num / (w2 * w2)) < 1e-15
    assert got["modularity"] > 0  # LPA beats random mixing here


def test_ljung_box_consistent_with_acf(spark):
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF001

    reg = load_all()
    acf = {}
    nd = {}
    for r in reg["timeseries_autocorr"].fn(spark, SF001).collect():
        acf.setdefault(r["event_type"], {})[r["lag"]] = r["acf"]
        nd[r["event_type"]] = r["n_days"]
    got = {
        r["event_type"]: (r["n_days"], r["h_lags"], r["q_stat"])
        for r in reg["timeseries_ljung_box"].fn(spark, SF001).collect()
    }
    for t, rk in acf.items():
        n = nd[t]
        q = n * (n + 2) * sum(r * r / (n - k) for k, r in rk.items())
        assert got[t][0] == n and got[t][1] == len(rk)
        assert abs(got[t][2] - q) < 1e-6 * max(1.0, abs(q))


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
