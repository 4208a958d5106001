"""Round-11 regression tests.

ADVICE-r10 items — both are engine/oracle envelope divergences where
Spark's IntegralDivide (`div` always returns BIGINT) or a narrowing
DECIMAL(19,0) cast wraps past int64 while the DuckDB oracle's HUGEINT
stays int128-exact:

1. (medium) stats_ansari_bradley's triangular helper T(x) = x(x+1)/2
   computed as `(wide·(x+1)) div 2` wraps once T(x) > 2⁶³, i.e. past
   N ≈ 4.3e9 pooled rows — a tighter global bound than the documented
   t < 3.04e9 tie-block bound. Fixed by halving the even factor FIRST
   (x(x+1) is always even), so every div operand stays int64 and only
   the product is widened. The wrap is rowcount-driven (positions, not
   values), so no feasible local table can trigger it through the full
   query — these tests drive the extracted `_tri_expr` fragment at the
   exact magnitudes instead, on both engines.

2. (low) stats_goodman_kruskal_gamma's engine narrowed the exact
   DECIMAL(38,0) concordant/discordant sums to DECIMAL(19,0) before
   the STRING→DOUBLE emit, capping C/D at ~1e19 (barely above int64)
   while the oracle casts to HUGEINT. Fixed by keeping DECIMAL(38,0)
   end-to-end. Same rowcount-driven wrap, so the test injects a grid
   with ~4e9-per-cell counts via _gamma_sql's grid override.
"""

from __future__ import annotations

from tests.conftest import SF0001


def _assert_query_matches_oracle(spark, duck, name):
    """Driver-style exact compare: run the registered engine query and
    its oracle SQL at sf0.001, canonicalize, and assert equality."""
    from posting_lines_spark.queries import load_all
    from tools.check_oracle import rows_canon

    q = load_all()[name]
    df = q.fn(spark, SF0001)
    res = duck.execute(q.oracle)
    dcols = [d[0].lower() for d in res.description]
    got = rows_canon(
        [tuple(r) for r in df.collect()], [c.lower() for c in df.columns]
    )
    want = rows_canon(res.fetchall(), dcols)
    assert got == want


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


# ---- JDBC: live embedded Derby (the r3-era "mock-tested only" caveat
# shrinks to dialect-only: a real database, real INSERTs, real parallel
# range reads, real pushdown into the DB) ----


def _derby_url(spark):
    from posting_lines_spark.fixtures import scratch_dir

    home = scratch_dir(prefix="pls_derby_home_")
    spark.sparkContext._jvm.System.setProperty("derby.system.home", home)
    return (
        f"jdbc:derby:{scratch_dir(prefix='pls_derby_')}/db;create=true",
        "org.apache.derby.jdbc.EmbeddedDriver",
    )


def test_jdbc_live_partitioned_read_and_pushdown(spark):
    """Round-trip through a live Derby DB: the partitioned read issues
    8 range-predicated scans (8 RDD partitions, no row lost or doubled)
    and a filter is pushed INTO the database (`*` = source-evaluated)."""
    import re

    from posting_lines_spark.sources import load_jdbc, load_table, write_jdbc
    from tests.conftest import SF0001

    url, driver = _derby_url(spark)
    c = load_table(spark, SF0001, "customer")
    write_jdbc(c, url, "customer_live", mode="overwrite", driver=driver)
    back = load_jdbc(
        spark,
        url,
        "customer_live",
        partition_column="c_custkey",
        num_partitions=8,
        lower_bound=1,
        upper_bound=c.count(),
        driver=driver,
    )
    assert back.rdd.getNumPartitions() == 8
    assert sorted(r["c_custkey"] for r in back.collect()) == sorted(
        r["c_custkey"] for r in c.collect()
    )

    flt = back.filter(back.c_acctbal > 1000.0).select("c_custkey")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "*GreaterThan(c_acctbal,1000.0)" in m.group(1)
    # column pruning reaches the DB too: only the needed columns scanned
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "c_name" not in rs.group(1)


def test_jdbc_roundtrip_matches_oracle(spark, duck):
    """The registered jdbc_roundtrip query (write → partitioned read →
    aggregate) hash-matches the parquet-side oracle at sf0.001."""
    _assert_query_matches_oracle(spark, duck, "jdbc_roundtrip")


# ---- wave-20 replay tests (engine and oracle share SQL text, so only
# independent Python re-derivations prove the statistics) ----


def test_somers_d_matches_python(spark):
    """Brute-force C/D/tied-pair masses from the raw rows and replay
    both D directions."""
    from tests.test_round9 import _events_rows
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
    from tests.test_round9 import _events_rows
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


def test_adamic_adar_matches_python(spark):
    """Independent graph replay: rebuild the co-purchase graph in pure
    Python, score non-edge pairs with 1/ln(deg z) via the kernel's
    Python mirror, and compare the full top-20."""
    import itertools

    import pyarrow.parquet as pq

    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import LINKPRED_COOC

    t = pq.read_table(
        SF0001 + "/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    )
    baskets = {}
    for ok, pk in set(
        zip(t.column("l_orderkey").to_pylist(), t.column("l_partkey").to_pylist())
    ):
        baskets.setdefault(ok, set()).add(pk)
    cooc = {}
    for parts in baskets.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            cooc[(a, b)] = cooc.get((a, b), 0) + 1
    edges = {p for p, c in cooc.items() if c >= LINKPRED_COOC}
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    scores = {}
    for z, nz in nbrs.items():
        w = 1.0 / dln_int_py(len(nz))
        for a, c in itertools.combinations(sorted(nz), 2):
            if (a, c) not in edges:
                cn, aa = scores.get((a, c), (0, 0.0))
                scores[(a, c)] = (cn + 1, aa + w)
    want = sorted(
        ((a, c, cn, aa) for (a, c), (cn, aa) in scores.items()),
        key=lambda r: (-r[3], -r[2], r[0], r[1]),
    )[:20]

    got = [
        (r["id_a"], r["id_b"], r["common_neighbors"], r["adamic_adar"])
        for r in load_all()["graph_adamic_adar"].fn(spark, SF0001).collect()
    ]
    assert [(a, c, cn) for a, c, cn, _ in got] == [
        (a, c, cn) for a, c, cn, _ in want
    ]
    for (_, _, _, g), (_, _, _, w) in zip(got, want):
        assert abs(g - w) < 1e-9
    # non-vacuous: AA reorders vs raw CN somewhere in the top 20
    assert [(a, c) for a, c, _, _ in want] != [
        (a, c)
        for a, c, _, _ in sorted(
            want, key=lambda r: (-r[2], r[0], r[1])
        )
    ]


def test_good_turing_matches_python(spark):
    """Trigram count-of-counts and the Turing estimates re-derived in
    pure Python."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import GT_MAX_R

    texts = pq.read_table(
        SF0001 + "/documents.parquet", columns=["text"]
    ).column("text").to_pylist()
    counts = {}
    total = 0
    for t in texts:
        toks = t.split(" ")
        for i in range(len(toks) - 2):
            g = " ".join(toks[i : i + 3])
            counts[g] = counts.get(g, 0) + 1
            total += 1
    coc = {}
    for r in counts.values():
        coc[r] = coc.get(r, 0) + 1

    rows = sorted(
        load_all()["text_good_turing"].fn(spark, SF0001).collect(), key=lambda r: r["r"]
    )
    want_rs = sorted(r for r in coc if r <= GT_MAX_R)
    assert [r["r"] for r in rows] == want_rs
    for row in rows:
        r = row["r"]
        assert row["n_r"] == coc[r]
        assert row["n_r_next"] == coc.get(r + 1, 0)
        if coc.get(r + 1):
            assert abs(
                row["r_star"] - (r + 1) * coc[r + 1] / coc[r]
            ) < 1e-12 * max(1.0, row["r_star"])
        else:
            assert row["r_star"] is None
        assert row["t_tokens"] == total
        assert row["v_types"] == len(counts)
        assert abs(row["p0_mass"] - coc.get(1, 0) / total) < 1e-15
    # non-vacuous: singleton mass exists (else GT has nothing to smooth)
    assert coc.get(1, 0) > 0


def test_fairness_parity_matches_python(spark):
    """Per-cohort confusion counts and all derived rates/gaps replayed
    from the raw rows."""
    from tests.test_round9 import _events_rows
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


def test_hbos_matches_python(spark):
    """HBOS scores re-derived with the ln kernel's Python mirror; the
    full top-20 (ids and scores) must match."""
    from tests.test_round9 import _events_rows
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


# ---- wave-21 replay tests ----


def test_spectral_entropy_matches_python(spark):
    """Replay the 29-period deterministic-trig powers, the quantized-ln
    mass fractions, and H/ln m with the kernel Python mirrors."""
    import math

    from tests.test_round9 import _events_rows
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.functions.geo import dcos_py, dsin_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import (
        SPECENT_PERIODS,
        _SPECENT_Q,
    )

    daily = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        daily[(r["event_type"], day)] = (
            daily.get((r["event_type"], day), 0) + r["cents"]
        )
    series = {}
    for (et, day), x in daily.items():
        series.setdefault(et, []).append((day, x))

    got = {
        r["event_type"]: (r["n_days"], r["n_periods"], r["h_raw"], r["h_norm"])
        for r in load_all()["timeseries_spectral_entropy"]
        .fn(spark, SF0001)
        .collect()
    }
    ln_q = dln_int_py(_SPECENT_Q)
    for et, pts in series.items():
        pts.sort()
        d0, n = pts[0][0], len(pts)
        mu = sum(x for _, x in pts) / n
        powers = []
        for p in SPECENT_PERIODS:
            c = s = 0.0
            for day, x in pts:
                t = day - d0
                r_ = t % p
                q = (4 * r_) // p
                u = (math.pi / 2.0) * ((4 * r_ - q * p) / p)
                cu, su = dcos_py(u), dsin_py(u)
                c += round((x - mu) * [cu, -su, -cu, su][q], 2)
                s += round((x - mu) * [su, cu, -su, -cu][q], 2)
            powers.append((c * c + s * s) / n)
        tot = sum(powers)
        h = 0.0
        for pw in powers:
            ph = pw / tot
            pq = round(ph * _SPECENT_Q)
            if pq >= 1:
                h += round(-ph * (dln_int_py(pq) - ln_q), 12)
        gn, gm, gh, ghn = got[et]
        assert (gn, gm) == (n, len(SPECENT_PERIODS))
        assert abs(gh - h) < 1e-9
        assert abs(ghn - h / math.log(len(SPECENT_PERIODS))) < 1e-9
        assert 0.0 <= ghn <= 1.0


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
    from tests.test_round9 import _events_rows
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
    from tests.test_round9 import _events_rows
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
    from tests.test_round9 import _events_rows
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


def test_column_entropy_matches_python(spark):
    """Entropy per column re-derived with the ln kernel's Python
    mirror over exact value counts."""
    import pyarrow.parquet as pq

    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.schema_q import ENTROPY_COLS

    t = pq.read_table(SF0001 + "/lineitem.parquet", columns=ENTROPY_COLS)
    got = {
        r["col_name"]: (r["n"], r["ndv"], r["entropy"], r["norm_entropy"])
        for r in load_all()["profile_column_entropy"]
        .fn(spark, SF0001)
        .collect()
    }
    assert sorted(got) == sorted(ENTROPY_COLS)
    for col in ENTROPY_COLS:
        counts = {}
        for v in t.column(col).to_pylist():
            counts[v] = counts.get(v, 0) + 1
        n = sum(counts.values())
        # mirror the order-pinned fold: add in ascending-count order
        sc = 0.0
        for c in sorted(counts.values()):
            sc += c * dln_int_py(c)
        h = dln_int_py(n) - sc / n
        gn, gndv, gh, ghn = got[col]
        assert (gn, gndv) == (n, len(counts))
        assert abs(gh - h) < 1e-9
        if len(counts) > 1:
            assert abs(ghn - h / dln_int_py(len(counts))) < 1e-9
            assert 0.0 <= ghn <= 1.0 + 1e-12
    # non-vacuous: entropies differ across columns
    assert len({round(v[2], 6) for v in got.values()}) > 2


# ---- wave-22 replay tests ----


def test_dp_gaussian_matches_python(spark):
    """Re-derive the Box-Muller release with the kernel Python mirrors
    and check zCDP bookkeeping; noise must be nonzero and vary by
    source (idempotence = same source, same noise)."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.functions.geo import dcos_py, dsin_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.curation_q import _DP_K, DP_RHO

    srcs = pq.read_table(
        SF0001 + "/documents.parquet", columns=["source"]
    ).column("source").to_pylist()
    counts = {}
    for s in srcs:
        counts[s] = counts.get(s, 0) + 1

    sigma = 1.0 / math.sqrt(2.0 * DP_RHO)
    ln_k = dln_int_py(_DP_K)

    def h(s, slot):
        hx = hashlib.md5(f"dpgauss|{s}".encode()).hexdigest()
        return int(hx[slot * 15 : slot * 15 + 15], 16)

    got = {
        r["source"]: r
        for r in load_all()["privacy_dp_gaussian"].fn(spark, SF0001).collect()
    }
    noises = set()
    for s, n in counts.items():
        k1 = h(s, 0) % _DP_K + 1
        k2 = h(s, 1) % _DP_K
        q = (4 * k2) // _DP_K
        u = (math.pi / 2.0) * ((4 * k2 - q * _DP_K) / _DP_K)
        cu, su = dcos_py(u), dsin_py(u)
        cos_t = [cu, -su, -cu, su][q]
        z = math.sqrt(-2.0 * (dln_int_py(k1) - ln_k)) * cos_t
        want = n + sigma * z
        r = got[s]
        assert r["n_true"] == n
        assert abs(r["released_count"] - want) < 1e-9
        assert (r["rho"], r["sigma"]) == (DP_RHO, sigma)
        noises.add(round(r["released_count"] - n, 6))
    assert len(noises) > 1 and all(abs(x) > 1e-9 for x in noises)


def test_survival_cindex_matches_python(spark):
    """Brute-force every comparable pair from the raw rows (the grid
    dominance sums must equal the O(n²) census)."""
    from tests.test_round9 import _events_rows
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


def test_sttr_matches_python(spark):
    """Re-derive segment TTRs and the per-source rollup."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.text_q import STTR_SEG

    t = pq.read_table(
        SF0001 + "/documents.parquet", columns=["doc_id", "source", "text"]
    )
    per_src = {}
    for src, text in zip(
        t.column("source").to_pylist(), t.column("text").to_pylist()
    ):
        toks = text.split(" ")
        ttrs = []
        for i in range(len(toks) // STTR_SEG):
            seg = toks[i * STTR_SEG : (i + 1) * STTR_SEG]
            ttrs.append(round(len(set(seg)) / STTR_SEG, 6))
        if ttrs:
            per_src.setdefault(src, []).append(
                (len(ttrs), round(sum(ttrs) / len(ttrs), 12))
            )
    got = {
        r["source"]: r
        for r in load_all()["text_sttr"].fn(spark, SF0001).collect()
    }
    assert sorted(got) == sorted(per_src)
    for src, docs in per_src.items():
        r = got[src]
        assert r["n_docs"] == len(docs)
        assert r["n_segments"] == sum(n for n, _ in docs)
        mean = sum(s for _, s in docs) / len(docs)
        assert abs(r["mean_sttr"] - mean) < 1e-9
        assert abs(r["min_sttr"] - min(s for _, s in docs)) < 1e-9
        assert abs(r["max_sttr"] - max(s for _, s in docs)) < 1e-9
        assert 0.0 < r["mean_sttr"] <= 1.0
    # non-vacuous: diversity varies across sources
    assert len({round(v["mean_sttr"], 4) for v in got.values()}) > 1


# ---- wave-23 replay tests ----


def test_engle_granger_matches_python(spark):
    """Replay both regressions with exact integer sums and the
    quantized-residual discipline."""
    from decimal import ROUND_HALF_UP, Decimal

    from tests.test_round9 import _events_rows
    from posting_lines_spark.queries import load_all

    daily = {}
    for r in _events_rows():
        if r["event_type"] not in ("purchase", "click"):
            continue
        day = r["ts_us"] // 86_400_000_000
        daily.setdefault(day, {})
        daily[day][r["event_type"]] = (
            daily[day].get(r["event_type"], 0) + r["cents"]
        )
    pairs = sorted(
        (d, v["purchase"], v["click"])
        for d, v in daily.items()
        if "purchase" in v and "click" in v
    )
    n = len(pairs)
    sx = sum(x for _, _, x in pairs)
    sy = sum(y for _, y, _ in pairs)
    sxx = sum(x * x for _, _, x in pairs)
    sxy = sum(x * y for _, y, x in pairs)
    b = (n * float(sxy) - float(sx) * float(sy)) / (
        n * float(sxx) - float(sx) * float(sx)
    )
    a = (float(sy) - b * float(sx)) / n
    eq = [
        int(
            Decimal(repr(y - a - b * x)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
        for _, y, x in pairs
    ]
    d_e = [(eq[i] - eq[i - 1], eq[i - 1]) for i in range(1, len(eq))]
    m = len(d_e)
    spp = sum(p * p for _, p in d_e)
    sdp = sum(d * p for d, p in d_e)
    sdd = sum(d * d for d, _ in d_e)
    gamma = sdp / spp
    s2 = (sdd - gamma * sdp) / (m - 1)
    t = gamma / (s2 / spp) ** 0.5

    got = load_all()["timeseries_engle_granger"].fn(spark, SF0001).collect()[0]
    assert got["n_diffs"] == m
    assert abs(got["gamma"] - gamma) < 1e-12
    assert abs(got["t_gamma"] - t) < 1e-9 * max(1.0, abs(t))
    assert got["t_gamma"] < 0  # residual mean-reverts on this data


def test_keep_best_survivor_dominates(spark):
    """The keep-best survivor must (a) belong to its component, (b) be
    the argmax-length member with min-id tie-break — cross-checked
    against the registered dedup_components and the NEAR_BASE corpus."""
    from pyspark.sql import functions as F

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.dedup_q import NEAR_BASE_SPARK

    load_all()  # ensure registration side effects
    comp = {
        r["node"]: r["component"]
        for r in load_all()["dedup_components"].fn(spark, SF0001).collect()
    }
    load_all()["dedup_components"]  # no-op
    lens = {
        r["doc_id"]: r["n"]
        for r in spark.sql(NEAR_BASE_SPARK)
        .select("doc_id", F.length("text").alias("n"))
        .collect()
    }
    members = {}
    for node, c in comp.items():
        members.setdefault(c, []).append(node)
    got = load_all()["curation_dedup_keep_best"].fn(spark, SF0001).collect()
    assert len(got) == len(members)
    changed = 0
    for r in got:
        ms = members[r["component"]]
        best = min(ms, key=lambda m: (-lens[m], m))
        assert r["survivor"] == best
        assert r["survivor_chars"] == lens[best]
        assert r["n_members"] == len(ms)
        assert r["n_drops"] == len(ms) - 1
        if best != min(ms):
            changed += 1
    # non-vacuous: keep-best differs from dedup_groups' min-id rule
    assert changed > 0


def test_range_search_matches_python(spark):
    """Replay bucketization + threshold in Python over the raw
    embeddings; also assert the subset relation vs brute force."""
    import math

    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.vectors_q import (
        DIMS,
        NUM_PLANES,
        QUERY_IDS,
        RANGE_TAU,
    )
    import hashlib

    def plane_weight(p, d):
        h = int(hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()[:15], 16)
        return ((h % 2001) - 1000) / 1000.0

    t = pq.read_table(SF0001 + "/embeddings.parquet")
    vecs = dict(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )
    planes = [
        [plane_weight(p, d) for d in range(1, DIMS + 1)]
        for p in range(NUM_PLANES)
    ]

    def bucket(v):
        return sum(
            (1 << i)
            for i, w in enumerate(planes)
            if sum(a * b for a, b in zip(v, w)) > 0
        )

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (
            math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        )

    buckets = {vid: bucket(v) for vid, v in vecs.items()}
    want = set()
    for q in QUERY_IDS:
        for vid, v in vecs.items():
            if vid != q and buckets[vid] == buckets[q]:
                if cos(vecs[q], v) >= RANGE_TAU - 1e-12:
                    want.add((q, vid))
    got = {
        (r["query_id"], r["vec_id"])
        for r in load_all()["sim_range_search"].fn(spark, SF0001).collect()
    }
    assert got == want and len(got) > 0


def test_ocr_reading_order_matches_python(spark):
    """Full-lane replay: regenerate boxes from md5, group lines by
    y-gap, assemble reading order, compare digests for every doc."""
    import hashlib

    import pyarrow.parquet as pq

    from posting_lines_spark.operators.multimodal import OCR_NB_MOD
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.stream_q import OCR_LINE_GAP

    doc_ids = pq.read_table(
        SF0001 + "/documents.parquet", columns=["doc_id"]
    ).column("doc_id").to_pylist()
    want = {}
    for doc_id in doc_ids:
        nb = 3 + doc_id % OCR_NB_MOD
        boxes = []
        for b in range(nb):
            hx = hashlib.md5(f"{doc_id}:{b}:ocr".encode()).hexdigest()
            boxes.append(
                (
                    int(hx[0:4], 16) % 240,  # y
                    int(hx[4:8], 16) % 200,  # x
                    b,
                    hx[12:18],
                )
            )
        boxes.sort()
        line_id, prev_y = 0, None
        lined = []
        for y, x, b, tok in boxes:
            if prev_y is None or y - prev_y > OCR_LINE_GAP:
                line_id += 1
            prev_y = y
            lined.append((line_id, x, b, tok))
        lined.sort()
        text = " ".join(tok for _, _, _, tok in lined)
        want[doc_id] = (
            nb,
            line_id,
            hashlib.md5(text.encode()).hexdigest(),
        )
    got = {
        r["doc_id"]: (r["n_boxes"], r["n_lines"], r["reading_digest"])
        for r in load_all()["multimodal_ocr_reading_order"]
        .fn(spark, SF0001)
        .collect()
    }
    assert got == want
    # non-vacuous: multi-line docs exist AND some line holds >1 box
    assert any(v[1] > 1 for v in want.values())
    assert any(v[0] > v[1] for v in want.values())


# ---- wave-24 replay tests ----


def test_active_users_matches_python(spark):
    from tests.test_round9 import _events_rows
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
    from tests.test_round9 import _events_rows
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


# ---- wave-25 replay tests ----


def test_kuiper_matches_python(spark):
    """Replay D+, D-, V from sorted cents samples; cross-check against
    the registered KS result (V >= D always, equality only if one
    signed gap is ~0)."""
    from tests.test_round9 import _events_rows
    from tests.test_round10 import _mw_groups
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
    from tests.test_round9 import _events_rows
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
