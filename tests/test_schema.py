"""Schema and data-quality tests (`queries/schema_q.py`): profiles,
checksums, entropy, functional dependencies, drift and the JDBC round trip.
"""

from __future__ import annotations

import math
from collections import Counter

import pyarrow.parquet as pq

from tests.conftest import (
    SF0001,
    _assert_query_matches_oracle,
    _md5_int,
    _run,
    _segments_py,
    _tbl,
    row_key,
)


def test_psi_matches_python_replay(spark):
    """PSI re-derived with the Python mirror of the integer-ln kernel:
    per-bin contributions and the ordered-fold total must match
    bit-for-bit."""
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.schema_q import PSI_BINS, PSI_WIDTH

    orders = pq.read_table(f"{SF0001}/orders.parquet").to_pylist()
    import datetime

    split = datetime.datetime(1998, 7, 1)
    n_a = [0] * PSI_BINS
    n_b = [0] * PSI_BINS
    for o in orders:
        b = min(int(o["o_totalprice"] // PSI_WIDTH), PSI_BINS - 1)
        if o["o_orderdate"] < split:
            n_a[b] += 1
        else:
            n_b[b] += 1
    ta, tb = sum(n_a), sum(n_b)
    contribs = []
    for i in range(PSI_BINS):
        p = (n_a[i] + 1) / (ta + PSI_BINS)
        q = (n_b[i] + 1) / (tb + PSI_BINS)
        lnr = dln_int_py((n_a[i] + 1) * (tb + PSI_BINS)) - dln_int_py(
            (n_b[i] + 1) * (ta + PSI_BINS)
        )
        contribs.append((p - q) * lnr)
    psi = 0.0
    for c in contribs:
        psi += c
    rows = load_all()["profile_psi_drift"].fn(spark, SF0001).collect()
    assert len(rows) == PSI_BINS
    for r in rows:
        assert r.n_a == n_a[r.bin] and r.n_b == n_b[r.bin]
        assert r.contrib == contribs[r.bin], r.bin
        assert r.psi == psi


def test_rank_formula_reproduces_ntile_for_ragged_n(spark):
    """ntile_from_rank_sql must equal ntile(k) exactly, including the
    ragged case where the first (n mod k) buckets take the remainder
    (the naive floor((rank-1)·k/n)+1 diverges there — 6 rows at
    n=10007, which is why the helper exists)."""
    from posting_lines_spark.queries.schema_q import ntile_from_rank_sql

    df = spark.range(0, 10007).selectExpr("id")  # n not divisible by k
    expr = ntile_from_rank_sql("(row_number() OVER (ORDER BY id))", 10007, 10)
    got = spark.sql(
        f"""
SELECT id,
       CAST({expr} AS BIGINT) AS formula,
       CAST(ntile(10) OVER (ORDER BY id) AS BIGINT) AS nt
FROM {{df}}
""",
        df=df,
    )
    assert got.filter("formula <> nt").count() == 0


def test_ntile_from_rank_formula_exhaustive():
    """Pure-Python exhaustive check of ntile_from_rank_sql's arithmetic
    against ntile's front-loaded sizing for every n ≤ 60 (plus primes
    997, 10007) × k ∈ {1,2,3,7,10} — including n < k and n % k == 0."""
    from posting_lines_spark.queries.schema_q import ntile_from_rank_sql  # noqa: F401

    def ref(n, k):
        q, r = divmod(n, k)
        out = []
        for i in range(k):
            out += [i + 1] * (q + (1 if i < r else 0))
        return out

    def formula(n, k):
        q, r = divmod(n, k)
        big, cut = q + 1, r * (q + 1)
        res = []
        for rank in range(1, n + 1):
            if r == 0:
                v = (rank - 1) // q + 1
            elif q == 0:
                v = rank
            elif rank <= cut:
                v = (rank - 1) // big + 1
            else:
                v = r + (rank - cut - 1) // q + 1
            res.append(v)
        return res

    for n in list(range(1, 61)) + [997, 10007]:
        for k in (1, 2, 3, 7, 10):
            assert formula(n, k) == ref(n, k), (n, k)


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


def test_functional_dependencies_matches_python(spark):
    """FD audit replay: exact distinct counts per candidate, and the
    semantically-known candidates behave (keys hold, reverses fail)."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.schema_q import _FD_CANDIDATES
    from tests.conftest import SF0001

    got = {
        r["fd"]: (r["n_lhs"], r["n_pairs"], r["violations"], r["holds"])
        for r in load_all()["dq_functional_dependencies"].fn(spark, SF0001).collect()
    }
    for tbl, lhs, rhs in _FD_CANDIDATES:
        rows = pq.read_table(
            SF0001 + f"/{tbl}.parquet", columns=[lhs, rhs]
        ).to_pylist()
        n_lhs = len({r[lhs] for r in rows})
        n_pairs = len({(r[lhs], r[rhs]) for r in rows})
        key = f"{tbl}.{lhs}->{rhs}"
        assert got[key] == (
            n_lhs,
            n_pairs,
            n_pairs - n_lhs,
            1 if n_pairs == n_lhs else 0,
        )
    # key -> attribute FDs must hold
    assert got["orders.o_orderkey->o_custkey"][3] == 1
    assert got["nation.n_nationkey->n_regionkey"][3] == 1
    assert got["part.p_partkey->p_name"][3] == 1
    assert got["customer.c_custkey->c_nationkey"][3] == 1
    # reverse of a genuinely many-to-one mapping must fail
    assert got["nation.n_regionkey->n_nationkey"][3] == 0


def test_jdbc_roundtrip_matches_oracle(spark, duck):
    """The registered jdbc_roundtrip query (write → partitioned read →
    aggregate) hash-matches the parquet-side oracle at sf0.001."""
    _assert_query_matches_oracle(spark, duck, "jdbc_roundtrip")


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


# ---- ADVICE 2: profile_column_entropy description de-staled ----


def test_column_entropy_description_no_stale_decimal_routing():
    from posting_lines_spark.queries import load_all

    desc = load_all()["profile_column_entropy"].description
    assert "decimal-routed" not in desc
    assert "order-pinned" in desc


def test_replay_profile_table(spark):
    from posting_lines_spark.queries.schema_q import PROFILE_COLS

    li = _tbl("lineitem")
    got = {r["col_name"]: r for r in _run(spark, "profile_table")}
    assert sorted(got) == sorted(PROFILE_COLS)
    for c in PROFILE_COLS:
        vals = [x[c] for x in li if x[c] is not None]
        r = got[c]
        assert r["n_nulls"] == len(li) - len(vals)
        assert r["n_distinct"] == len(set(vals))
        assert r["min_val"] == float(min(vals))
        assert r["max_val"] == float(max(vals))


def test_replay_table_checksum(spark):
    xor, msum, n = 0, 0, 0
    for li in _tbl("lineitem"):
        key = (
            f"{li['l_orderkey']}|{li['l_partkey']}|{li['l_suppkey']}|"
            f"{li['l_linenumber']}|{int(li['l_quantity'])}|"
            f"{li['l_returnflag']}|{li['l_linestatus']}"
        )
        h = _md5_int(key)
        xor ^= h
        msum += h % 1000000007
        n += 1
    (r,) = _run(spark, "table_checksum")
    assert (r["n_rows"], r["xor_digest"], r["sum_digest"]) == (n, xor, msum)


def test_replay_profile_histogram(spark):
    buckets = Counter(
        math.floor(o["o_totalprice"] / 10000.0) for o in _tbl("orders")
    )
    got = [(r["bucket"], r["bucket_lo"], r["n_orders"]) for r in _run(spark, "profile_histogram")]
    assert sorted(got, key=row_key) == [(b, b * 10000, buckets[b]) for b in sorted(buckets)]
    assert len(buckets) > 5


def test_replay_dq_audit(spark):
    li = _tbl("lineitem")
    orders = _tbl("orders")
    cust = {c["c_custkey"] for c in _tbl("customer")}
    okeys = {o["o_orderkey"] for o in orders}
    want = {
        "lineitem_fk_orders": (
            sum(1 for x in li if x["l_orderkey"] not in okeys), len(li)
        ),
        "orders_fk_customer": (
            sum(1 for o in orders if o["o_custkey"] not in cust), len(orders)
        ),
        "orders_pk_unique": (
            len(orders) - len(okeys), len(orders)
        ),
        "lineitem_qty_range": (
            sum(1 for x in li if x["l_quantity"] < 1 or x["l_quantity"] > 50),
            len(li),
        ),
        "lineitem_discount_domain": (
            sum(1 for x in li if x["l_discount"] < 0 or x["l_discount"] > 0.1),
            len(li),
        ),
        "orders_priority_notnull": (
            sum(1 for o in orders if o["o_orderpriority"] is None), len(orders)
        ),
    }
    got = {
        r["check_name"]: (r["n_violations"], r["n_checked"])
        for r in _run(spark, "dq_audit")
    }
    assert got == want
    assert all(v[1] > 0 for v in want.values())


def test_replay_segments_full_schema(spark):
    li = _tbl("lineitem")
    want = sorted(
        (
            s["segment_id"], s["uid"], s["mmsi"], s["duration"],
            s["start_lat"], s["start_lon"], s["end_lat"], s["end_lon"],
            s["is_class_a"], s["class_ais"], s["class_gen"], s["name"],
            s["is_unique"],
        )
        for s in map(_segments_py, li)
    )
    got = sorted(
        (
            r["segment_id"], r["uid"], r["mmsi"], r["duration"],
            r["start_lat"], r["start_lon"], r["end_lat"], r["end_lon"],
            r["is_class_a"], r["class_ais"], r["class_gen"], r["name"],
            r["is_unique"],
        )
        for r in _run(spark, "segments_full_schema")
    )
    assert got == want
    # schema fidelity: the name cap and NULL mode genuinely occur
    assert any(r[11] is None for r in got)
