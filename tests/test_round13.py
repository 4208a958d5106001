"""Round-13 regression tests.

ADVICE-r12 items — the same degenerate-input parity class as r11/r12:

1. (medium) stats_ks_uniform / stats_cvm_uniform divided by
   (ab.b - ab.a) unguarded: a single-value purchase grid has b = a, so
   Spark emitted NULL while DuckDB emitted inf/NaN from x/0 — the
   engine/oracle divergence the welch_anova nullif guards exist to
   prevent. Fixed with nullif(ab.b - ab.a, 0) in the shared SQL and
   the Spark DataFrame path; these tests drive the degenerate grid
   through the FULL registered queries on both engines.

2. (low) events_time_to_convert computed n_converted / n_viewers
   without a zero guard — zero 'view' events diverged the same way.
   Fixed with nullif(CAST(n_viewers AS DOUBLE), 0e0).

3. (low) events_active_users_hll's oracle pinned TRUE bound booleans
   at 3σ, where ~0.3% of cells are EXPECTED outside the bound on any
   new dataset even when the sketch is correct. The pinned parity
   bound is now 5σ (10%); the tight 3σ (6%) check moved HERE, where
   the corpus is fixed and the check deterministic.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.conftest import SF0001


def _canon_rows(rows, cols):
    from tools.check_oracle import rows_canon

    return rows_canon([tuple(r) for r in rows], [c.lower() for c in cols])


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


# ---- round-13 PNG codec (VERDICT r12 item 4: the stub boundary
# shrinks again — stdlib-zlib PNG decode, no codec library) ----


def _md5_png_pixels(doc_id: int):
    import hashlib

    from posting_lines_spark.operators.multimodal import PNG_H, PNG_W

    px = []
    for r in range(PNG_H):
        dg = hashlib.md5(f"{doc_id}:{r}:png".encode()).digest()
        px.append([(dg[3 * p], dg[3 * p + 1], dg[3 * p + 2]) for p in range(PNG_W)])
    return px


def test_png_roundtrip_all_filters_rgb_rgba():
    import hashlib

    from posting_lines_spark.operators.multimodal import decode_png, encode_png

    for bpp in (3, 4):
        px = [
            [
                tuple(hashlib.md5(f"{r}:{p}:{bpp}".encode()).digest()[:bpp])
                for p in range(5)
            ]
            for r in range(8)
        ]
        for filters in ([0] * 8, [1] * 8, [2] * 8, [3] * 8, [4] * 8,
                        [r % 5 for r in range(8)]):
            data = encode_png(px, list(filters))
            w, h, out = decode_png(data)
            assert (w, h) == (5, 8) and out == px, (bpp, filters)


def test_png_crc_corruption_rejected():
    from posting_lines_spark.operators.multimodal import decode_png, encode_png

    data = bytearray(encode_png([[(1, 2, 3)] * 4] * 4))
    data[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def test_png_unsupported_shapes_raise_not_implemented():
    import struct
    import zlib

    from posting_lines_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
    )

    # palette PNG (color type 3) — requires PLTE handling we honestly
    # don't implement; must hit the documented boundary, not misparse
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(payload)
    with pytest.raises(ValueError):
        decode_png(b"GIF89a not a png")


def test_decode_media_dispatches_png(spark):
    """decode_media recognizes the PNG magic alongside BMP/WAV."""
    from posting_lines_spark.operators.multimodal import decode_media, encode_png

    px = _md5_png_pixels(7)
    df = spark.createDataFrame(
        [(7, bytearray(encode_png(px, [r % 5 for r in range(8)])))],
        "doc_id long, payload binary",
    )
    (row,) = decode_media(df).collect()
    assert row["kind"] == "png"
    assert (row["dim1"], row["dim2"]) == (5, 8)
    assert row["checksum"] == sum(c for r_ in px for p_ in r_ for c in p_)


def test_png_luma_query_matches_python_replay(spark):
    """Independent replay: regenerate every pixel from md5 in Python
    (never touching the PNG bytes) and compare the registered query's
    engine output row-for-row at sf0.001."""
    from posting_lines_spark.queries import load_all

    rows = load_all()["multimodal_png_luma"].fn(spark, SF0001).collect()
    assert len(rows) == 500
    for row in rows[:25] + rows[-5:]:
        px = _md5_png_pixels(row["doc_id"])
        assert row["sum_r"] == sum(p[0] for r_ in px for p in r_)
        assert row["sum_g"] == sum(p[1] for r_ in px for p in r_)
        assert row["sum_b"] == sum(p[2] for r_ in px for p in r_)
        assert row["weighted_luma"] == sum(
            (r + 1) * (p + 1)
            * (2 * px[r][p][0] + 5 * px[r][p][1] + px[r][p][2])
            for r in range(8)
            for p in range(5)
        )


# ---- wave-32 replays (timeseries_cusum_drift, graph_linkpred_cap_sweep,
# dedup_lsh_hot_salted) ----


def test_cusum_drift_matches_python(spark):
    import math
    from collections import defaultdict

    from tests.test_replays_r12 import _tbl
    from posting_lines_spark.queries import load_all

    daily = defaultdict(int)
    for e in _tbl("events"):
        if e["event_type"] == "purchase":
            from datetime import datetime

            us = int((e["ts"] - datetime(1970, 1, 1)).total_seconds() * 1e6)
            daily[us // 86_400_000_000] += round(e["value"] * 100)
    days = sorted(daily)
    n = len(days)
    sn = sum(daily.values())
    sxx = sum(x * x for x in daily.values())
    varsum = float(n * sxx - sn * sn)
    s = 0
    devs = []
    for i, d in enumerate(days, 1):
        s += daily[d]
        devs.append((d, n * s - i * sn))
    max_abs = max(abs(d) for _, d in devs)
    shift_day = min(day for day, d in devs if abs(d) == max_abs)
    denom = math.sqrt(float(n) * varsum)
    (r,) = load_all()["timeseries_cusum_drift"].fn(spark, SF0001).collect()
    assert r["n_days"] == n
    assert r["max_abs_dev"] == max_abs
    assert r["shift_day"] == shift_day
    assert r["bridge_stat"] == max_abs / denom
    assert r["bridge_up"] == max(d for _, d in devs) / denom
    assert r["bridge_down"] == -min(d for _, d in devs) / denom
    # the bridge endpoints are exactly zero: D_n = n·S_n − n·S_n
    assert devs[-1][1] == 0
    assert 0.0 < r["bridge_stat"]


def test_cap_sweep_matches_python(spark):
    from collections import Counter, defaultdict

    from tests.test_replays_r12 import _tbl
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.graph_q import CAP_SWEEP, LINKPRED_COOC

    baskets = {(e["l_orderkey"], e["l_partkey"]) for e in _tbl("lineitem")}
    per_order = defaultdict(list)
    for o, p in baskets:
        per_order[o].append(p)
    cooc = Counter()
    for parts in per_order.values():
        parts.sort()
        for i, a in enumerate(parts):
            for c in parts[i + 1 :]:
                cooc[(a, c)] += 1
    edges = {p for p, w in cooc.items() if w >= LINKPRED_COOC}
    adj = defaultdict(list)  # u -> [(w desc, v asc)]
    for (a, c) in edges:
        w = cooc[(a, c)]
        adj[a].append((-w, c))
        adj[c].append((-w, a))
    rnk = {}
    maxr = {}
    for u, nbrs in adj.items():
        nbrs.sort()
        for i, (_, v) in enumerate(nbrs, 1):
            rnk[(u, v)] = i
        maxr[u] = len(nbrs)
    wedges = []  # (a, c, eff) — the SQL's w1=(a→z), w2=(z→c) rank pair:
    # eff = max(rank of z within a's list, rank of c within z's list)
    for z, nbrs in adj.items():
        vs = [v for _, v in nbrs]
        for a in vs:
            for c in vs:
                if a < c:
                    wedges.append((a, c, max(rnk[(a, z)], rnk[(z, c)])))
    nw = len(wedges)
    rows = sorted(
        load_all()["graph_linkpred_cap_sweep"].fn(spark, SF0001).collect(),
        key=lambda r: r["cap"],
    )
    assert [r["cap"] for r in rows] == list(CAP_SWEEP)
    for r in rows:
        cap = r["cap"]
        surv = [(a, c) for a, c, eff in wedges if eff <= cap]
        assert r["n_wedges"] == len(surv)
        assert r["capped_nodes"] == sum(1 for m in maxr.values() if m > cap)
        cands = {
            (a, c) for a, c in surv
            if (a, c) not in edges
        }
        assert r["n_candidates"] == len(cands)
        assert r["wedge_share"] == len(surv) / float(nw)
    # monotone: a larger cap never loses wedges or candidates
    for r0, r1 in zip(rows, rows[1:]):
        assert r1["n_wedges"] >= r0["n_wedges"]
        assert r1["n_candidates"] >= r0["n_candidates"]
        assert r1["capped_nodes"] <= r0["capped_nodes"]


def test_hot_salted_lsh_census_and_equivalence(spark):
    """The hot path must genuinely run (buckets wider than hot_width by
    construction) and the blocked pair set must equal the plain
    quadratic one computed engine-side with hot_width=None."""
    from posting_lines_spark.operators import dedup
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.dedup_q import (
        _BOIL_SPARK,
        BANDS,
        HOT_WIDTH,
        NUM_HASHES,
    )
    from posting_lines_spark.sources import load_table

    from posting_lines_spark.queries.dedup_q import _BOIL_N

    (r,) = load_all()["dedup_lsh_hot_salted"].fn(spark, SF0001).collect()
    assert r["n_hot_buckets"] >= 1
    assert r["max_bucket_width"] > HOT_WIDTH
    # the boilerplate cluster is SF-independent and wider than hot_width
    assert _BOIL_N > HOT_WIDTH
    assert r["n_docs"] == 500 + _BOIL_N

    load_table(spark, SF0001, "documents").createOrReplaceTempView("documents")
    base = spark.sql(_BOIL_SPARK)
    sig = dedup.minhash_signature(
        dedup.shingles(base, "doc_id", "text", distinct=False), "doc_id", NUM_HASHES
    ).localCheckpoint()
    blocked = dedup.lsh_candidate_pairs(
        sig, "doc_id", NUM_HASHES, BANDS, hot_width=HOT_WIDTH
    )
    plain = dedup.lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BANDS, hot_width=None)
    b = {(x["id_a"], x["id_b"]) for x in blocked.collect()}
    p = {(x["id_a"], x["id_b"]) for x in plain.collect()}
    assert b == p
    assert r["n_candidate_pairs"] == len(p)


# ---- wave-33 replays (multimodal_png_phash, stats_ad_uniform) ----


def test_png_phash_matches_python_replay(spark):
    """Regenerate pixels from md5 (never touching PNG bytes), replay the
    average-hash bit rule, compare engine rows exactly."""
    from posting_lines_spark.queries import load_all

    rows = load_all()["multimodal_png_phash"].fn(spark, SF0001).collect()
    assert len(rows) == 500
    nonzero = 0
    for row in rows[:25] + rows[-5:]:
        px = _md5_png_pixels(row["doc_id"])
        lum = [2 * p[0] + 5 * p[1] + p[2] for r_ in px for p in r_]
        total = sum(lum)
        h = 0
        for k, v in enumerate(lum):
            if v * len(lum) > total:
                h |= 1 << k
        assert row["phash"] == h
        assert row["n_set_bits"] == bin(h).count("1")
        nonzero += h != 0
    assert nonzero > 0  # the hash is not vacuously zero


def test_ad_uniform_matches_python(spark):
    import math
    from collections import Counter

    from tests.test_replays_r12 import _tbl
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


# ---- wave-34 replays (stats_runs_test, timeseries_pettitt) ----


def _daily_cents():
    from collections import defaultdict
    from datetime import datetime

    from tests.test_replays_r12 import _tbl

    daily = defaultdict(int)
    for e in _tbl("events"):
        if e["event_type"] == "purchase":
            us = int((e["ts"] - datetime(1970, 1, 1)).total_seconds() * 1e6)
            daily[us // 86_400_000_000] += round(e["value"] * 100)
    return daily


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


def test_pettitt_matches_python(spark):
    from collections import Counter

    from posting_lines_spark.queries import load_all

    daily = _daily_cents()
    days = sorted(daily)
    n = len(days)
    counts = Counter(daily.values())
    # value -> R2 = lo + hi + 1 (2x average rank)
    r2 = {}
    hi = 0
    for x in sorted(counts):
        lo = hi
        hi += counts[x]
        r2[x] = lo + hi + 1
    s2 = 0
    us = []
    for t, d in enumerate(days, 1):
        s2 += r2[daily[d]]
        if t < n:
            us.append((d, s2 - t * (n + 1)))
    k = max(abs(u) for _, u in us)
    change_day = min(d for d, u in us if abs(u) == k)
    (row,) = load_all()["timeseries_pettitt"].fn(spark, SF0001).collect()
    assert row["n_days"] == n
    assert row["k_stat"] == k
    assert row["change_day"] == change_day
    assert row["log_p_over_2"] == -6.0 * k * k / (
        float(n) * n * n + float(n) * n
    )
    # definitional direct replay: U_t = sum_{i<=t} sum_{j>t} sgn(x_i-x_j)
    xs = [daily[d] for d in days]
    for t in (1, n // 3, n // 2, n - 1):
        u_direct = sum(
            (xs[i] > xs[j]) - (xs[i] < xs[j])
            for i in range(t)
            for j in range(t, n)
        )
        assert u_direct == dict(us)[days[t - 1]]


def test_no_duplicate_toplevel_defs_in_query_modules():
    """A later same-named module-level function silently SHADOWS an
    earlier one — round 13 hit this live: a second _cusum_sql broke the
    round-8 timeseries_changepoint_cusum at runtime while every
    individually-targeted check stayed green (only the full-registry
    sweep caught it). AST-scan every queries module for duplicate
    top-level def names; registration-name duplicates are separately
    guarded in register() itself."""
    import ast
    import os

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(__file__)),
        "posting_lines_spark",
        "queries",
    )
    for fname in sorted(os.listdir(qdir)):
        if not fname.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(qdir, fname)).read())
        seen: dict[str, int] = {}
        dupes = []
        for node in tree.body:  # top level only — nested defs are fine
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name in seen:
                    dupes.append(
                        f"{fname}:{node.lineno} def {node.name} shadows "
                        f"line {seen[node.name]}"
                    )
                seen[node.name] = node.lineno
        assert not dupes, dupes
