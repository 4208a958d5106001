"""Round-12 replay batch 7 (final): the last seven verbatim-shared-text
queries without an independent replay (rationale in
tests/test_replays_r12.py). After this batch the census risk list is
EMPTY: every registered query is covered by a replay, a DataFrame-API
engine formulation, or a DuckDB-divergent oracle text.

geo_track_summary and geo_point_in_polygon replay the aggregation /
ray-cast layers over values derived in Python from the deterministic
segments formulas (plans/ais.py); the Albers kernel itself has its own
dedicated parity suite (tests/test_geo.py), and geo_track_summary
additionally takes len_m from the engine's enrichment to verify the
fixed-point rollup independently."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from tests.conftest import SF0001, row_key


def _tbl(name: str) -> list[dict]:
    return pq.read_table(f"{SF0001}/{name}.parquet").to_pylist()


def _dq(v, scale: int) -> Decimal:
    return Decimal(repr(float(v))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    )


def _md5_int(s: str, salt: str) -> int:
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:15], 16)


def _run(spark, name):
    from posting_lines_spark.queries import load_all

    return load_all()[name].fn(spark, SF0001).collect()


def test_replay_embedding_centroids(spark):
    emb = _tbl("embeddings")
    sums = defaultdict(Decimal)
    cnts = Counter()
    for e in emb:
        for dim, val in enumerate(e["embedding"], start=1):
            key = (e["label"], dim)
            sums[key] += _dq(val, 6)
            cnts[key] += 1
    got = _run(spark, "embedding_centroids")
    assert len(got) == len(sums) > 0
    for r in got:
        key = (r["label"], r["dim"])
        assert r["n_vecs"] == cnts[key]
        assert r["centroid_val"] == float(str(sums[key])) / cnts[key]


def test_replay_fuzzy_join_levenshtein(spark):
    from posting_lines_spark.queries.text_q import FUZZY_K

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, start=1):
            cur = [i]
            for j, cb in enumerate(b, start=1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    names = {}
    for i in range(300):
        names[i] = f"VESSEL_{i}"
        if i % 3 == 0:
            names[i + 1000] = f"VESSEL{i}"
        elif i % 3 == 1:
            names[i + 1000] = f"VESSEL#{i}"
        else:
            names[i + 1000] = f"XVESSEL_{i}"
    want = []
    for a in range(300):
        for b in range(1000, 1300):
            d = lev(names[a], names[b])
            if d <= FUZZY_K:
                want.append((a, b, names[a], names[b], d))
    want.sort()
    got = [
        (r["id_a"], r["id_b"], r["name_a"], r["name_b"], r["lev"])
        for r in _run(spark, "fuzzy_join_levenshtein")
    ]
    assert sorted(got, key=row_key) == sorted(want, key=row_key)
    # every corruption mode contributes matches
    assert len(want) >= 300


def _segments_py(li: dict) -> dict:
    ok, ln, pk, sk = (
        li["l_orderkey"], li["l_linenumber"], li["l_partkey"], li["l_suppkey"]
    )
    start_lon = -134.0 + (pk % 1000) / 1000.0 * 12.0
    start_lat = 48.0 + (sk % 100) / 100.0 * 6.0
    return {
        "segment_id": ok * 10 + ln,
        "uid": ok,
        "mmsi": 200000000 + (sk % 100) * 1000 + (pk % 500),
        "duration": 0 if ok % 50 == 0 else math.floor(li["l_quantity"] * 60.0) + 1,
        "start_lon": start_lon,
        "start_lat": start_lat,
        "end_lon": start_lon + ((ok % 100) - 50) / 1000.0,
        "end_lat": start_lat + ((ln % 10) - 5) / 1000.0,
        "is_class_a": (ok % 10) < 7,
        "class_ais": pk % 100,
        "class_gen": sk % 10,
        "name": None if ok % 10 == 9 else f"VESSEL_{sk % 100}"[:20],
        "is_unique": (ok % 20) != 0,
    }


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


def test_replay_geo_point_in_polygon(spark):
    from posting_lines_spark.queries.spatial_q import ZONE

    def crossings(x: float, y: float) -> int:
        c = 0
        n = len(ZONE)
        for i in range(n):
            xi, yi = ZONE[i]
            xj, yj = ZONE[(i + 1) % n]
            if (yi > y) != (yj > y) and x < (xj - xi) * (y - yi) / (yj - yi) + xi:
                c += 1
        return c

    from tests.conftest import SF001
    from posting_lines_spark.queries import load_all

    for sf, expect_both in ((SF0001, False), (SF001, True)):
        groups = defaultdict(lambda: [0, None, None, 0])
        for li in pq.read_table(f"{sf}/lineitem.parquet").to_pylist():
            s = _segments_py(li)
            inside = crossings(s["start_lon"], s["start_lat"]) % 2 == 1
            g = groups[inside]
            g[0] += 1
            g[1] = s["segment_id"] if g[1] is None else min(g[1], s["segment_id"])
            g[2] = s["segment_id"] if g[2] is None else max(g[2], s["segment_id"])
            g[3] += s["segment_id"]
        got = {
            r["inside"]: r
            for r in load_all()["geo_point_in_polygon"].fn(spark, sf).collect()
        }
        assert set(got) == set(groups)
        if expect_both:
            # sf0.001's key ranges keep every point below the pentagon
            # (lat <= 48.54); the full extent at sf0.01 populates BOTH
            assert set(got) == {True, False}
        for inside, (n, mn, mx, ck) in groups.items():
            r = got[inside]
            assert (
                r["n_points"], r["min_seg"], r["max_seg"], r["seg_checksum"]
            ) == (n, mn, mx, ck)


def test_replay_geo_track_summary(spark):
    """Aggregation-layer replay: len_m comes from the ENGINE's enriched
    frame (the Albers kernel has its own parity suite); the int64
    fixed-point rollup, exact-totals track speed, and max are
    recomputed in Python."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.geo_q import enriched_sql
    from posting_lines_spark.sources import load_table

    load_table(spark, SF0001, "lineitem").createOrReplaceTempView("lineitem")
    rows = spark.sql(
        f"SELECT mmsi, len_m, duration, sog_kt FROM ({enriched_sql()}) "
        "WHERE duration > 0"
    ).collect()
    agg = defaultdict(lambda: [0, 0, 0, -1.0])  # n, len_mm, dur, max_sog
    for r in rows:
        a = agg[r["mmsi"]]
        a[0] += 1
        a[1] += round(r["len_m"] * 1000.0)
        a[2] += r["duration"]
        a[3] = max(a[3], r["sog_kt"])
    got = _run(spark, "geo_track_summary")
    assert len(got) == len(agg)
    for r in got:
        n, mm, dur, mx = agg[r["mmsi"]]
        assert r["n_segments"] == n
        assert r["total_len_m"] == mm / 1000.0
        assert r["total_duration_s"] == dur
        assert r["track_sog_kt"] == (mm / 1000.0) / dur * 1.94384
        assert r["max_sog_kt"] == mx


def test_replay_sim_kmeans_ivf(spark):
    from posting_lines_spark.queries.vectors_q import KM_K

    emb = {e["vec_id"]: [float(v) for v in e["embedding"]] for e in _tbl("embeddings")}
    seeds = sorted(emb, key=lambda v: (_md5_int(str(v), "kmeans"), v))[:KM_K]
    cent = {c: dict(enumerate(emb[vid], start=1)) for c, vid in enumerate(seeds)}

    def assign(cent):
        out = {}
        for vid, vec in emb.items():
            best = None
            for c, cv in cent.items():
                d2 = sum(
                    (_dq((v - cv[dim]) * (v - cv[dim]), 5) for dim, v in enumerate(vec, start=1)),
                    Decimal(0),
                )
                if best is None or (d2, c) < best[:2]:
                    best = (d2, c)
            out[vid] = best
        return out

    def update(assignment):
        sums = defaultdict(Decimal)
        cnts = Counter()
        for vid, (_, c) in assignment.items():
            for dim, v in enumerate(emb[vid], start=1):
                sums[(c, dim)] += _dq(v, 6)
                cnts[(c, dim)] += 1
        return (
            {
                c: {
                    dim: float(str(sums[(c, dim)])) / cnts[(c, dim)]
                    for (cc, dim) in sums
                    if cc == c
                }
                for c in {cc for cc, _ in sums}
            },
            sums,
            cnts,
        )

    a1 = assign(cent)
    c1, _, _ = update(a1)
    a2 = assign(c1)
    _, sums2, cnts2 = update(a2)

    members = defaultdict(list)
    for vid, (d2, c) in a2.items():
        members[c].append(d2)
    got = {r["cluster_id"]: r for r in _run(spark, "sim_kmeans_ivf")}
    assert set(got) == set(members)
    for c, d2s in members.items():
        r = got[c]
        assert r["n_members"] == len(d2s)
        assert r["mean_dist2"] == float(str(sum(d2s, Decimal(0)))) / len(d2s)
        csum = sum(
            (sums2[(c, dim)] for (cc, dim) in sums2 if cc == c), Decimal(0)
        )
        cnt = max(v for (cc, _), v in cnts2.items() if cc == c)
        assert r["centroid_checksum"] == float(str(csum)) / cnt
    assert len(members) == KM_K  # no cluster died during training


def test_replay_stream_quantile_hist(spark):
    from posting_lines_spark.queries.stream_q import SQH_BINS, SQH_WIDTH

    vals = [e["value"] for e in _tbl("events")]
    bins = Counter(
        min(max(math.floor(v / SQH_WIDTH), 0), SQH_BINS - 1) for v in vals
    )
    cents = sorted(round(v * 100) for v in vals)
    total = len(vals)
    got = {r["p"]: r for r in _run(spark, "stream_quantile_hist")}
    assert set(got) == {0.5, 0.9, 0.99}
    for p, r in got.items():
        rank = math.ceil(p * total)
        run = 0
        for b in sorted(bins):
            run += bins[b]
            if run >= rank:
                qbin = b
                break
        assert r["n_rows"] == total
        assert r["est_q"] == (qbin + 1) * SQH_WIDTH
        assert r["exact_q"] == cents[rank - 1] / 100.0
        assert r["bound_ok"]
