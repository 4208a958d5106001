"""Spatial predicate tests: distance-kernel correctness on known
geometry, and the plan shape of the distance join (bucketed broadcast
equi-join — never a cross join)."""

from __future__ import annotations

from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from posting_lines_spark.functions import geo
from tests.conftest import SF0001, SF001, _events, _segments_py


def _dist(spark, px, py, x1, y1, x2, y2):
    df = spark.createDataFrame(
        [(px, py, x1, y1, x2, y2)], "xs double, ys double, x1 double, y1 double, x2 double, y2 double"
    )
    layers = geo.point_segment_dist_layers("xs", "ys", "x1", "y1", "x2", "y2")
    return geo.with_layers(df, layers).collect()[0].dist_m


def test_point_segment_distance_cases(spark):
    # perpendicular foot inside the segment
    assert _dist(spark, 5.0, 3.0, 0.0, 0.0, 10.0, 0.0) == 3.0
    # foot beyond the end → distance to endpoint
    assert _dist(spark, 13.0, 4.0, 0.0, 0.0, 10.0, 0.0) == 5.0
    # degenerate (zero-length) segment → point distance, no div-by-zero
    assert _dist(spark, 3.0, 4.0, 0.0, 0.0, 0.0, 0.0) == 5.0
    # point on the segment
    assert _dist(spark, 4.0, 0.0, 0.0, 0.0, 10.0, 0.0) == 0.0


def test_distance_join_plan_is_broadcast_equi_join(spark):
    from posting_lines_spark.queries.spatial_q import geo_distance_join

    df = geo_distance_join(spark, SF0001)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text and "BroadcastNestedLoopJoin" not in text


def test_bbox_closed_bounds(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 1.0), (1.0000001, 1.0), (-0.0000001, 0.5)], "x double, y double"
    )
    pred = geo.point_in_bbox_sql("x", "y", 0.0, 0.0, 1.0, 1.0)
    assert df.filter(F.expr(pred)).count() == 2


def test_random_segment_distances_match_numpy(spark):
    """120 seeded random (point, segment) cases in ONE DataFrame: the
    layered Spark expression must match a NumPy clamp-projection reference
    to float ulps."""
    import numpy as np

    rng = np.random.default_rng(20260813)
    m = rng.uniform(-100.0, 100.0, size=(120, 6))
    rows = [tuple(map(float, r)) for r in m]
    df = spark.createDataFrame(
        rows, "xs double, ys double, x1 double, y1 double, x2 double, y2 double"
    )
    layers = geo.point_segment_dist_layers("xs", "ys", "x1", "y1", "x2", "y2")
    got = [
        r.dist_m
        for r in geo.with_layers(df.withColumn("i", F.monotonically_increasing_id()), layers)
        .orderBy("xs", "ys", "x1")
        .collect()
    ]
    order = np.lexsort((m[:, 2], m[:, 1], m[:, 0]))
    m = m[order]
    dx, dy = m[:, 4] - m[:, 2], m[:, 5] - m[:, 3]
    wx, wy = m[:, 0] - m[:, 2], m[:, 1] - m[:, 3]
    len2 = dx * dx + dy * dy
    t = np.clip(np.divide(wx * dx + wy * dy, len2, out=np.zeros_like(len2), where=len2 > 0), 0, 1)
    want = np.sqrt((wx - t * dx) ** 2 + (wy - t * dy) ** 2)
    assert np.allclose(got, want, rtol=1e-12, atol=1e-12)


def test_knn_grid_candidates_bounded(spark):
    """The ring probe's scale claims: (a) every candidate pair is within
    Chebyshev ring R of the segment's cell (the join prunes by locality,
    so per-segment candidates are the LOCAL station density, not the full
    dimension), and (b) the candidate set is strictly smaller than the
    cross product the broadcast KNN evaluates."""
    from posting_lines_spark.queries.spatial_q import (
        CELL_M,
        KNN_RING_MAX,
        _stations_projected,
    )
    from posting_lines_spark.queries.geo_q import enrich_materialized
    from tests.conftest import SF001

    r = KNN_RING_MAX
    seg = enrich_materialized(spark, SF001, ["segment_id", "x1", "y1"]).withColumns(
        {
            "cx": F.expr(f"CAST(floor(x1 / {CELL_M!r}) AS BIGINT)"),
            "cy": F.expr(f"CAST(floor(y1 / {CELL_M!r}) AS BIGINT)"),
        }
    )
    st = _stations_projected(spark, SF001).withColumns(
        {
            "scx": F.expr(f"CAST(floor(xs / {CELL_M!r}) AS BIGINT)"),
            "scy": F.expr(f"CAST(floor(ys / {CELL_M!r}) AS BIGINT)"),
        }
    )
    probes = st.select(
        "station_id",
        "scx",
        "scy",
        F.explode(
            F.array(
                *[
                    F.struct((F.col("scx") + i).alias("cx"), (F.col("scy") + j).alias("cy"))
                    for i in range(-r, r + 1)
                    for j in range(-r, r + 1)
                ]
            )
        ).alias("p"),
    ).select("station_id", "scx", "scy", "p.cx", "p.cy")
    cand = seg.join(F.broadcast(probes), ["cx", "cy"])
    stats = cand.agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.max(
            F.greatest(
                F.abs(F.col("cx") - F.col("scx")), F.abs(F.col("cy") - F.col("scy"))
            )
        ).alias("max_cheb"),
    ).collect()[0]
    n_seg = seg.count()
    n_st = st.count()
    assert stats.max_cheb <= r, "candidate outside the probed rings"
    assert stats.n_cand < n_seg * n_st, "ring probe did not prune the cross product"


def test_knn_grid_agrees_with_broadcast_knn_under_bound(spark):
    """Within the soundness bound the ring probe must reproduce the exact
    broadcast KNN per station (same Voronoi rollup restricted to
    min_dist < R·CELL)."""
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.spatial_q import CELL_M, KNN_RING_MAX
    from tests.conftest import SF001

    reg = load_all()
    grid = {r.station_id: r for r in reg["geo_knn_grid"].fn(spark, SF001).collect()}
    # geo_knn_join is unbounded; the grid rollup only covers segments with
    # min_dist < R·CELL, so per station: same closest segment (bit-equal
    # distance — it is trivially under the bound) and a subset count.
    # Exactness of the bounded set itself is proven by the brute-force
    # oracle under the same bound (check_oracle geo_knn_grid).
    full = {r.station_id: r for r in reg["geo_knn_join"].fn(spark, SF001).collect()}
    assert set(grid) == set(full)
    for sid, g in grid.items():
        f = full[sid]
        assert g.closest_m == f.closest_m, sid
        assert g.n_nearest_segments <= f.n_nearest_segments, sid
        assert g.closest_m < KNN_RING_MAX * CELL_M


# --- DBSCAN halving: equals in-Spark brute force at sf0.001 ---


def test_dbscan_core_matches_bruteforce(spark):
    from pyspark.sql import functions as F

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.spatial_q import (
        DBSCAN_EPS_M,
        DBSCAN_MINPTS,
    )
    from posting_lines_spark.queries.geo_q import enrich_materialized

    pts = (
        enrich_materialized(spark, SF0001, ["segment_id", "x1", "y1"])
        .selectExpr("segment_id AS id", "x1 AS x", "y1 AS y")
        .distinct()
        .localCheckpoint(eager=True)
    )
    b = pts.select(
        F.col("id").alias("id2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    eps2 = DBSCAN_EPS_M * DBSCAN_EPS_M
    # brute force: every ordered pair incl. self, no grid, no halving
    brute = (
        pts.crossJoin(b)
        .filter(
            (F.col("x") - F.col("x2")) * (F.col("x") - F.col("x2"))
            + (F.col("y") - F.col("y2")) * (F.col("y") - F.col("y2"))
            <= F.lit(eps2)
        )
        .groupBy("id", "x", "y")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
        .groupBy((F.col("n_neighbors") >= DBSCAN_MINPTS).alias("is_core"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("n_neighbors").alias("min_neighbors"),
            F.max("n_neighbors").alias("max_neighbors"),
        )
        .orderBy("is_core")
        .collect()
    )
    got = sorted(load_all()["geo_dbscan_core"].fn(spark, SF0001).collect(), key=lambda r: r.is_core)
    assert [
        (r.is_core, r.n_points, r.min_neighbors, r.max_neighbors) for r in got
    ] == [(r.is_core, r.n_points, r.min_neighbors, r.max_neighbors) for r in brute]


def test_geo_stay_points_matches_python(spark):
    from collections import defaultdict

    from posting_lines_spark.queries import load_all

    fixes = defaultdict(list)
    for r in _events(sf=SF001):
        us = int(r["ts"].timestamp() * 1e6)
        cell = int(round(r["value"] * 100) // 5000)
        fixes[r["user_id"]].append((us, r["event_id"], cell))
    want = []
    for uid, fx in fixes.items():
        fx.sort()
        run: list[tuple] = []
        for us, _eid, cell in fx + [(None, None, "END")]:
            if run and cell == run[-1][1]:
                run.append((us, cell))
                continue
            if len(run) >= 3:
                want.append((uid, run[0][1], run[0][0], run[-1][0], len(run)))
            run = [(us, cell)] if cell != "END" else []
    got = load_all()["geo_stay_points"].fn(spark, SF001).collect()
    got_set = {
        (r["user_id"], r["clat"], r["start_us"], r["end_us"], r["n_fixes"]) for r in got
    }
    assert got_set == set(want)
    assert len(got) > 500  # non-vacuous at the correctness SF


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
