"""Geodesy kernel tests: projection correctness, determinism, totality."""

from __future__ import annotations

import math
import struct
from collections import Counter, defaultdict

import pytest

from posting_lines_spark.functions import geo
from tests.conftest import SF0001, _run


def bits(x: float) -> bytes:
    return struct.pack("d", x)


class TestPolynomials:
    # kernel domain is |x| ≤ 1.1 rad (see functions/geo.py docstring)
    def test_sin_accuracy(self):
        for v in [0.0, 1e-9, 0.3, 0.8, 1.02, 1.09, -1.05, -0.001]:
            assert abs(geo.dsin_py(v) - math.sin(v)) < 3e-16

    def test_cos_accuracy(self):
        for v in [0.0, 0.3, 0.8, 1.02, 1.09, -1.05]:
            assert abs(geo.dcos_py(v) - math.cos(v)) < 3e-16

    def test_atanh_accuracy(self):
        for z in [0.0, 0.02, 0.05, 0.0818, -0.07]:
            assert abs(geo.datanh_py(z) - math.atanh(z)) < 1e-17


class TestProjection:
    def test_false_origin_exact(self):
        # EPSG:3005 definition: (126°W, 45°N) maps to exactly (FE, FN).
        assert geo.forward_py(-126.0, 45.0) == (1000000.0, 0.0)

    def test_known_point_vancouver(self):
        # Independently computed BC Albers coordinates for Vancouver.
        x, y = geo.forward_py(-123.1207, 49.2827)
        assert abs(x - 1209619.21) < 0.5
        assert abs(y - 478302.92) < 0.5

    def test_meridian_scale(self):
        # 1° of latitude ≈ 111.1 km along a meridian in BC.
        _, y1 = geo.forward_py(-126.0, 49.0)
        _, y2 = geo.forward_py(-126.0, 50.0)
        assert abs((y2 - y1) - 111150) < 200

    def test_haversine_agreement(self):
        # Equal-area conic scale distortion is small inside BC: projected
        # segment lengths track great-circle distance within 1%.
        R = 6371008.8
        cases = [
            ((-126.0, 49.0), (-125.9, 49.05)),
            ((-132.0, 53.0), (-132.02, 53.01)),
            ((-123.0, 48.5), (-123.1, 48.52)),
        ]
        for (lon1, lat1), (lon2, lat2) in cases:
            x1, y1 = geo.forward_py(lon1, lat1)
            x2, y2 = geo.forward_py(lon2, lat2)
            planar = math.hypot(x2 - x1, y2 - y1)
            p1, p2, dl = map(math.radians, (lat1, lat2, lon2 - lon1))
            h = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
            gc = 2 * R * math.asin(math.sqrt(h))
            assert abs(planar - gc) / gc < 0.01

    def test_zero_length_iff_same_endpoints(self):
        x1, y1 = geo.forward_py(-126.5, 50.5)
        assert math.hypot(x1 - x1, y1 - y1) == 0.0


class TestCrossEngineDeterminism:
    @pytest.mark.usefixtures("spark")
    def test_spark_duckdb_python_bit_identical(self, spark, duck):
        from posting_lines_spark.plans import ais
        from posting_lines_spark.sources import load_table
        from tests.conftest import SF0001

        proj = geo.albers_cte_sql(
            ais.SEGMENTS_SQL,
            [("start_lon", "start_lat", "1"), ("end_lon", "end_lat", "2")],
            keep=["segment_id", "start_lon", "start_lat"],
        )
        sql = (
            f"SELECT segment_id, start_lon, start_lat, x1, y1, "
            f"{geo.line_length_m_sql('x1', 'y1', 'x2', 'y2')} AS len_m "
            f"FROM ({proj}) ORDER BY segment_id"
        )
        load_table(spark, SF0001, "lineitem").createOrReplaceTempView("lineitem")
        srows = spark.sql(sql).collect()
        drows = duck.execute(sql).fetchall()
        assert len(srows) == len(drows) > 0
        for s, d in zip(srows, drows):
            assert bits(s.x1) == bits(d[3])
            assert bits(s.y1) == bits(d[4])
            assert bits(s.len_m) == bits(d[5])
            px, py = geo.forward_py(d[1], d[2])
            assert bits(px) == bits(d[3])
            assert bits(py) == bits(d[4])


class TestSog:
    def test_duration_zero_is_null(self, spark):
        row = spark.sql(
            f"SELECT {geo.sog_kt_sql('100.0e0', '0')} AS sog, "
            f"{geo.sog_kt_sql('100.0e0', '10')} AS ok"
        ).collect()[0]
        assert row.sog is None
        assert row.ok == pytest.approx(100.0 / 10 * 1.94384)

    def test_sog_non_negative(self, spark):
        from tests.conftest import SF0001
        from posting_lines_spark.queries.geo_q import enrich_all_df

        bad = enrich_all_df(spark, SF0001).filter("sog_kt < 0 OR len_m < 0").count()
        assert bad == 0



def test_replay_geo_heatmap_counts(spark):
    """Partial replay of geo_heatmap_grid: the n_points per cell derive
    from the projected coordinates, which we take from the ENGINE's own
    enrichment (the Albers kernel has its own dedicated parity tests in
    test_geo.py); what this verifies independently is the tiling math
    and both zoom aggregations."""
    import math

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.geo_q import enriched_sql
    from posting_lines_spark.sources import load_table

    load_table(spark, SF0001, "lineitem").createOrReplaceTempView("lineitem")
    pts = spark.sql(f"SELECT x1, y1 FROM ({enriched_sql()})").collect()
    cells = Counter()
    for p in pts:
        cells[(1, math.floor(p["x1"] / 400000.0), math.floor(p["y1"] / 400000.0))] += 1
        cells[(2, math.floor(p["x1"] / 100000.0), math.floor(p["y1"] / 100000.0))] += 1
    got = _run(spark, "geo_heatmap_grid")
    assert len(got) == len(cells)
    for r in got:
        assert cells[(r["zoom"], r["cell_x"], r["cell_y"])] == r["n_points"]


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
