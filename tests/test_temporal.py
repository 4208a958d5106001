"""Time-series tests (`queries/temporal_q.py`): each series statistic
replayed in plain Python, and the constant-series guards on both engines.
"""

from __future__ import annotations

import math
import statistics
from collections import Counter, defaultdict
from datetime import datetime
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq
import pytest

from tests.conftest import (
    SF0001,
    SF001,
    _canon_rows,
    _daily_cents,
    _daily_means_exact,
    _dsum,
    _events,
    _events_rows,
    _events_us,
    _tbl,
    _us,
)


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


# --- DTW ---


def test_dtw_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import DTW_REF_TYPE

    series = _daily_means_exact(_events())
    b = series[DTW_REF_TYPE]
    m = len(b)
    INF = 1.0e18
    rows = load_all()["timeseries_dtw"].fn(spark, SF0001).collect()
    for row in rows:
        a = series[row.event_type]
        prev = [0.0] + [INF] * m
        for av in a:
            nr = [INF]
            for j in range(1, m + 1):
                nr.append(abs(av - b[j - 1]) + min(prev[j], nr[j - 1], prev[j - 1]))
            prev = nr
        assert (row.n_days, row.m_days) == (len(a), m)
        assert row.dtw == prev[m]  # identical fp op order -> bit-exact
    assert {r.event_type for r in rows} == set(series)
    assert next(r.dtw for r in rows if r.event_type == DTW_REF_TYPE) == 0.0


# --- motif discovery ---


def test_motif_discovery_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import MOTIF_W

    series = _daily_means_exact(_events())
    rows = load_all()["timeseries_motif_discovery"].fn(spark, SF0001).collect()
    assert {r.event_type for r in rows} == set(series)
    for row in rows:
        a = series[row.event_type]
        n = len(a)
        wins = {}
        for i in range(1, n - MOTIF_W + 2):
            w = a[i - 1 : i - 1 + MOTIF_W]
            m = sum(w) / MOTIF_W
            sd = math.sqrt(sum(x * x for x in w) / MOTIF_W - m * m)
            if sd > 0:
                wins[i] = (w, m, sd)
        best = None
        for i, (wa, ma, sa) in wins.items():
            for j, (wb, mb, sb) in wins.items():
                if j < i + MOTIF_W:
                    continue
                d = sum(
                    ((x - ma) / sa - (y - mb) / sb) ** 2 for x, y in zip(wa, wb)
                )
                key = (d, i, j)
                if best is None or key < best:
                    best = key
        d, i, j = best
        assert (row.i, row.j) == (i, j)
        assert math.isclose(row.dist, d, rel_tol=1e-9)


def _daily_means_decimal():
    """Per (event_type, day) decimal-routed daily means, mirroring
    davg_expr (DECIMAL(38,6) sum -> string -> double -> /n)."""
    rows = _events_us()
    acc = defaultdict(lambda: [Decimal(0), 0])
    for r in rows:
        day = r["ts_us"] // 86_400_000_000
        a = acc[(r["event_type"], day)]
        a[0] += Decimal(repr(r["value"])).quantize(Decimal("0.000001"))
        a[1] += 1
    series = defaultdict(list)
    for (et, day), (s, n) in sorted(acc.items()):
        series[et].append((day, float(str(s)) / n))
    return {et: [v for _, v in sorted(pts)] for et, pts in series.items()}


# --- Theil-Sen: pairwise-slope median replay ---


def test_theilsen_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    series = _daily_means_decimal()
    out = {
        r.event_type: r
        for r in load_all()["timeseries_theilsen_slope"].fn(spark, SF0001).collect()
    }
    for et, vs in series.items():
        n = len(vs)
        slopes = [
            (vs[j] - vs[i]) / (j - i) for i in range(n) for j in range(i + 1, n)
        ]
        slope = statistics.median(slopes)
        intercept = statistics.median(v - slope * (i + 1) for i, v in enumerate(vs))
        r = out[et]
        assert r.n_pairs == len(slopes)
        assert abs(r.slope - slope) < 1e-9
        assert abs(r.intercept - intercept) < 1e-9


# --- Hampel: rolling median/MAD replay ---


def test_hampel_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all

    series = _daily_means_decimal()
    expected = set()
    for et, vs in series.items():
        n = len(vs)
        for i in range(n):
            lo, hi = max(0, i - 3), min(n, i + 4)
            win = vs[lo:hi]
            med = statistics.median(win)
            mad = statistics.median(abs(w - med) for w in win)
            if abs(vs[i] - med) > 3.0 * 1.4826 * mad:
                expected.add((et, i))
    got = load_all()["timeseries_hampel_outliers"].fn(spark, SF0001).collect()
    # map day back to index per type
    rows = _events_us()
    days = defaultdict(set)
    for r in rows:
        days[r["event_type"]].add(r["ts_us"] // 86_400_000_000)
    day_idx = {
        et: {d: i for i, d in enumerate(sorted(ds))} for et, ds in days.items()
    }
    got_keys = {(r.event_type, day_idx[r.event_type][r.day]) for r in got}
    assert got_keys == expected


# --- Holt-Winters: recurrence replay ---


def test_holt_winters_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_PERIOD,
    )

    series = _daily_means_decimal()
    out = {
        r.event_type: r
        for r in load_all()["timeseries_holt_winters"].fn(spark, SF0001).collect()
    }
    m = HW_PERIOD
    for et, vs in series.items():
        if len(vs) < 2 * m:
            assert et not in out
            continue
        l = sum(vs[:m]) / float(m)
        b = (sum(vs[m : 2 * m]) / float(m) - l) / float(m)
        s = [v - l for v in vs[:m]]
        for y in vs[2 * m :]:
            new_l = HW_ALPHA * (y - s[0]) + (1 - HW_ALPHA) * (l + b)
            new_b = HW_BETA * (new_l - l) + (1 - HW_BETA) * b
            new_s = HW_GAMMA * (y - new_l) + (1 - HW_GAMMA) * s[0]
            s = s[1:] + [new_s]
            l, b = new_l, new_b
        r = out[et]
        assert abs(r.level - l) < 1e-9
        assert abs(r.trend - b) < 1e-9
        assert abs(r.forecast_next - (l + b + s[0])) < 1e-9


# --- SAX: z-norm + PAA + breakpoint replay ---


def test_sax_matches_python_replay(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import SAX_W

    series = _daily_means_decimal()
    out = {
        r.event_type: r.sax
        for r in load_all()["timeseries_sax_symbols"].fn(spark, SF0001).collect()
    }
    breaks = [-0.8416212335729142, -0.2533471031357997, 0.2533471031357997,
              0.8416212335729142]
    for et, vs in series.items():
        n = len(vs)
        mu = sum(vs) / n
        sd = math.sqrt(sum(v * v for v in vs) / n - mu * mu)
        z = [(v - mu) / sd for v in vs]
        segs = defaultdict(list)
        for i, zv in enumerate(z):
            segs[(i * SAX_W) // n].append(zv)
        sax = ""
        for sg in sorted(segs):
            m = sum(segs[sg]) / len(segs[sg])
            k = sum(1 for b in breaks if m >= b)
            sax += "abcde"[k]
        assert out[et] == sax, et


def test_kalman_level_matches_python(spark):
    from collections import defaultdict
    from decimal import Decimal

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import KALMAN_P0, KALMAN_Q, KALMAN_R

    acc = defaultdict(lambda: defaultdict(lambda: [Decimal(0), 0]))
    for r in _events(sf=SF001):
        day = (r["ts"].timestamp() * 1e6) // 86400000000.0
        a = acc[r["event_type"]][day]
        a[0] += Decimal(str(round(r["value"], 2)))
        a[1] += 1
    got = {r["event_type"]: r for r in load_all()["timeseries_kalman_level"].fn(spark, SF001).collect()}
    for et, days in acc.items():
        vs = [float(s) / n for _, (s, n) in sorted(days.items())]
        l, p = vs[0], KALMAN_P0
        for x in vs[1:]:
            k = (p + KALMAN_Q) / (p + KALMAN_Q + KALMAN_R)
            l = l + k * (x - l)
            p = (1.0 - k) * (p + KALMAN_Q)
        r = got[et]
        assert r["n_days"] == len(vs)
        assert abs(r["level"] - l) < 1e-12, et
        assert abs(r["p_var"] - p) < 1e-15, et
        # the filter must have converged essentially to steady state:
        # gain satisfies k = (p+Q)/(p+Q+R) with p the fixed point
        k_next = (p + KALMAN_Q) / (p + KALMAN_Q + KALMAN_R)
        assert abs(r["gain_next"] - k_next) < 1e-15


def test_xcorr_matches_python(spark):
    from posting_lines_spark.queries import load_all

    epoch = datetime(1970, 1, 1)
    daily: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for r in _events(sf=SF001):
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


def test_turning_points_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from tests.conftest import SF0001

    daily = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        key = (r["event_type"], day)
        daily[key] = daily.get(key, 0) + 1
    series = {}
    for (et, day), c in daily.items():
        series.setdefault(et, []).append((day, c))
    got = {
        r["event_type"]: r
        for r in load_all()["timeseries_turning_points"].fn(spark, SF0001).collect()
    }
    for et, pts in series.items():
        pts.sort()
        cs = [c for _, c in pts]
        n = len(cs)
        t = sum(
            1
            for i in range(1, n - 1)
            if (cs[i] > cs[i - 1] and cs[i] > cs[i + 1])
            or (cs[i] < cs[i - 1] and cs[i] < cs[i + 1])
        )
        e = 2.0 * (n - 2) / 3.0
        v = (16.0 * n - 29.0) / 90.0
        row = got[et]
        assert row["n_days"] == n
        assert row["t_obs"] == t
        assert abs(row["z"] - (t - e) / v**0.5) < 1e-9


def test_variance_ratio_matches_python(spark):
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import VR_Q
    from tests.conftest import SF0001

    daily = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        key = (r["event_type"], day)
        daily[key] = daily.get(key, 0) + r["cents"]
    series = {}
    for (et, day), x in daily.items():
        series.setdefault(et, []).append((day, x))
    got = {
        r["event_type"]: r
        for r in load_all()["timeseries_variance_ratio"].fn(spark, SF0001).collect()
    }
    q = VR_Q
    for et, pts in series.items():
        pts.sort()
        xs = [x for _, x in pts]
        n = len(xs)
        mu = (xs[-1] - xs[0]) / (n - 1)
        d1 = [xs[i] - xs[i - 1] for i in range(1, n)]
        dq = [xs[i] - xs[i - q] for i in range(q, n)]
        var1 = sum((d - mu) ** 2 for d in d1) / len(d1)
        varq = sum((d - q * mu) ** 2 for d in dq) / (q * len(dq))
        vr = varq / var1
        z = (vr - 1.0) / (2.0 * (2 * q - 1) * (q - 1) / (3.0 * q * n)) ** 0.5
        row = got[et]
        assert row["n_days"] == n
        assert abs(row["vr"] - vr) < 1e-9
        assert abs(row["z"] - z) < 1e-9


def test_periodogram_matches_python(spark):
    """Replay the quadrant-reduced deterministic-trig periodogram with
    the dcos_py/dsin_py kernel mirrors."""
    import math

    from posting_lines_spark.functions.geo import dcos_py, dsin_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import PERIODOGRAM_PERIODS
    from tests.conftest import SF0001

    daily = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        key = (r["event_type"], day)
        daily[key] = daily.get(key, 0) + r["cents"]
    series = {}
    for (et, day), x in daily.items():
        series.setdefault(et, []).append((day, x))
    got = {
        (r["event_type"], r["period_days"]): (r["n_days"], r["power"])
        for r in load_all()["timeseries_periodogram"].fn(spark, SF0001).collect()
    }
    for et, pts in series.items():
        pts.sort()
        d0 = pts[0][0]
        n = len(pts)
        mu = sum(x for _, x in pts) / n
        for p in PERIODOGRAM_PERIODS:
            c = s = 0.0
            for day, x in pts:
                t = day - d0
                r_ = t % p
                q = (4 * r_) // p
                u = (math.pi / 2.0) * ((4 * r_ - q * p) / p)
                cu, su = dcos_py(u), dsin_py(u)
                cos_t = [cu, -su, -cu, su][q]
                sin_t = [su, cu, -su, -cu][q]
                # mirror the engine's scale-2 decimal routing per term
                c += round((x - mu) * cos_t, 2)
                s += round((x - mu) * sin_t, 2)
            power = (c * c + s * s) / n
            gn, gp = got[(et, p)]
            assert gn == n
            assert abs(gp - power) < max(1e-6, 1e-8 * abs(power))


def test_hurst_rs_matches_python(spark):
    """Replay R/S: exact integer W ranges, block std, quantized-ln
    points, s-ordered OLS slope — mirrors the kernel with dln_int_py."""
    from posting_lines_spark.functions.dmath import dln_int_py
    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import _HURST_Q, HURST_WINDOWS
    from tests.conftest import SF0001

    daily = {}
    for r in _events_rows():
        day = r["ts_us"] // 86_400_000_000
        key = (r["event_type"], day)
        daily[key] = daily.get(key, 0) + r["cents"]
    series = {}
    for (et, day), x in daily.items():
        series.setdefault(et, []).append((day, x))
    got = {
        r["event_type"]: (r["n_pts"], r["hurst"])
        for r in load_all()["timeseries_hurst_rs"].fn(spark, SF0001).collect()
    }
    for et, pts in series.items():
        pts.sort()
        xs = [x for _, x in pts]
        pts_ln = []
        for s in HURST_WINDOWS:
            rss = []
            for b0 in range(0, len(xs) - s + 1, s):
                blk = xs[b0 : b0 + s]
                if len(blk) < s:
                    continue
                sx = sum(blk)
                sxx = sum(v * v for v in blk)
                var = sxx / s - (sx / s) ** 2
                if var <= 0:
                    continue
                cum = 0
                ws = []
                for t, v in enumerate(blk, 1):
                    cum += v
                    ws.append(s * cum - t * sx)
                r_ = (max(ws) - min(ws)) / s
                rss.append(r_ / var**0.5)
            if not rss:
                continue
            # mirror dsum scale-6 quantization of the block mean
            rs_mean = sum(round(v, 6) for v in rss) / len(rss)
            if rs_mean <= 0:
                continue
            lq = int(rs_mean * _HURST_Q + 0.5)  # SQL round half-up
            pts_ln.append(
                (dln_int_py(s), dln_int_py(lq) - dln_int_py(_HURST_Q))
            )
        n = len(pts_ln)
        sx_ = sum(x for x, _ in pts_ln)
        sy = sum(y for _, y in pts_ln)
        sxy = sum(x * y for x, y in pts_ln)
        sxx_ = sum(x * x for x, _ in pts_ln)
        h = (n * sxy - sx_ * sy) / (n * sxx_ - sx_ * sx_)
        gn, gh = got[et]
        assert gn == n
        assert abs(gh - h) < 1e-6


def test_variance_ratio_short_series_drops_type(spark):
    """A type with fewer than q+1 days has no q-step diffs: BOTH
    engines drop it via the inner join, no error/NULL divergence."""
    import datetime

    import duckdb

    duck = duckdb.connect()

    from posting_lines_spark.queries.temporal_q import (
        VR_Q,
        _variance_ratio_sql,
    )

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for d in range(VR_Q + 3):  # long type: enough days
        rows.append(("long", base + datetime.timedelta(days=d), 10.0 + d))
    for d in range(2):  # short type: too few
        rows.append(("short", base + datetime.timedelta(days=d), 5.0))
    spark.createDataFrame(rows, "event_type string, ts timestamp, value double")\
        .createOrReplaceTempView("events")
    got_s = spark.sql(_variance_ratio_sql("unix_micros(ts)")).collect()
    duck.execute(
        "CREATE TABLE events(event_type VARCHAR, ts TIMESTAMP, value DOUBLE)"
    )
    duck.executemany("INSERT INTO events VALUES (?, ?, ?)", rows)
    got_d = duck.execute(_variance_ratio_sql("epoch_us(ts)")).fetchall()
    duck.close()
    assert [r["event_type"] for r in got_s] == ["long"]
    assert [r[0] for r in got_d] == ["long"]
    assert got_s[0]["vr"] == got_d[0][3]


def test_spectral_entropy_matches_python(spark):
    """Replay the 29-period deterministic-trig powers, the quantized-ln
    mass fractions, and H/ln m with the kernel Python mirrors."""
    import math

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


def test_engle_granger_matches_python(spark):
    """Replay both regressions with exact integer sums and the
    quantized-residual discipline."""
    from decimal import ROUND_HALF_UP, Decimal

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


# ---- ADVICE 3: spectral entropy constant-series explicit row ----

_US_PER_DAY = 86_400_000_000


def _specent_rows():
    """One constant daily series ('flat': same cents total every day →
    zero mean-removed power at every period) plus one varying series."""
    rows = []
    for d in range(12):
        rows.append(("flat", d * _US_PER_DAY + 3_600_000_000, 7.00))
        rows.append(("wave", d * _US_PER_DAY + 7_200_000_000, float(1 + (d % 4))))
    return rows


def test_spectral_entropy_constant_series_emits_explicit_null_row(spark):
    from posting_lines_spark.queries.temporal_q import _spectral_entropy_sql

    spark.createDataFrame(
        [(t, ts, v) for t, ts, v in _specent_rows()],
        "event_type string, ts_us long, value double",
    ).createOrReplaceTempView("events")
    got = {
        r["event_type"]: r
        for r in spark.sql(_spectral_entropy_sql("ts_us")).collect()
    }
    # the constant series no longer vanishes: explicit NULL-entropy row
    assert set(got) == {"flat", "wave"}
    assert got["flat"]["n_days"] == 12
    assert got["flat"]["h_raw"] is None
    assert got["flat"]["h_norm"] is None
    # the varying series keeps a real entropy in [0, ln m] normalized
    assert got["wave"]["h_raw"] is not None
    assert 0.0 < got["wave"]["h_norm"] <= 1.0


def test_spectral_entropy_constant_series_parity_with_duckdb(spark):
    from posting_lines_spark.queries.temporal_q import _spectral_entropy_sql

    rows = _specent_rows()
    spark.createDataFrame(
        rows, "event_type string, ts_us long, value double"
    ).createOrReplaceTempView("events")
    sdf = spark.sql(_spectral_entropy_sql("ts_us"))
    got = sdf.collect()

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE events (event_type VARCHAR, ts_us BIGINT, "
            "value DOUBLE)"
        )
        con.executemany("INSERT INTO events VALUES (?, ?, ?)", rows)
        res = con.execute(_spectral_entropy_sql("ts_us"))
        dcols = [d[0].lower() for d in res.description]
        want = res.fetchall()
    finally:
        con.close()
    assert _canon_rows(got, sdf.columns) == _canon_rows(want, dcols)


def test_spectral_entropy_registered_query_still_matches_oracle(spark, duck):
    from posting_lines_spark.queries import load_all

    q = load_all()["timeseries_spectral_entropy"]
    df = q.fn(spark, SF0001)
    res = duck.execute(q.oracle)
    dcols = [d[0].lower() for d in res.description]
    assert _canon_rows(df.collect(), df.columns) == _canon_rows(
        res.fetchall(), dcols
    )


def test_granger_matches_python(spark):
    from collections import defaultdict

    from posting_lines_spark.queries import load_all

    daily = defaultdict(int)
    for e in _events():
        if e["event_type"] in ("purchase", "click"):
            daily[(_us(e) // 86_400_000_000, e["event_type"])] += round(
                e["value"] * 100
            )
    days = sorted({d for d, _ in daily})
    trips = []
    for d in days:
        keys = [(d, "purchase"), (d - 1, "purchase"), (d - 1, "click")]
        if all(k in daily for k in keys):
            trips.append(tuple(daily[k] for k in keys))
    n = len(trips)
    sy = sum(t[0] for t in trips)
    sy1 = sum(t[1] for t in trips)
    sx1 = sum(t[2] for t in trips)
    cyy = float(n * sum(t[0] * t[0] for t in trips) - sy * sy)
    a11 = float(n * sum(t[1] * t[1] for t in trips) - sy1 * sy1)
    a22 = float(n * sum(t[2] * t[2] for t in trips) - sx1 * sx1)
    a12 = float(n * sum(t[1] * t[2] for t in trips) - sy1 * sx1)
    b1 = float(n * sum(t[0] * t[1] for t in trips) - sy * sy1)
    b2 = float(n * sum(t[0] * t[2] for t in trips) - sy * sx1)
    det = a11 * a22 - a12 * a12
    ssr_r = (cyy - b1 * b1 / a11) / n
    ssr_u = (cyy - (b1 * (a22 * b1 - a12 * b2) + b2 * (a11 * b2 - a12 * b1)) / det) / n
    f = (ssr_r - ssr_u) * (n - 3) / ssr_u
    (r,) = load_all()["timeseries_granger"].fn(spark, SF0001).collect()
    assert r["n_triples"] == n >= 10
    assert r["beta_y_lag"] == pytest.approx((a22 * b1 - a12 * b2) / det, rel=1e-9)
    assert r["beta_x_lag"] == pytest.approx((a11 * b2 - a12 * b1) / det, rel=1e-9)
    assert r["ssr_r"] == pytest.approx(ssr_r, rel=1e-9)
    assert r["ssr_u"] == pytest.approx(ssr_u, rel=1e-9)
    assert r["f_granger"] == pytest.approx(f, rel=1e-9)
    assert ssr_u < ssr_r  # adding a regressor can only reduce SSR


def test_newey_west_matches_python(spark):
    import math
    from collections import defaultdict

    from datetime import datetime

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.temporal_q import NW_LAGS

    ep = datetime(1970, 1, 1)
    daily = defaultdict(int)
    for e in _tbl("events"):
        if e["event_type"] == "purchase":
            d = int((e["ts"] - ep).total_seconds() * 1e6) // 86_400_000_000
            daily[d] += round(e["value"] * 100)
    days = sorted(daily)
    n = len(days)
    sy = sum(daily.values())
    # exact integer n^k-scaled centered sums, doubles only at the ratio
    g0 = float(n * sum(x * x for x in daily.values()) - sy * sy) / (n * n)
    lrv = g0
    for l in range(1, NW_LAGS + 1):
        pairs = [(daily[d], daily[d - l]) for d in days if (d - l) in daily]
        m = len(pairs)
        sl = sum(a * b for a, b in pairs)
        al = sum(a for a, _ in pairs)
        bl = sum(b for _, b in pairs)
        g = float(n * n * sl - n * sy * (al + bl) + m * sy * sy) / (n**3)
        lrv += 2.0 * (1.0 - l / (NW_LAGS + 1)) * g
    (r,) = load_all()["timeseries_newey_west"].fn(spark, SF0001).collect()
    assert r["n"] == n
    assert r["daily_mean"] == (sy / n) / 100.0
    assert r["gamma0"] == g0
    assert r["lrv"] == pytest.approx(lrv, rel=1e-12)
    assert r["se_nw"] == pytest.approx(math.sqrt(lrv / n) / 100.0, rel=1e-12)
    assert r["se_iid"] == math.sqrt(g0 / n) / 100.0
    assert r["nw_inflation"] == pytest.approx(math.sqrt(lrv / g0), rel=1e-12)
    # serial structure is real: the correction is not a no-op
    assert abs(r["nw_inflation"] - 1.0) > 1e-3


def test_seasonal_mk_matches_python(spark):
    from collections import defaultdict

    from posting_lines_spark.queries import load_all

    sums = defaultdict(list)
    for e in _tbl("events"):
        sums[(e["event_type"], _us(e) // 86_400_000_000)].append(e["value"])
    daily = {k: _dsum(v) / len(v) for k, v in sums.items()}
    by_ts = defaultdict(list)
    for (t, d), v in daily.items():
        by_ts[(t, d % 7)].append((d, v))
    stats = defaultdict(lambda: [0, 0, 0, set()])  # s, var18, n, seasons
    for (t, s_), dv in by_ts.items():
        dv.sort()
        vs = [v for _, v in dv]
        ns = len(vs)
        st = stats[t]
        for i in range(ns):
            for j in range(i + 1, ns):
                st[0] += (vs[j] > vs[i]) - (vs[j] < vs[i])
        ties = defaultdict(int)
        for v in vs:
            ties[v] += 1
        st[1] += ns * (ns - 1) * (2 * ns + 5) - sum(
            c * (c - 1) * (2 * c + 5) for c in ties.values() if c > 1
        )
        st[2] += ns
        st[3].add(s_)
    got = {r["event_type"]: r for r in load_all()["timeseries_seasonal_mann_kendall"].fn(spark, SF0001).collect()}
    assert set(got) == set(stats)
    import math

    for t, (s, v18, n, seasons) in stats.items():
        r = got[t]
        assert r["s_stat"] == s
        assert r["var18"] == v18
        assert r["n_days"] == n
        assert r["n_seasons"] == len(seasons) == 7
        cc = s - 1 if s > 0 else s + 1 if s < 0 else 0
        assert r["z_smk"] == cc / math.sqrt(v18 / 18.0)


def test_cusum_drift_matches_python(spark):
    import math
    from collections import defaultdict

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
