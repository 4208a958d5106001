"""Window-function tests (`queries/windows_q.py`): range frames and window
analytics replayed in plain Python.
"""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import _run, _tbl


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


# ---- window_analytics ----


def test_replay_window_analytics(spark):
    rows = [e for e in _tbl("events") if e["user_id"] < 20]
    by_type: dict[str, list] = defaultdict(list)
    for e in rows:
        by_type[e["event_type"]].append(e)
    got = _run(spark, "window_analytics")
    assert len(got) == len(rows) > 0
    for t, es in by_type.items():
        # ORDER BY (value, event_id) is a UNIQUE key within the
        # partition, so rank == row position: percent_rank = i/(n-1),
        # cume_dist = (i+1)/n, and ntile(4) gives the first (n mod 4)
        # buckets ceil(n/4) rows.
        es.sort(key=lambda e: (e["value"], e["event_id"]))
        n = len(es)
        got_t = {r["event_id"]: r for r in got if r["event_type"] == t}
        assert len(got_t) == n
        base, rem = divmod(n, 4)
        for i, e in enumerate(es):
            r = got_t[e["event_id"]]
            if i < (base + 1) * rem:
                tile = i // (base + 1) + 1
            else:
                tile = rem + (i - (base + 1) * rem) // base + 1
            assert r["quartile"] == tile
            assert r["pct_rank"] == (0.0 if n == 1 else i / (n - 1))
            assert r["cdist"] == (i + 1) / n
