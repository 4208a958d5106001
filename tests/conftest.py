from __future__ import annotations

import hashlib
import math
import os
import sys
from collections import defaultdict
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def row_key(row):
    """Sort key for comparing query rows as multisets: registry queries
    return unordered rows, so tests sort both sides. NULLs sort last
    and are never compared with a value."""
    return tuple((v is None, v) for v in row)


@pytest.fixture(scope="session")
def spark():
    from posting_lines_spark.session import get_spark

    s = get_spark(app="tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    from tools.check_oracle import duck_views

    con = duck_views(SF0001)
    yield con
    con.close()


# Replay helpers shared by the family test files. A replay recomputes a
# query's answer in plain Python over the same parquet, so these read
# the fixture tables directly and mirror the engine's decimal routing and
# md5-derived hashing; each family file imports what it uses.


def _tbl(name: str, sf=SF0001) -> list[dict]:
    return pq.read_table(f"{sf}/{name}.parquet").to_pylist()


def _events(cols=None, sf=SF0001) -> list[dict]:
    return pq.read_table(f"{sf}/events.parquet", columns=cols).to_pylist()


def _docs(sf=SF0001) -> list[dict]:
    return pq.read_table(f"{sf}/documents.parquet").to_pylist()


def _us(e) -> int:
    return int((e["ts"] - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _events_us():
    """(event_id, ts_us, user_id, event_type, value) with int64 micros."""
    t = pq.read_table(f"{SF0001}/events.parquet")
    ts_us = t.column("ts").cast("int64").to_pylist()
    rows = t.to_pylist()
    for r, us in zip(rows, ts_us):
        r["ts_us"] = us
    return rows


def _round_half_even(x):
    # SQL round() is half-away-from-zero on both engines for doubles?
    # No: Spark/DuckDB round(double) round HALF-EVEN per IEEE rint.
    # The cents domain in TESTDATA is exact 2-dp values, so the two
    # conventions cannot diverge; use Python round (half-even) which
    # matches for exact inputs.
    return int(round(x))


def _events_rows(sf=None):
    """Events with int64 `ts_us` and integer `cents` columns added."""
    t = pq.read_table(sf or (SF0001 + "/events.parquet"))
    us = t.column("ts").cast(pa.int64()).to_pylist()
    rows = t.to_pylist()
    for r, u in zip(rows, us):
        r["ts_us"] = u
        r["cents"] = _round_half_even(r["value"] * 100.0)
    return rows


def _scored_001():
    """(cents score, purchase label) per sf0.01 event."""
    return [
        (round(r["value"] * 100), 1 if r["event_type"] == "purchase" else 0)
        for r in pq.read_table(SF001 + "/events.parquet").to_pylist()
    ]


def _daily_cents():
    """Purchase cents per epoch day at sf0.001."""
    daily = defaultdict(int)
    for e in _events():
        if e["event_type"] == "purchase":
            daily[_us(e) // 86_400_000_000] += round(e["value"] * 100)
    return daily


def _daily_means_exact(rows):
    """Decimal-routed daily mean replay: 2-dp values sum exactly, so the
    engine's DECIMAL(38,6) route equals the exact rational mean."""
    acc: dict[tuple[str, int], list] = defaultdict(lambda: [Fraction(0), 0])
    for r in rows:
        day = math.floor((r["ts"].timestamp() * 1e6) / 86400000000.0)
        key = (r["event_type"], day)
        acc[key][0] += Fraction(round(r["value"] * 100), 100)
        acc[key][1] += 1
    series: dict[str, list] = defaultdict(list)
    for (et, day), (s, n) in acc.items():
        series[et].append((day, float(s) / n))
    return {et: [v for _, v in sorted(pts)] for et, pts in series.items()}


def _mw_groups(rows):
    from posting_lines_spark.queries.analytics_q import _MW_A, _MW_B

    a = sorted(r["cents"] for r in rows if r["event_type"] == _MW_A)
    b = sorted(r["cents"] for r in rows if r["event_type"] == _MW_B)
    return a, b


def _segments_py(li: dict) -> dict:
    """The segments row the fixture derives from one lineitem row."""
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


def _dsum(values, scale: int = 6) -> float:
    """Python twin of parity.dsum_expr: per-value quantization of the
    double's shortest decimal repr (Spark BigDecimal.valueOf semantics),
    exact decimal sum, str -> float final cast."""
    q = Decimal(1).scaleb(-scale)
    tot = Decimal(0)
    for v in values:
        tot += Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)
    return float(str(tot))


def _md5_int(s: str, salt: str | None = None, slot: int = 0) -> int:
    """The engine's md5 hash: 15 hex digits of md5(`salt|s`), from
    digest slot `slot`."""
    if salt is not None:
        s = f"{salt}|{s}"
    d = hashlib.md5(s.encode()).hexdigest()
    return int(d[slot * 15 : slot * 15 + 15], 16)


def _shingles(text: str, k: int = 3) -> set:
    toks = text.split(" ")
    if len(toks) < k:
        return set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _run(spark, name, sf=SF0001):
    """Collect a registered query's rows."""
    from posting_lines_spark.queries import load_all

    return load_all()[name].fn(spark, sf).collect()


def _canon_rows(rows, cols):
    from tools.check_oracle import rows_canon

    return rows_canon([tuple(r) for r in rows], [c.lower() for c in cols])


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
